"""Text analysis Column builders: normalization, tokenization, quality
metrics, language ID. Pure ``pyspark.sql.functions`` — no UDFs — with DuckDB
SQL twins for the oracle gate.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language function-word lists for the n-gram/stopword heuristic.
#: Scored as |distinct tokens ∩ stopwords| / |distinct tokens|; argmax wins
#: with alphabetical tiebreak, 'und' (undetermined) when every score is 0.
STOPWORDS: Dict[str, List[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "con", "por"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "dans", "que", "pour"],
    "zh": ["de", "shi", "bu", "le", "zai", "you", "wo", "ta", "men", "zhe"],
}


def normalize(text: Column) -> Column:
    """Lower-case, strip non-alphanumerics, collapse whitespace — the
    canonical form used by dedup/fingerprinting."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def normalize_sql(text: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({text}), '[^a-z0-9 ]', ' ', 'g'),"
        f" ' +', ' ', 'g'))"
    )


def tokens(text: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize(text), " ")


def tokens_sql(text: str) -> str:
    return f"string_split({normalize_sql(text)}, ' ')"


def whitespace_token_count(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """BPE-ish segmentation count: alpha runs, digit runs, and individual
    punctuation marks each count as one token."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def regex_token_count_sql(text: str) -> str:
    return f"len(regexp_extract_all({text}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]'))"


def quality_metrics(text: Column) -> Dict[str, Column]:
    """Length/punctuation/stopword-ratio style quality signals.

    All ratios are double divisions of exact integer counts → bit-identical
    across engines."""
    toks = tokens(text)
    n_chars = F.length(text)
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(text, "[^0-9]", ""))
    n_space = F.length(F.regexp_replace(text, "[^ ]", ""))
    n_punct = n_chars - n_alpha - n_digit - n_space
    en_stops = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stops))
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "n_distinct_words": n_distinct.cast("long"),
        "type_token_ratio": n_distinct.cast("double") / n_words.cast("double"),
        "avg_word_len": (n_chars - n_space).cast("double") / n_words.cast("double"),
        # n_words is always ≥1 (splitting "" yields [""]), but n_chars is 0
        # for the empty document — NULL, not an ANSI DIVIDE_BY_ZERO crash
        "punct_ratio": F.when(
            n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
        ),
        "stopword_hits": n_stop.cast("long"),
    }


def quality_metrics_sql(text: str) -> Dict[str, str]:
    toks = tokens_sql(text)
    stops = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    n_chars = f"len({text})"
    n_space = f"len(regexp_replace({text}, '[^ ]', '', 'g'))"
    return {
        "n_chars": f"{n_chars}::BIGINT",
        "n_words": f"len({toks})::BIGINT",
        "n_distinct_words": f"len(list_distinct({toks}))::BIGINT",
        "type_token_ratio": f"(len(list_distinct({toks}))::DOUBLE / len({toks})::DOUBLE)",
        "avg_word_len": f"(({n_chars} - {n_space})::DOUBLE / len({toks})::DOUBLE)",
        "punct_ratio": (
            f"(CASE WHEN {n_chars} > 0 THEN "
            f"({n_chars} - len(regexp_replace({text}, '[^A-Za-z]', '', 'g'))"
            f" - len(regexp_replace({text}, '[^0-9]', '', 'g'))"
            f" - {n_space})::DOUBLE / {n_chars}::DOUBLE END)"
        ),
        "stopword_hits": f"len(list_intersect(list_distinct({toks}), {stops}))::BIGINT",
    }


def language_scores(text: Column) -> Dict[str, Column]:
    """Per-language stopword-hit fraction over distinct tokens."""
    distinct_toks = F.array_distinct(tokens(text))
    out = {}
    for lang, words in STOPWORDS.items():
        stops = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.array_intersect(distinct_toks, stops)).cast(
            "double"
        ) / F.size(distinct_toks).cast("double")
    return out


def language_id(text: Column) -> Column:
    """argmax language with alphabetical tiebreak; 'und' when all scores 0."""
    scores = language_scores(text)
    best = F.lit("und")
    best_score = F.lit(0.0)
    for lang in sorted(STOPWORDS, reverse=True):
        # iterate reversed-alphabetically with >= so the alphabetically first
        # language wins ties
        s = scores[lang]
        cond = s >= best_score
        take = cond & (s > 0)
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def language_id_sql(text: str) -> str:
    toks = f"list_distinct({tokens_sql(text)})"
    score = {
        lang: (
            f"(len(list_intersect({toks}, ["
            + ", ".join(f"'{w}'" for w in words)
            + f"]))::DOUBLE / len({toks})::DOUBLE)"
        )
        for lang, words in STOPWORDS.items()
    }
    # same reversed-alphabetical fold as language_id()
    expr_best, expr_score = "'und'", "0.0::DOUBLE"
    for lang in sorted(STOPWORDS, reverse=True):
        s = score[lang]
        expr_best = (
            f"CASE WHEN {s} >= {expr_score} AND {s} > 0 THEN '{lang}' ELSE {expr_best} END"
        )
        expr_score = f"CASE WHEN {s} >= {expr_score} THEN {s} ELSE {expr_score} END"
    return expr_best


# --- Unicode normalization -------------------------------------------------
# The one Arrow-batched exception to this module's no-UDF rule: Spark has no
# built-in Unicode normalizer (java.text.Normalizer is not exposed as a SQL
# function), so NFC composition runs as a pandas_udf. Everything around it
# (case mapping, whitespace collapse) stays JVM-side.

_NFC_ARROW = None


def _nfc_batch(s):
    """pandas Series[str] -> Series[str]: Unicode NFC (canonical
    composition). NULL-safe: None passes through."""
    import unicodedata

    return s.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


def nfc(text: Column) -> Column:
    """Unicode NFC normalization as an Arrow-batched column.

    Python's ``unicodedata.normalize("NFC", ...)`` and DuckDB's
    ``nfc_normalize`` both implement UAX #15 canonical composition, so the
    twins agree byte-for-byte (pinned by the ``normalize_corpus`` oracle,
    which plants decomposed sequences). Scale shape: narrow projection, no
    shuffle; Arrow batch transfer only for the string column itself."""
    global _NFC_ARROW
    if _NFC_ARROW is None:
        from pyspark.sql.functions import pandas_udf

        _NFC_ARROW = pandas_udf(_nfc_batch, "string")
    return _NFC_ARROW(text)


#: explicit ASCII whitespace class — Java regex ``\s`` and RE2 ``\s`` differ
#: at the edges (``\x0B``), so both engines get the same literal class.
_WS_CLASS = "[ \\t\\n\\r\\f]+"


def unicode_clean(text: Column) -> Column:
    """Corpus-cleaning normal form: NFC -> lower -> collapse ASCII
    whitespace -> trim. Unlike :func:`normalize` (the lossy ASCII-only
    hashing form), this keeps every word character — accents, CJK,
    fullwidth — and only canonicalizes representation. NULL passes
    through."""
    t = F.lower(nfc(text))
    t = F.regexp_replace(t, _WS_CLASS, " ")
    return F.trim(t)


def unicode_clean_sql(text: str) -> str:
    return (
        f"trim(regexp_replace(lower(nfc_normalize({text})),"
        f" '{_WS_CLASS}', ' ', 'g'))"
    )
