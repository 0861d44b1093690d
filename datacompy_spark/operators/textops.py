"""Document-level text analysis operators over the ``documents`` table shape:
quality statistics, language ID, token counting, content fingerprinting.
Thin DataFrame wrappers around ``datacompy_spark.functions.text`` /
``hashing`` Column builders — one narrow projection each, no shuffles.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacompy_spark.functions.hashing import char_ngrams
from datacompy_spark.functions.text import (
    _WS_CLASS,
    language_id,
    normalize,
    quality_metrics,
    regex_token_count,
    tokens,
    whitespace_token_count,
)
from datacompy_spark.plans.cache import tracked_persist


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality statistics (length, lexical diversity,
    punctuation, stopword hits)."""
    metrics = quality_metrics(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[expr.alias(name) for name, expr in metrics.items()],
    )


def detect_language(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-heuristic language ID: (doc_id, lang_pred)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        language_id(F.col(text_col)).alias("lang_pred"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace vs regex (BPE-ish) token counts per document."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        whitespace_token_count(F.col(text_col)).cast("long").alias("ws_tokens"),
        regex_token_count(F.col(text_col)).cast("long").alias("re_tokens"),
    )


def word_frequencies(
    df: DataFrame, text_col: str, salt_buckets: int = 0
) -> DataFrame:
    """Corpus word frequencies: explode tokens → count per word.

    ``salt_buckets > 0`` demonstrates explicit two-stage salted aggregation
    for pathological key skew: count per (word, salt) first, then sum per
    word — the hot key's rows spread over ``salt_buckets`` reducers in
    stage 1. (Spark's map-side partial aggregation already covers ordinary
    skew; explicit salting is for when a single key exceeds one reducer's
    budget even after partial agg.) Results are identical either way."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word")).filter(
        F.col("word") != ""
    )
    if salt_buckets > 0:
        # the salt must be independent of the key (that's what spreads a hot
        # key across reducers) — a per-row ordinal works and stays deterministic
        return (
            words.withColumn(
                "__salt", F.monotonically_increasing_id() % F.lit(salt_buckets)
            )
            .groupBy("word", "__salt")
            .agg(F.count(F.lit(1)).alias("n_partial"))
            .groupBy("word")
            .agg(F.sum("n_partial").alias("n"))
        )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


#: (label, pattern) redaction rules, applied in order. Patterns stay inside
#: the regex subset Java (Spark) and RE2 (DuckDB) evaluate identically.
PII_PATTERNS = [
    ("<URL>", r"https?://[^ ]+"),
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("<PHONE>", r"\+?\d{7,15}"),
]


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact URLs / emails / IPv4s / phone-number digit runs with typed
    placeholder tokens — the standard pre-training scrub pass. Rules apply
    sequentially (URLs first so their embedded host/userinfo never
    half-matches a later rule); ``n_redactions`` counts matches of each rule
    against the text as that rule saw it. Pure Column expressions; the
    DuckDB twin nests the same regexp_replace chain."""
    stages = [F.col(text_col)]
    for token, pat in PII_PATTERNS:
        stages.append(F.regexp_replace(stages[-1], pat, token))
    n_red = None
    for (token, pat), src in zip(PII_PATTERNS, stages):
        cnt = F.regexp_count(src, F.lit(pat))
        n_red = cnt if n_red is None else n_red + cnt
    return df.select(
        F.col(id_col).alias("doc_id"),
        stages[-1].alias("clean_text"),
        n_red.cast("long").alias("n_redactions"),
    )


def scrub_pii_sql(text: str) -> Dict[str, str]:
    """DuckDB twins for the scrub stages: {'clean_text': ..., 'n_redactions': ...}."""
    stages = [text]
    for token, pat in PII_PATTERNS:
        stages.append(f"regexp_replace({stages[-1]}, '{pat}', '{token}', 'g')")
    counts = [
        f"len(regexp_extract_all({src}, '{pat}'))"
        for (token, pat), src in zip(PII_PATTERNS, stages)
    ]
    return {
        "clean_text": stages[-1],
        "n_redactions": "(" + " + ".join(counts) + ")::BIGINT",
    }


#: (reason, threshold description) — the rule order fixes the reasons string
QUALITY_RULES = "too_few_words,low_diversity,high_punct,word_len_out_of_range"


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    min_type_token_ratio: float = 0.2,
    max_punct_ratio: float = 0.3,
    word_len_range: tuple = (2.0, 12.0),
) -> DataFrame:
    """Keep/drop verdict per document from the quality statistics, with a
    deterministic comma-joined ``reasons`` string naming every failed rule
    (empty string = keep). The thresholds mirror common pre-training
    heuristic filters (length, lexical diversity, punctuation density,
    gibberish word lengths)."""
    m = quality_metrics(F.col(text_col))
    lo, hi = word_len_range
    reasons = F.concat_ws(
        ",",
        F.when(m["n_words"] < min_words, F.lit("too_few_words")),
        F.when(m["type_token_ratio"] < min_type_token_ratio, F.lit("low_diversity")),
        F.when(m["punct_ratio"] > max_punct_ratio, F.lit("high_punct")),
        F.when(
            (m["avg_word_len"] < lo) | (m["avg_word_len"] > hi),
            F.lit("word_len_out_of_range"),
        ),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        reasons.alias("reasons"),
    ).select("doc_id", (F.col("reasons") == "").alias("keep"), "reasons")


def quality_filter_sql(
    text: str,
    min_words: int = 5,
    min_type_token_ratio: float = 0.2,
    max_punct_ratio: float = 0.3,
    word_len_range: tuple = (2.0, 12.0),
) -> Dict[str, str]:
    from datacompy_spark.functions.text import quality_metrics_sql

    m = quality_metrics_sql(text)
    lo, hi = word_len_range
    reasons = (
        "concat_ws(',', "
        f"CASE WHEN {m['n_words']} < {min_words} THEN 'too_few_words' END, "
        f"CASE WHEN {m['type_token_ratio']} < {min_type_token_ratio}::DOUBLE THEN 'low_diversity' END, "
        f"CASE WHEN {m['punct_ratio']} > {max_punct_ratio}::DOUBLE THEN 'high_punct' END, "
        f"CASE WHEN {m['avg_word_len']} < {lo}::DOUBLE OR {m['avg_word_len']} > {hi}::DOUBLE "
        "THEN 'word_len_out_of_range' END)"
    )
    return {"reasons": reasons, "keep": f"({reasons} = '')"}


#: Gopher's repetition/quality stopword list (Rae et al. 2021, §A1.1.2):
#: a document must contain at least 2 of these to pass the stopword rule.
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100000,
    word_len_range: tuple = (3.0, 10.0),
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher rule bundle (Rae et al. 2021 §A1.1.2 — the heuristic
    filter set Dolma/FineWeb descend from), distinct from
    :func:`quality_filter`'s generic length/diversity rules: word-count
    window, mean-word-length window, symbol-to-word ratio (``#`` and
    ``...``), fraction of words containing an alphabetic character,
    bullet-started and ellipsis-ended line fractions, and the 8-word
    stopword floor.

    Returns one row per document with every metric, a ``keep`` verdict,
    and the deterministic comma-joined ``reasons`` string naming each
    failed rule. Every ratio is ONE double division of exact integer
    counts (bit-identical cross-engine); a zero-exchange narrow
    projection — at 100 TB this is scan-bound and pipelines into the
    filter that follows."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    # mean word length over the TOKENS (the Gopher rule is about words):
    # normalized text is tokens joined by single spaces, so the token-char
    # total is its length minus the n_words-1 separators. A raw-character
    # numerator would count newlines/punctuation as word mass and push
    # line-broken docs over the ceiling.
    mean_wl = (
        F.length(normalize(F.col(text_col))) - n_words + 1
    ).cast("double") / n_words.cast("double")
    n_hash = n_chars - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit("")))
    n_ell = (
        n_chars - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ell).cast("double") / n_words.cast("double")
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_frac = n_alpha_words.cast("double") / n_words.cast("double")
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda ln: ln.startswith("- ") | ln.startswith("* "))
    )
    n_ell_end = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    bullet_frac = n_bullet.cast("double") / n_lines.cast("double")
    ell_frac = n_ell_end.cast("double") / n_lines.cast("double")
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stops))
    lo, hi = word_len_range
    reasons = F.concat_ws(
        ",",
        F.when((n_words < min_words) | (n_words > max_words), F.lit("word_count")),
        F.when(
            (mean_wl < F.lit(float(lo))) | (mean_wl > F.lit(float(hi))),
            F.lit("mean_word_len"),
        ),
        F.when(symbol_ratio > F.lit(float(max_symbol_ratio)), F.lit("symbol_ratio")),
        F.when(alpha_frac < F.lit(float(min_alpha_word_frac)), F.lit("alpha_words")),
        F.when(bullet_frac > F.lit(float(max_bullet_line_frac)), F.lit("bullet_lines")),
        F.when(ell_frac > F.lit(float(max_ellipsis_line_frac)), F.lit("ellipsis_lines")),
        F.when(stop_hits < min_stop_hits, F.lit("stopwords")),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_word_frac"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        reasons.alias("reasons"),
    ).select("*", (F.col("reasons") == "").alias("keep"))


def gopher_quality_sql(
    text: str,
    min_words: int = 50,
    max_words: int = 100000,
    word_len_range: tuple = (3.0, 10.0),
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_stop_hits: int = 2,
) -> Dict[str, str]:
    """DuckDB twin of :func:`gopher_quality` (same counts, same single
    double division per ratio, same rule order in ``reasons``)."""
    from datacompy_spark.functions.text import normalize_sql, tokens_sql

    toks = tokens_sql(text)
    n_words = f"len({toks})"
    n_chars = f"len({text})"
    mean_wl = (
        f"((len({normalize_sql(text)}) - {n_words} + 1)::DOUBLE"
        f" / {n_words}::DOUBLE)"
    )
    n_hash = f"({n_chars} - len(replace({text}, '#', '')))"
    n_ell = f"(({n_chars} - len(replace({text}, '...', ''))) // 3)"
    symbol_ratio = f"(({n_hash} + {n_ell})::DOUBLE / {n_words}::DOUBLE)"
    alpha_words = f"len(list_filter({toks}, t -> regexp_matches(t, '[a-z]')))"
    alpha_frac = f"({alpha_words}::DOUBLE / {n_words}::DOUBLE)"
    lines = f"string_split({text}, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = (
        f"len(list_filter({lines}, l -> starts_with(l, '- ')"
        f" OR starts_with(l, '* ')))"
    )
    n_ell_end = f"len(list_filter({lines}, l -> ends_with(l, '...')))"
    bullet_frac = f"({n_bullet}::DOUBLE / {n_lines}::DOUBLE)"
    ell_frac = f"({n_ell_end}::DOUBLE / {n_lines}::DOUBLE)"
    stops = "[" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + "]"
    stop_hits = f"len(list_intersect(list_distinct({toks}), {stops}))"
    lo, hi = word_len_range
    reasons = (
        "concat_ws(',', "
        f"CASE WHEN {n_words} < {min_words} OR {n_words} > {max_words} THEN 'word_count' END, "
        f"CASE WHEN {mean_wl} < {float(lo)}::DOUBLE OR {mean_wl} > {float(hi)}::DOUBLE THEN 'mean_word_len' END, "
        f"CASE WHEN {symbol_ratio} > {float(max_symbol_ratio)}::DOUBLE THEN 'symbol_ratio' END, "
        f"CASE WHEN {alpha_frac} < {float(min_alpha_word_frac)}::DOUBLE THEN 'alpha_words' END, "
        f"CASE WHEN {bullet_frac} > {float(max_bullet_line_frac)}::DOUBLE THEN 'bullet_lines' END, "
        f"CASE WHEN {ell_frac} > {float(max_ellipsis_line_frac)}::DOUBLE THEN 'ellipsis_lines' END, "
        f"CASE WHEN {stop_hits} < {min_stop_hits} THEN 'stopwords' END)"
    )
    return {
        "n_words": f"{n_words}::BIGINT",
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "alpha_word_frac": alpha_frac,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ell_frac,
        "stop_hits": f"{stop_hits}::BIGINT",
        "reasons": reasons,
        "keep": f"({reasons} = '')",
    }


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    seed: str = "split#1",
) -> DataFrame:
    """Deterministic train/val/test assignment: md5 of the id (+seed) mod
    100 → stable, engine-independent, order-independent splits — the
    property a distributed pipeline needs so re-runs, backfills, and other
    engines agree on membership without coordination. No shuffle: one
    narrow projection."""
    from datacompy_spark.functions.hashing import md5_long

    bucket = md5_long(F.col(id_col).cast("string"), seed) % 100
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def shard_corpus(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "shard#1",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training order:
    ``(doc_id, shard, pos)`` where ``shard`` is an md5 bucket of the id and
    ``pos`` is the document's 1-based position within its shard under a
    SECOND independent md5 ordering (id as tiebreak). Training pipelines
    need the corpus order randomized but reproducible — re-runs, other
    engines, and resumed jobs must agree on exactly which document is
    sample #k of shard #s without coordination; an RNG-based shuffle can't
    promise that, a pure hash function can.

    Scale shape: ONE shuffle, partitioned by shard and sorted by the order
    hash — precisely the physical work a shard writer performs, so the
    plan feeds ``df.repartition(n_shards, 'shard')`` +
    ``sortWithinPartitions('pos')`` + ``write.partitionBy('shard')`` with
    no further exchanges. The md5 order key is uniform, so shards are
    balanced (±binomial noise) regardless of id distribution; no skew
    handling needed."""
    from pyspark.sql import Window

    from datacompy_spark.functions.hashing import md5_long

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    sid = F.col(id_col).cast("string")
    shard = F.pmod(md5_long(sid, seed), F.lit(n_shards)).cast("int")
    order = md5_long(sid, f"{seed}|order")
    w = Window.partitionBy("shard").orderBy("__ord", "doc_id")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            shard.alias("shard"),
            order.alias("__ord"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


def shard_corpus_sql(
    table: str, id_col: str, n_shards: int, seed: str = "shard#1"
) -> str:
    """DuckDB twin of :func:`shard_corpus`."""
    from datacompy_spark.functions.hashing import md5_long_sql

    sid = f"{id_col}::VARCHAR"
    shard = f"(({md5_long_sql(sid, seed)}) % {n_shards})::INT"
    order = md5_long_sql(sid, f"{seed}|order")
    return f"""
WITH assigned AS (
  SELECT {id_col} AS doc_id, {shard} AS shard, {order} AS __ord
  FROM {table})
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY __ord, doc_id)::INT AS pos
FROM assigned"""


def normalize_corpus(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Unicode corpus cleaning: NFC composition -> lowercase -> ASCII
    whitespace collapse -> trim, as ``out_col`` alongside the original.

    The representation-canonicalizing step of an ingest pipeline (mojibake
    from mixed encoders, decomposed accents from macOS filenames, fullwidth
    forms from CJK sources all collapse to one spelling) — unlike
    ``normalize`` (the lossy ASCII hashing form) no word character is
    dropped. Scale shape: one narrow projection, no shuffle; the only
    Python stage is the Arrow-batched NFC batch (Spark has no built-in
    Unicode normalizer). Cross-engine caveat: special case mappings where
    Java and utf8proc disagree (Turkish dotted I) are NOT canonicalized
    identically by every engine; the oracle plants only agreeing
    sequences."""
    from datacompy_spark.functions.text import unicode_clean

    return df.withColumn(out_col, unicode_clean(F.col(text_col)))


def normalize_corpus_sql(
    table: str, text_col: str = "text", out_col: str = "norm_text"
) -> str:
    """DuckDB twin of :func:`normalize_corpus` (projection form)."""
    from datacompy_spark.functions.text import unicode_clean_sql

    return (
        f"SELECT *, {unicode_clean_sql(text_col)} AS {out_col} FROM {table}"
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    seed: str = "split#1",
) -> DataFrame:
    """Dedup-aware train/val/test assignment: every exact-content duplicate
    group receives ONE split decision, keyed by the group's smallest id, so
    identical documents can never straddle train and test (the eval-leakage
    failure mode a naive per-row ``hash_split`` has by construction).

    Mechanics: content hash of the normalized text (NULL text folds into a
    sentinel group — NULL rows never silently vanish), group representative
    = ``min(id)`` over that hash, then the same engine-independent md5
    lottery as ``hash_split`` applied to the REPRESENTATIVE. Scale shape:
    one shuffle (window over content hash — the same partitioning an exact
    dedup already pays), then narrow projections; no join, no second pass.
    Output: ``doc_id, content_hash, group_rep, split``."""
    from pyspark.sql import Window

    from datacompy_spark.functions.hashing import md5_long

    chash = F.md5(
        F.coalesce(normalize(F.col(text_col)), F.lit("\x00null"))
    )
    w = Window.partitionBy("content_hash")
    rep = F.min("doc_id").over(w)
    bucket = md5_long(rep.cast("string"), seed) % 100
    return (
        df.select(F.col(id_col).alias("doc_id"), chash.alias("content_hash"))
        .select(
            "doc_id",
            "content_hash",
            rep.alias("group_rep"),
            F.when(bucket < train_pct, F.lit("train"))
            .when(bucket < train_pct + val_pct, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


def split_by_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    seed: str = "split#1",
) -> DataFrame:
    """Group-aware train/val/test assignment: ONE md5-lottery decision per
    ``group_col`` value, so every member of a group lands in the same
    split. The generic core under :func:`leakage_safe_split` (exact-content
    groups) — hand it a NEAR-dup component label instead and fuzzy
    duplicates stop straddling train/test too. Narrow projection, no
    shuffle: the lottery is a pure function of the group value."""
    from datacompy_spark.functions.hashing import md5_long

    bucket = md5_long(F.col(group_col).cast("string"), seed) % 100
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col),
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def split_by_group_sql(
    table: str,
    id_col: str,
    group_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    seed: str = "split#1",
) -> str:
    """DuckDB twin of :func:`split_by_group`."""
    from datacompy_spark.functions.hashing import md5_long_sql

    bucket = f"(({md5_long_sql(f'{group_col}::VARCHAR', seed)}) % 100)"
    return f"""
SELECT {id_col} AS doc_id, {group_col},
       CASE WHEN {bucket} < {train_pct} THEN 'train'
            WHEN {bucket} < {train_pct + val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM {table}"""


def leakage_safe_split_sql(
    table: str,
    id_col: str,
    text_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    seed: str = "split#1",
) -> str:
    """DuckDB twin of :func:`leakage_safe_split`."""
    from datacompy_spark.functions.hashing import md5_long_sql
    from datacompy_spark.functions.text import normalize_sql

    chash = f"md5(coalesce({normalize_sql(text_col)}, chr(0) || 'null'))"
    bucket = f"(({md5_long_sql('group_rep::VARCHAR', seed)}) % 100)"
    return f"""
WITH hashed AS (
  SELECT {id_col} AS doc_id, {chash} AS content_hash FROM {table}),
grouped AS (
  SELECT doc_id, content_hash,
         min(doc_id) OVER (PARTITION BY content_hash) AS group_rep
  FROM hashed)
SELECT doc_id, content_hash, group_rep,
       CASE WHEN {bucket} < {train_pct} THEN 'train'
            WHEN {bucket} < {train_pct + val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM grouped"""


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    token_budget: int = 512,
) -> DataFrame:
    """Streaming sequence packing: documents fill fixed token-budget bins in
    id order within each group (e.g. source shard) — ``bin_id`` is the bin
    holding the document's FIRST token, computed from a running token sum,
    so packing is one pass (no iterative bin search) and documents may
    straddle a bin boundary (soft budget, the common pre-training batching
    trade-off).

    The running sum is a DISTRIBUTED two-phase prefix sum, not a per-group
    window: a ``Window.partitionBy(grp)`` running sum would serialize each
    group onto one task, and a pre-training corpus routinely has one source
    shard holding billions of documents. Instead:

    1. range-partition by ``(grp, doc_id)`` — a hot group spans many
       partitions, but partition order still follows doc_id order;
    2. aggregate per-(grp, partition) token subtotals (tiny: at most
       groups x partitions rows);
    3. turn subtotals into per-partition starting offsets with a window over
       that TINY frame (partitioned by grp, ordered by partition id);
    4. broadcast the offsets back and finish with a partition-local running
       sum — the cumulative window now partitions by (grp, partition id), so
       no task ever scans more than one range partition.

    The range-partitioned frame passes through a lineage barrier because it
    is referenced by both the subtotal aggregate and the final projection:
    range bounds are sampled and ``spark_partition_id`` is physical, so the
    two branches must read the SAME materialized partitioning."""
    from datacompy_spark.plans.partitioning import distributed_prefix_sum

    n_tok = whitespace_token_count(F.col(text_col)).cast("long")
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        n_tok.alias("n_tokens"),
    )
    cum = distributed_prefix_sum(
        staged,
        order_cols=["doc_id"],
        sum_cols=["n_tokens"],
        group_cols=["grp"],
    ).result
    return cum.select(
        "doc_id",
        "grp",
        "n_tokens",
        # exclusive running total: the bin a document STARTS in
        F.floor(
            (F.col("n_tokens_cum") - F.col("n_tokens")) / F.lit(token_budget)
        )
        .cast("long")
        .alias("bin_id"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, ngram: int = 5) -> DataFrame:
    """Content fingerprints: full-text md5, winnowing-style minimum
    character-n-gram hash, and a 60-bit simhash — the three standard handles
    for exact, fuzzy-substring, and fuzzy-bag matching.

    Staged projections: ``normalize`` and the token hashes become real
    columns so their regex/md5 work runs once per document, not once per
    n-gram/bit (lambda bodies are outside Spark's subexpression elimination)."""
    from datacompy_spark.functions.hashing import simhash_from_hashes, token_hashes
    from datacompy_spark.plans.partitioning import fan_out

    staged = fan_out(
        df.select(
            F.col(id_col).alias("doc_id"),
            normalize(F.col(text_col)).alias("norm"),
        )
    ).select(
        "doc_id",
        "norm",
        token_hashes(F.split(F.col("norm"), " ")).alias("thash"),
    )
    return staged.select(
        "doc_id",
        F.md5(F.col("norm")).alias("content_md5"),
        F.array_min(
            F.transform(char_ngrams(F.col("norm"), ngram), lambda g: F.md5(g))
        ).alias("min_ngram_md5"),
        simhash_from_hashes(F.col("thash")).alias("simhash"),
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al. 2021,
    "Scaling Language Models", Table A1): the fraction of content attributable
    to the most frequent word / word-bigram, and the fraction of word-trigrams
    that are duplicated. High values flag boilerplate and degenerate text that
    pre-training filters drop.

    Shape: ONE scan — each document's three gram arrays are built from a
    single staged token array and stacked as (n, grams) structs, so the
    corpus is read and tokenized once (a 3-way union of per-size selects
    would triple the 100 TB scan). Then two partial-aggregating
    ``groupBy``s keyed on (doc_id[, n, gram]) — map-side combine keeps the
    shuffle proportional to DISTINCT grams per document, and no
    per-document state ever leaves the executors. (A per-doc
    higher-order-function frequency count would avoid the shuffle but runs
    interpreted, outside codegen — the explode/agg shape is faster AND
    scale-safe.)"""
    from datacompy_spark.functions.hashing import word_shingles
    from datacompy_spark.plans.partitioning import fan_out

    staged = fan_out(
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
    )
    tagged = staged.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("n"),
                        word_shingles(F.col("toks"), n).alias("grams"),
                    )
                    for n in (1, 2, 3)
                ]
            )
        ).alias("sized"),
    ).select("doc_id", F.col("sized.n").alias("n"), F.explode("sized.grams").alias("gram"))
    per_size = (
        tagged.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n")
        .agg(
            F.sum("c").alias("total"),
            F.max("c").alias("top"),
            F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)).alias("dup"),
        )
    )
    frac = lambda a, b: (a.cast("double") / b.cast("double"))  # noqa: E731
    return per_size.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, frac(F.col("top"), F.col("total")))).alias(
            "top_word_frac"
        ),
        F.max(F.when(F.col("n") == 2, frac(F.col("top"), F.col("total")))).alias(
            "top_bigram_frac"
        ),
        F.max(F.when(F.col("n") == 3, frac(F.col("dup"), F.col("total")))).alias(
            "dup_trigram_frac"
        ),
    )


def repetition_metrics_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`repetition_metrics` (same gram definitions)."""
    from datacompy_spark.functions.hashing import word_shingles_sql
    from datacompy_spark.functions.text import tokens_sql

    toks = tokens_sql(text_col)
    unions = "\nUNION ALL ".join(
        f"SELECT {id_col} AS doc_id, {n} AS n,"
        f" unnest({word_shingles_sql('toks', n)}) AS gram FROM toks"
        for n in (1, 2, 3)
    )
    return f"""
WITH toks AS (SELECT {id_col}, {toks} AS toks FROM {table}),
grams AS ({unions}),
freq AS (SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY doc_id, n, gram),
per AS (
  SELECT doc_id, n, sum(c) AS total, max(c) AS top,
    coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup
  FROM freq GROUP BY doc_id, n)
SELECT doc_id,
  max(CASE WHEN n = 1 THEN top::DOUBLE / total::DOUBLE END) AS top_word_frac,
  max(CASE WHEN n = 2 THEN top::DOUBLE / total::DOUBLE END) AS top_bigram_frac,
  max(CASE WHEN n = 3 THEN dup::DOUBLE / total::DOUBLE END) AS dup_trigram_frac
FROM per GROUP BY doc_id"""


def ngram_duplication_profile(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """CROSS-document n-gram duplication — per document, how much of it is
    boilerplate shared with OTHER documents: the duplicated-n-gram-fraction
    quality signal web-corpus pipelines (C4/RefinedWeb style) filter on.
    Within-document repetition is :func:`repetition_metrics`; this operator
    answers the complementary question (navigation chrome, license
    headers, templated pages — text that repeats ACROSS the corpus).

    Per document: its DISTINCT word ``n``-grams; a gram is "duplicated" if
    at least one other document contains it too. Output
    ``(doc_id, n_grams, n_dup_grams, dup_frac)`` — ``dup_frac`` NULL when
    the document produced no grams (NULL text), 0-gram docs are retained.

    Scale shape: gram frequencies via groupBy + join, NOT a per-gram
    window — groupBy gets map-side partial aggregation and AQE skew
    handling, while a window must sort every instance of a hot gram (a
    corpus-wide boilerplate phrase can appear in 10⁸ documents) into one
    task. Exchange inventory (per PLANS.md): one gram shuffle feeding the
    frequency aggregate (volume reduced by its partial agg), one gram
    shuffle of the full grams relation into the join (separate subtrees —
    the partial aggregate sits between them, so ReuseExchange cannot
    merge these two), and one doc_id shuffle for the per-doc fold; the
    doc-id spine join broadcasts at small scale. Documents shorter than
    ``n`` tokens collapse to one
    whole-document shingle (consistent with every other shingle consumer
    here), so near-empty boilerplate documents still count each other as
    duplicates."""
    from datacompy_spark.functions.hashing import word_shingles

    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("__toks"), n))
        ).alias("gram"),
    )
    # NOT barriered (r14 A/B): `grams` does feed two consumers, but it is the
    # PRE-aggregate exploded frame — materializing it (checkpoint write+read
    # of every (doc_id, gram) pair) measured ~25% slower than re-deriving the
    # narrow tokenize+shingle projection per consumer. Contrast tfidf, where
    # the shared frame is the POST-aggregate (doc, term, tf) table and the
    # barrier wins. Barrier small frames, recompute big ones.
    gf = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__nd"))
    per = (
        grams.join(gf, "gram")  # NULL grams (NULL text) drop here, both engines
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum(F.when(F.col("__nd") > 1, F.lit(1))), F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double"),
        ).alias("dup_frac"),
    )


def ngram_duplication_profile_sql(
    table: str, id_col: str, text_col: str, n: int = 5
) -> str:
    """DuckDB twin of :func:`ngram_duplication_profile` (same gram
    definition, same NULL-text handling: NULL grams fall out of the join
    in both engines, leaving n_grams=0 / dup_frac NULL)."""
    from datacompy_spark.functions.hashing import word_shingles_sql
    from datacompy_spark.functions.text import tokens_sql

    toks = tokens_sql(text_col)
    sh = word_shingles_sql("toks", n)
    return f"""
WITH toks AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
grams AS (SELECT doc_id, unnest(list_distinct({sh})) AS gram FROM toks),
gf AS (SELECT gram, count(*) AS nd FROM grams GROUP BY gram),
per AS (
  SELECT doc_id, count(*) AS n_grams,
    coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)::BIGINT AS n_dup_grams
  FROM grams JOIN gf USING (gram) GROUP BY doc_id)
SELECT i.doc_id,
  coalesce(n_grams, 0)::BIGINT AS n_grams,
  coalesce(n_dup_grams, 0)::BIGINT AS n_dup_grams,
  CASE WHEN coalesce(n_grams, 0) > 0
       THEN n_dup_grams::DOUBLE / n_grams::DOUBLE END AS dup_frac
FROM (SELECT DISTINCT {id_col} AS doc_id FROM {table}) i
LEFT JOIN per USING (doc_id)"""


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Ordered-corpus novelty attribution: per document, the fraction of
    its distinct word ``n``-grams whose FIRST occurrence in id order is
    this document. The complementary signal to
    :func:`ngram_duplication_profile`: ``dup_frac`` is symmetric (both
    copies of shared boilerplate score high), while novelty attributes
    shared content to its EARLIEST owner — the drop-priority ranking a
    curation pass wants ("this late document adds nothing new; the
    content it carries already entered the corpus upstream"). Ingestion
    order lives in the id: map timestamps/sequence numbers into the id
    ordering before calling if arrival order differs from id order.

    Output ``(doc_id, n_grams, n_novel_grams, novelty_frac)`` —
    ``novelty_frac`` NULL when the document produced no grams (NULL
    text); 0-gram docs retained. A document with entirely unique content
    scores 1.0 regardless of position; the first copy of boilerplate
    scores 1.0 on those grams, every later copy 0.

    Scale shape (same discipline as :func:`ngram_duplication_profile`):
    the first-owner fold is ``groupBy(gram).agg(min(doc_id))`` — a hot
    boilerplate gram appearing in 10⁸ documents collapses map-side to
    one integer min per task, never a per-gram window sort; the
    first-owner relation (one row per DISTINCT gram) joins back to the
    grams, and the per-doc fold is one doc_id shuffle."""
    from datacompy_spark.functions.hashing import word_shingles

    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("__toks"), n))
        ).alias("gram"),
    )
    # NOT barriered — same A/B finding as ngram_duplication_profile (r14):
    # materializing the exploded gram frame loses to recomputing it
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("__first"))
    per = (
        grams.join(first, "gram")  # NULL grams (NULL text) drop here
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("__first") == F.col("doc_id"), F.lit(1))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_novel_grams"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_novel_grams"), F.lit(0))
        .cast("long")
        .alias("n_novel_grams"),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.col("n_novel_grams").cast("double") / F.col("n_grams").cast("double"),
        ).alias("novelty_frac"),
    )


def ngram_novelty_sql(table: str, id_col: str, text_col: str, n: int = 5) -> str:
    """DuckDB twin of :func:`ngram_novelty` (same gram definition, same
    min-id first-owner attribution, same NULL-text handling)."""
    from datacompy_spark.functions.hashing import word_shingles_sql
    from datacompy_spark.functions.text import tokens_sql

    toks = tokens_sql(text_col)
    sh = word_shingles_sql("toks", n)
    return f"""
WITH toks AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
grams AS (SELECT doc_id, unnest(list_distinct({sh})) AS gram FROM toks),
gf AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram),
per AS (
  SELECT doc_id, count(*) AS n_grams,
    coalesce(sum(CASE WHEN first_doc = doc_id THEN 1 END), 0)::BIGINT
      AS n_novel_grams
  FROM grams JOIN gf USING (gram) GROUP BY doc_id)
SELECT i.doc_id,
  coalesce(n_grams, 0)::BIGINT AS n_grams,
  coalesce(n_novel_grams, 0)::BIGINT AS n_novel_grams,
  CASE WHEN coalesce(n_grams, 0) > 0
       THEN n_novel_grams::DOUBLE / n_grams::DOUBLE END AS novelty_frac
FROM (SELECT DISTINCT {id_col} AS doc_id FROM {table}) i
LEFT JOIN per USING (doc_id)"""


def remove_dup_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, min_docs: int = 2
) -> DataFrame:
    """Exact duplicated-SPAN removal (the "Deduplicating Training Data
    Makes Language Models Better" / ExactSubstr rewrite, word-token
    granularity): an ``n``-token window occurring verbatim in at least
    ``min_docs`` distinct documents is boilerplate; every occurrence
    EXCEPT the globally first (smallest ``(doc_id, pos)`` — the
    keep-one-copy discipline, same as :func:`line_dedup`) marks its
    ``n`` covered tokens for removal, and each document is reassembled
    from its surviving tokens. Where :func:`ngram_duplication_profile`
    only SCORES boilerplate share, this operator produces the cleaned
    corpus with each duplicated span preserved exactly once.

    Returns ``(doc_id, n_tokens, n_removed, text)`` — ``text`` is the
    whitespace-normalized surviving token stream ('' when everything was
    boilerplate), NULL for NULL-text documents; ``n_tokens`` counts the
    normalized tokens before removal. An EMPTY document deliberately
    counts its one phantom ``''`` token (``n_tokens`` = 1, never covered
    since no gram forms) so '' survives the round trip distinct from
    NULL.

    Scale shape (mirrors :func:`line_dedup`'s hot-key discipline): the
    per-gram fold is a two-level aggregate — ``groupBy(gram, doc_id)``
    with ``min(pos)`` then ``groupBy(gram)`` — so a boilerplate phrase
    appearing 10⁸ times collapses map-side instead of sorting into one
    task, and its second level yields BOTH the distinct-doc count and the
    global first occurrence (``min`` over ``(doc_id, min_pos)`` structs)
    in one pass. The duplicated-gram set (one row per DISTINCT dup gram)
    joins back to the start positions — AQE broadcasts it while small,
    skew-splits the probe side otherwise. Coverage expansion (a start
    covers positions ``s..s+n-1``) is a bounded running-max window over
    token position (ROWS frame of ``n-1``), and reassembly one groupBy
    over ``doc_id`` — both partitioned by document, so task size is
    bounded by the longest document, never by gram popularity. Grams
    travel as 60-bit md5 folds, not strings: the wide shuffles carry
    8-byte keys."""
    from datacompy_spark.functions.hashing import md5_long
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    # one gram per start position; documents shorter than n tokens yield
    # no grams (nothing a cross-doc n-token span could cover)
    # guard: sequence(0, x) DESCENDS when x < 0, so short documents must
    # short-circuit to an empty gram array, not a phantom negative range
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("__toks") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - n),
                    lambda i: md5_long(
                        F.array_join(F.slice("__toks", i + 1, n), " ")
                    ),
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram", "doc_id")
        .agg(F.min("pos").alias("__mp"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("__nd"),
            F.min(F.struct(F.col("doc_id"), F.col("__mp"))).alias("__fo"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("gram", "__fo")
    )
    starts = (
        grams.join(dup, "gram")
        .filter(
            ~(
                (F.col("doc_id") == F.col("__fo.doc_id"))
                & (F.col("pos") == F.col("__fo.__mp"))
            )
        )
        .select(
            "doc_id",
            "pos",
            F.lit(None).cast("string").alias("tok"),
            F.lit(1).alias("__start"),
        )
    )
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        F.lit(0).alias("__start"),
    )
    # starts ride as synthetic flag rows UNIONED into the token stream, not
    # equi-joined on (doc_id, pos): a join would hash-shuffle the full
    # token stream on (doc_id, pos) and the window would then re-shuffle
    # it on doc_id alone — the union needs only the ONE doc_id exchange,
    # which the window sort and the reassembly groupBy both reuse. The
    # coverage frame must be RANGE (positions), not ROWS: a start row and
    # its token row share a pos, so row counting would mis-span.
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rangeBetween(-(n - 1), Window.currentRow)
    )
    flagged = tok.unionByName(starts).select(
        "doc_id",
        "pos",
        "tok",
        (F.max("__start").over(w) == 1).alias("__covered"),
    )
    per = flagged.groupBy("doc_id").agg(
        F.count("tok").alias("n_tokens"),
        F.sum(
            (F.col("__covered") & F.col("tok").isNotNull()).cast("long")
        ).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__covered") & F.col("tok").isNotNull(),
                            F.struct("pos", "tok"),
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias("text"),
    )
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.col("text"),
    )


def remove_dup_spans_sql(
    table_expr: str, id_col: str, text_col: str, n: int = 5, min_docs: int = 2
) -> str:
    """DuckDB twin of :func:`remove_dup_spans` (same tokenizer, same md5
    gram fold, same ROWS-frame coverage window; positions are 1-based
    here and 0-based in Spark — only ordering matters, so the outputs
    align)."""
    from datacompy_spark.functions.hashing import md5_long_sql
    from datacompy_spark.functions.text import tokens_sql

    gram_hash = md5_long_sql(f"array_to_string(toks[g.i:g.i+{n - 1}], ' ')")
    return f"""
WITH t AS (SELECT {id_col} AS doc_id, {tokens_sql(text_col)} AS toks
           FROM {table_expr}),
grams AS (
  SELECT doc_id, g.i AS pos, {gram_hash} AS gram
  FROM t, unnest(generate_series(1, len(toks) - {n - 1})) AS g(i)),
dup AS (
  SELECT gram, min(struct_pack(doc_id := doc_id, mp := mp)) AS fo
  FROM (SELECT gram, doc_id, min(pos) AS mp FROM grams GROUP BY 1, 2)
  GROUP BY gram HAVING count(*) >= {min_docs}),
starts AS (
  SELECT g.doc_id, g.pos, NULL::VARCHAR AS tok, 1 AS st
  FROM grams g JOIN dup d USING (gram)
  WHERE NOT (g.doc_id = d.fo.doc_id AND g.pos = d.fo.mp)),
tok AS (
  SELECT doc_id, g.i AS pos, toks[g.i] AS tok, 0 AS st
  FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
flagged AS (
  SELECT doc_id, pos, tok,
    max(st) OVER (
      PARTITION BY doc_id ORDER BY pos
      RANGE BETWEEN {n - 1} PRECEDING AND CURRENT ROW) = 1 AS covered
  FROM (SELECT * FROM tok UNION ALL SELECT * FROM starts)),
per AS (
  SELECT doc_id, count(tok) AS n_tokens,
    sum((covered AND tok IS NOT NULL)::BIGINT) AS n_removed,
    coalesce(string_agg(CASE WHEN NOT covered AND tok IS NOT NULL
                             THEN tok END, ' ' ORDER BY pos),
             '') AS text
  FROM flagged GROUP BY doc_id)
SELECT i.doc_id,
  coalesce(n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(n_removed, 0)::BIGINT AS n_removed,
  text
FROM (SELECT DISTINCT {id_col} AS doc_id FROM {table_expr}) i
LEFT JOIN per USING (doc_id)"""


#: (pattern, replacement) pairs applied IN ORDER; all patterns live in the
#: Java∩RE2 common subset (non-greedy + (?s) yes, backreferences NO — script
#: and style need separate patterns because RE2 lacks \1)
_HTML_STRIP_RULES = [
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
]
#: entity decodes; &amp; LAST so double-encoded entities decode one level
#: only (the standard single-pass rule)
_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def strip_html(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Web-corpus text extraction: drop script/style/comment blocks, strip
    tags, decode the common entities, collapse whitespace — the regex core
    of the trafilatura/jusText ingest stage, kept engine-portable (every
    pattern runs identically under Java regex and RE2, so the DuckDB twin
    reproduces it byte-for-byte). A narrow projection: no shuffle, no
    Python; at 100 TB this is scan-bound and pipelines into whatever
    filter follows. NULL html stays NULL. For layout-aware extraction
    (main-content detection, boilerplate DOM pruning) plug a real parser
    in as an Arrow ``mapInPandas`` stage — this operator is the cheap
    first pass and the deterministic fallback."""
    s = F.col(html_col)
    for pat, rep in _HTML_STRIP_RULES:
        s = F.regexp_replace(s, pat, rep)
    for ent, rep in _HTML_ENTITIES:
        # literal replace: entities are fixed strings, not patterns
        s = F.replace(s, F.lit(ent), F.lit(rep))
    # explicit class, not \s+: Java \s includes \x0B, RE2's does not —
    # _WS_CLASS is the engine-portable whitespace set (functions/text.py)
    s = F.trim(F.regexp_replace(s, _WS_CLASS, " "))
    return df.select(F.col(id_col).alias("doc_id"), s.alias("text"))


def strip_html_sql(table_expr: str, id_col: str, html_col: str) -> str:
    """DuckDB twin of :func:`strip_html` (same rule order; RE2 evaluates
    the identical patterns)."""
    s = html_col
    for pat, rep in _HTML_STRIP_RULES:
        p = pat.replace("'", "''")
        s = f"regexp_replace({s}, '{p}', '{rep}', 'g')"
    for ent, rep in _HTML_ENTITIES:
        e = ent.replace("'", "''")
        r = rep.replace("'", "''")
        s = f"replace({s}, '{e}', '{r}')"
    s = f"trim(regexp_replace({s}, '{_WS_CLASS}', ' ', 'g'))"
    return f"SELECT {id_col} AS doc_id, {s} AS text FROM {table_expr}"


def vocab_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_df: DataFrame,
    vocab_col: str = "token",
) -> DataFrame:
    """Tokenizer-coverage / OOV-rate quality signal: per document, how many
    of its word tokens are OUTSIDE a reference vocabulary. High OOV share
    flags the documents a fixed tokenizer will shred into bytes — gibberish,
    wrong-language text, OCR noise — the complement of the frequency-based
    quality heuristics in :func:`quality_metrics`.

    Returns ``(doc_id, n_tokens, n_oov, n_distinct_oov, oov_rate)`` —
    NULL-text AND empty/punctuation-only documents are retained with 0
    tokens and NULL rate (the tokenizer's phantom ``''`` token for empty
    normalized text is excluded: an empty document has no coverage to
    measure, and vocabularies never contain the empty string).

    Scale shape: vocabularies are small by construction (10⁴–10⁵ entries
    for word-level, fewer for BPE merges), so the vocab side is broadcast
    into a map-side hash join against the exploded token stream — the
    corpus never shuffles for the lookup; the only wide exchange is the
    doc-keyed aggregation (partial agg). Tokens match on the same
    normalized form :func:`tokens` emits."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    vocab = F.broadcast(
        vocab_df.select(F.col(vocab_col).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .distinct()
        .select("tok", F.lit(1).alias("__known"))
    )
    per = (
        toks.join(vocab, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__known").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.countDistinct(
                F.when(F.col("__known").isNull(), F.col("tok"))
            ).alias("n_distinct_oov"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
        F.coalesce(F.col("n_distinct_oov"), F.lit(0))
        .cast("long")
        .alias("n_distinct_oov"),
        F.when(
            F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        ).alias("oov_rate"),
    )


def vocab_coverage_sql(
    table_expr: str,
    id_col: str,
    text_col: str,
    vocab_expr: str,
    vocab_col: str = "token",
) -> str:
    """DuckDB twin of :func:`vocab_coverage`. ``vocab_expr`` may be a table
    name or a parenthesized subquery producing ``vocab_col``."""
    from datacompy_spark.functions.text import tokens_sql

    return f"""
WITH t AS (SELECT {id_col} AS doc_id, {tokens_sql(text_col)} AS toks
           FROM {table_expr}),
tok AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        WHERE tok <> ''),
vocab AS (SELECT DISTINCT {vocab_col} AS tok, 1 AS known
          FROM {vocab_expr} WHERE {vocab_col} IS NOT NULL),
per AS (
  SELECT doc_id, count(*) AS n_tokens,
    sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
    count(DISTINCT CASE WHEN known IS NULL THEN tok END)::BIGINT
      AS n_distinct_oov
  FROM tok LEFT JOIN vocab USING (tok) GROUP BY doc_id)
SELECT i.doc_id,
  coalesce(n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(n_oov, 0)::BIGINT AS n_oov,
  coalesce(n_distinct_oov, 0)::BIGINT AS n_distinct_oov,
  CASE WHEN coalesce(n_tokens, 0) > 0
       THEN n_oov::DOUBLE / n_tokens::DOUBLE END AS oov_rate
FROM (SELECT DISTINCT {id_col} AS doc_id FROM {table_expr}) i
LEFT JOIN per USING (doc_id)"""


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_df: DataFrame,
    eval_text_col: str | None = None,
    k: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of its
    distinct k-word shingles that also appear in a held-out evaluation set
    (the standard n-gram-overlap contamination check used by pre-training
    pipelines before a corpus ships).

    Scale shape: the eval side is ALWAYS small relative to the corpus (eval
    suites are thousands of documents, the corpus is billions), so its
    distinct shingle set is broadcast — the training side streams through a
    map-side hash join with no shuffle of the 100 TB table; the only shuffle
    is the final per-doc aggregation, keyed on doc_id with partial agg.

    The token array is staged as a real column before shingling: lambda
    bodies sit outside Spark's common-subexpression elimination, so an
    inlined ``tokens(text)`` would re-run the normalization regex + split
    once per shingle instead of once per document (~50x redundant regex
    work; measured 14s -> ~1s on 5k docs)."""
    from datacompy_spark.functions.hashing import word_shingles

    from datacompy_spark.plans.partitioning import fan_out

    eval_text = eval_text_col or text_col
    train_sh = (
        fan_out(
            df.select(
                F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
            )
        )
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles(F.col("__toks"), k))).alias("sh"),
        )
    )
    eval_sh = (
        eval_df.select(tokens(F.col(eval_text)).alias("__toks"))
        .select(F.explode(F.array_distinct(word_shingles(F.col("__toks"), k))).alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    joined = train_sh.join(F.broadcast(eval_sh), "sh", "left")
    n_matched = F.coalesce(
        F.sum(F.when(F.col("__hit"), F.lit(1))), F.lit(0)
    ).cast("long")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            n_matched.alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            (F.col("n_matched").cast("double") / F.col("n_shingles").cast("double")).alias(
                "contam_frac"
            ),
            (
                F.col("n_matched").cast("double")
                >= F.lit(float(threshold)) * F.col("n_shingles").cast("double")
            ).alias("contaminated"),
        )
    )


def decontaminate_sql(
    table: str,
    id_col: str,
    text_col: str,
    eval_pred: str,
    train_pred: str,
    k: int = 5,
    threshold: float = 0.2,
) -> str:
    """DuckDB twin: eval/train membership given as predicates over ``table``."""
    from datacompy_spark.functions.hashing import word_shingles_sql
    from datacompy_spark.functions.text import tokens_sql

    shingles = word_shingles_sql(tokens_sql(text_col), k)
    return f"""
WITH train_sh AS (
  SELECT {id_col} AS doc_id, unnest(list_distinct({shingles})) AS sh
  FROM {table} WHERE {train_pred}),
eval_sh AS (
  SELECT DISTINCT unnest(list_distinct({shingles})) AS sh
  FROM {table} WHERE {eval_pred}),
joined AS (
  SELECT t.doc_id, (e.sh IS NOT NULL) AS hit
  FROM train_sh t LEFT JOIN eval_sh e USING (sh))
SELECT doc_id,
  count(*) AS n_shingles,
  coalesce(sum(CASE WHEN hit THEN 1 END), 0)::BIGINT AS n_matched,
  n_matched::DOUBLE / n_shingles::DOUBLE AS contam_frac,
  (n_matched::DOUBLE >= {threshold}::DOUBLE * n_shingles::DOUBLE) AS contaminated
FROM joined GROUP BY doc_id"""


def stratified_sample(
    df: DataFrame,
    strata_cols: list,
    id_col: str,
    k: int,
    seed: str = "strata#1",
) -> DataFrame:
    """Deterministic per-stratum top-k sample: within each stratum, rank rows
    by a stable hash of their id (ties broken by the id itself) and keep the
    first ``k`` — the building block for corpus mix curation (equal-size
    per-source subsets, eval carve-outs) that re-runs and other engines
    reproduce exactly, unlike ``df.sampleBy`` which is rng/partition-order
    dependent.

    Scale: one shuffle on the strata key; per-stratum state in the window is
    a single counter (``row_number``), so a hot stratum is bounded by its
    sort, which AQE spill handles — and because ranks beyond k are discarded,
    a TABLESAMPLE-style pushdown isn't possible anyway (the rank is global
    per stratum). For very hot strata, pre-filtering by hash range would cut
    the sort input; not needed at documented scales."""
    from pyspark.sql import Window

    from datacompy_spark.functions.hashing import md5_long

    # output columns are (doc_id, *strata_cols, rk): a stratum column named
    # doc_id or rk (any case) would duplicate an output name — Spark allows
    # the duplicate in select() and downstream column resolution breaks.
    # id_col itself must also not be named 'rk': withColumn('rk', row_number)
    # case-insensitively REPLACES it before the final select reads it, so
    # doc_id would silently become the rank
    clash = sorted(c for c in strata_cols if c.lower() in ("doc_id", "rk"))
    if clash:
        raise ValueError(
            f"stratified_sample reserves output column names 'doc_id' and "
            f"'rk' (strata_cols has {clash}) — rename them first"
        )
    if id_col.lower() == "rk":
        raise ValueError(
            "stratified_sample reserves the column name 'rk' for the rank "
            f"output — rename id column {id_col!r} first"
        )
    w = (
        Window.partitionBy(*strata_cols)
        .orderBy(md5_long(F.col(id_col).cast("string"), seed), F.col(id_col))
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(F.col(id_col).alias("doc_id"), *strata_cols, F.col("rk").cast("int").alias("rk"))
    )


def stratified_sample_sql(
    table: str, strata_cols: list, id_col: str, k: int, seed: str = "strata#1"
) -> str:
    from datacompy_spark.functions.hashing import md5_long_sql

    strata = ", ".join(strata_cols)
    h = md5_long_sql(f"{id_col}::VARCHAR", seed)
    return f"""
SELECT doc_id, {strata}, rk FROM (
  SELECT {id_col} AS doc_id, {strata},
    row_number() OVER (PARTITION BY {strata} ORDER BY {h}, {id_col})::INT AS rk
  FROM {table})
WHERE rk <= {k}"""


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    seed: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): every row draws its md5-uniform ``u`` from the id (+
    ``seed``), scores ``key = -ln(u) / w`` (an Exp(w) draw — smaller for
    heavier weights), and the ``n`` smallest keys are the sample. The
    quality-weighted corpus subsampling primitive: weight by an LM score
    or quality signal and high-quality documents are proportionally more
    likely to survive, reproducibly — same ids + same seed = same sample
    under ANY partitioning or cluster size (no RNG state, no
    ``sample()`` nondeterminism).

    Rows with NULL or non-positive weight are excluded (zero weight = Exp
    key +inf = never sampled; the filter makes that explicit), and so are
    NULL ids (a NULL id has no hash draw — left in, its NULL key would
    sort NULLS-FIRST into every sample). Ties on the key break by id, so
    with UNIQUE ids the sample is a total function of the input; rows
    sharing an id share a key, and which physical duplicate survives a
    cut is layout-dependent — deduplicate first if ids repeat.

    Scale shape: one narrow projection computes keys, then a distributed
    TakeOrdered (per-partition top-n, merge on the driver — O(n) driver
    memory, no full sort, no shuffle of the corpus). ``ln`` is used only
    inside the ordering key, never in an output value, so float platform
    wobble cannot change emitted DATA — only (astronomically unlikely)
    near-tie orderings; the DuckDB cross-engine gate is deliberately not
    claimed for this operator."""
    from datacompy_spark.functions.hashing import md5_long

    if n <= 0:
        raise ValueError("weighted_sample: n must be positive")
    w = F.col(weight_col).cast("double")
    # md5_long is uniform on [0, 2^60); shift to (0, 1] so ln() is finite
    u = (md5_long(F.col(id_col).cast("string"), seed) + F.lit(1.0)) / F.lit(
        float(1 << 60)
    )
    key = -F.log(u) / w
    return (
        df.filter(w.isNotNull() & (w > 0) & F.col(id_col).isNotNull())
        .withColumn("__es_key", key)
        .orderBy(F.col("__es_key").asc(), F.col(id_col).asc())
        .limit(n)
        .drop("__es_key")
    )


def corpus_mix_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    token_budget: int,
    weight_expr=None,
    seed: str = "mix#1",
) -> DataFrame:
    """Deterministic corpus mixing: subsample each source so its expected
    token mass approaches ``token_budget * weight_share`` — the step that
    turns raw per-source corpora into a training mixture with controlled
    proportions.

    Per source s with (unnormalized) weight w_s and token count T_s, the
    acceptance rate is ``min(1, budget * (w_s / W) / T_s)``; a document is
    accepted iff a stable md5 hash of its id falls under the rate, so
    membership is reproducible across runs, engines, and partitionings —
    no RNG state, no sort.

    Scale shape: token counts aggregate with map-side combine into a
    |sources|-row frame; rates are derived in-plan on that tiny frame (an
    unpartitioned window over |sources| rows, NOT over the corpus) and
    broadcast back — the corpus side streams through one narrow projection
    + broadcast hash join; the only corpus-wide shuffle is the token
    aggregation itself.

    ``weight_expr``: Column over ``source`` giving the unnormalized weight
    (default: uniform 1.0).

    The (doc_id, source, n_tokens) projection sits behind a lineage barrier:
    both the rates branch and the output branch reference it, and without
    the barrier each branch re-scans the corpus — including the wide text
    column the token count reads — doubling the dominant I/O. The barrier
    materializes the narrow 3-column frame once (~tens of bytes/row)."""
    from pyspark.sql import Window

    from datacompy_spark.functions.hashing import md5_long
    from datacompy_spark.plans.barrier import lineage_barrier

    tok = lineage_barrier(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            whitespace_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        ),
        eager=False,
    )
    w = weight_expr if weight_expr is not None else F.lit(1.0)
    tot = tok.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    # W = sum of weights — a window over the |sources|-row frame, not the corpus
    all_rows = Window.partitionBy()
    rates = tot.select(
        "source",
        "src_tokens",
        F.least(
            F.lit(1.0),
            F.lit(float(token_budget))
            * (w.cast("double") / F.sum(w.cast("double")).over(all_rows))
            / F.col("src_tokens").cast("double"),
        ).alias("rate"),
    )
    bucket = md5_long(F.col("doc_id").cast("string"), seed) % 1_000_000
    return tok.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("rate"),
        (bucket.cast("double") < F.col("rate") * F.lit(1_000_000.0)).alias("accepted"),
    )


def cap_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    cap: int,
    seed: str = "cap#1",
) -> DataFrame:
    """Per-group document cap — the domain/source-balancing step of web
    corpus curation ("no domain contributes more than N documents"),
    applied before mixing so one crawl-heavy host cannot dominate a
    training set.

    Survivors are chosen by a deterministic md5 lottery on the id (+
    ``seed``), NOT by ingestion order: unbiased w.r.t. crawl ordering,
    reproducible across runs/engines, and resampleable by changing the
    seed. Output keeps every input column plus ``cap_rank`` (1..cap).

    Scale shape (via :func:`top_k_per_group`): ONE hash shuffle on the
    group key; Spark's ``WindowGroupLimit`` pushes the rank filter into
    the sort, so a mega-domain with 10⁹ rows costs O(cap) memory per task,
    not O(domain size).
    """
    if cap <= 0:
        raise ValueError("cap must be positive")
    # case-INsensitive clash check: Spark's default resolver folds case, so
    # a caller column named `Rank` would be silently replaced by the
    # internal withColumn("rank", ...) just the same as a lowercase one
    reserved = {"__pri", "rank", "cap_rank"}
    clash = sorted(c for c in df.columns if c.lower() in reserved)
    if clash:
        # the lottery/rank machinery would silently overwrite these —
        # refuse loudly rather than destroy caller data
        raise ValueError(
            f"cap_per_group reserves column names {clash} — rename "
            "them before capping"
        )
    from datacompy_spark.functions.hashing import md5_long
    from datacompy_spark.operators.analytics import top_k_per_group

    staged = df.withColumn(
        "__pri", md5_long(F.col(id_col).cast("string"), seed)
    )
    return (
        top_k_per_group(
            staged, [group_col], "__pri", cap, ascending=True, tiebreak=[id_col]
        )
        .withColumnRenamed("rank", "cap_rank")
        .drop("__pri")
    )


def cap_per_group_sql(
    table: str,
    id_col: str,
    group_col: str,
    cap: int,
    seed: str = "cap#1",
) -> str:
    """DuckDB twin of :func:`cap_per_group` (same md5 lottery + rank)."""
    from datacompy_spark.functions.hashing import md5_long_sql

    pri = md5_long_sql(f"{id_col}::VARCHAR", seed)
    return f"""
WITH pri AS (
  SELECT *, {pri} AS p FROM {table}),
ranked AS (
  SELECT * EXCLUDE (p),
    row_number() OVER (PARTITION BY {group_col}
                       ORDER BY p ASC, {id_col} ASC)::INT AS cap_rank
  FROM pri)
SELECT * FROM ranked WHERE cap_rank <= {cap}"""


def corpus_mix_sample_sql(
    table: str,
    id_col: str,
    source_col: str,
    text_col: str,
    token_budget: int,
    weight_sql: str = "1.0",
    seed: str = "mix#1",
) -> str:
    """DuckDB twin of :func:`corpus_mix_sample`; ``weight_sql`` is an
    expression over ``source``."""
    from datacompy_spark.functions.hashing import md5_long_sql
    from datacompy_spark.functions.text import tokens_sql

    h = md5_long_sql("doc_id::VARCHAR", seed)
    return f"""
WITH tok AS (
  SELECT {id_col} AS doc_id, {source_col} AS source,
    len({tokens_sql(text_col)})::BIGINT AS n_tokens
  FROM {table}),
rates AS (
  SELECT source, src_tokens,
    least(1.0,
      {float(token_budget)} * (({weight_sql})::DOUBLE
        / sum(({weight_sql})::DOUBLE) OVER ())
      / src_tokens::DOUBLE) AS rate
  FROM (SELECT source, sum(n_tokens) AS src_tokens FROM tok GROUP BY source))
SELECT doc_id, tok.source, n_tokens, rate,
  (({h} % 1000000)::DOUBLE < rate * 1000000.0) AS accepted
FROM tok JOIN rates ON tok.source = rates.source"""


def curate_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_df: DataFrame,
    contam_threshold: float = 0.2,
    shingle_k: int = 5,
    train_pct: int = 80,
    val_pct: int = 10,
    quality: str = "heuristic",
) -> DataFrame:
    """End-to-end corpus curation verdict — the composition the individual
    operators exist for. Stages, applied in the standard order (cheapest
    filter first so later, costlier stages see fewer rows):

    1. quality: heuristic keep/drop (:func:`quality_filter`);
    2. duplicate: exact-content collapse among quality-passing docs
       (min-id survivor per normalized-content hash);
    3. contaminated: k-gram overlap with the (broadcast) eval set at or
       above ``contam_threshold`` (:func:`decontaminate` semantics);
    4. kept: deterministic train/val/test assignment
       (:func:`hash_split`).

    One row per input document: ``(doc_id, keep, verdict, split)`` where
    verdict ∈ {quality, duplicate, contaminated, kept} and split is NULL
    unless kept. Shuffle budget: one content-hash window, one shingle
    aggregation, plus doc_id-keyed joins of per-stage verdicts — every
    stage is the same partial-agg/broadcast shape it has standalone.

    ``quality`` selects the stage-1 rule set: ``'heuristic'`` (default,
    :func:`quality_filter`) or ``'gopher'`` (:func:`gopher_quality` with
    its published thresholds)."""
    from pyspark.sql import Window

    from datacompy_spark.functions.hashing import md5_long, word_shingles

    if quality not in ("heuristic", "gopher"):
        raise ValueError(f"unknown quality rule set: {quality!r}")
    q_frame = (
        quality_filter(df, id_col, text_col)
        if quality == "heuristic"
        else gopher_quality(df, id_col, text_col)
    )
    q = q_frame.select("doc_id", F.col("keep").alias("q_keep"))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        F.md5(normalize(F.col(text_col))).alias("__chash"),
    ).join(q, "doc_id")
    w = Window.partitionBy("__chash")
    flagged = base.withColumn(
        "__surv",
        F.col("q_keep")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("q_keep"), F.col("doc_id"))).over(w)
        ),
    )
    survivors = flagged.filter(F.col("__surv")).select(
        "doc_id", F.col("__text").alias("text")
    )
    contam = decontaminate(
        survivors, "doc_id", "text", eval_df,
        eval_text_col=text_col, k=shingle_k, threshold=contam_threshold,
    ).select("doc_id", "contaminated")
    split_bucket = md5_long(F.col("doc_id").cast("string"), "split#1") % 100
    verdict = (
        F.when(~F.col("q_keep"), F.lit("quality"))
        .when(~F.col("__surv"), F.lit("duplicate"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return (
        flagged.join(contam, "doc_id", "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
            (verdict == "kept").alias("keep"),
            F.when(
                verdict == "kept",
                F.when(split_bucket < train_pct, F.lit("train"))
                .when(split_bucket < train_pct + val_pct, F.lit("val"))
                .otherwise(F.lit("test")),
            ).alias("split"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, min_tf: int = 1
) -> DataFrame:
    """Top-k distinctive terms per document by TF-IDF with a *linear* IDF:
    ``score = tf * N / df`` (term frequency times inverse document-frequency
    ratio). Linear rather than logarithmic IDF keeps the score inside exact
    arithmetic — int64 multiply then ONE double division — so ranking is
    bit-identical across engines (the oracle gate), while preserving the
    same per-document ordering properties (for fixed tf, score is strictly
    monotone in rarity; log-IDF reorders across tf levels only for terms
    differing ~e-fold in df, which top-k rarely straddles).

    Scale shape — three shuffles, all partial-agg-combinable:
    1. (doc, term) counts: shuffle on the exploded pair, map-side combine
       collapses within-partition repeats first;
    2. document frequency: per-term count over the distinct pairs from (1)
       — reuses (1)'s output, no second corpus scan;
    3. top-k per doc: window row_number with rank pushed into the sort
       (WindowGroupLimit), O(k) memory per doc.
    N (corpus size) is a single-row agg broadcast into the score — no
    driver round-trip in the plan-building path.
    Ties break by term ascending → fully deterministic output.
    """
    from datacompy_spark.operators.analytics import top_k_per_group
    from datacompy_spark.plans.barrier import lineage_barrier
    from datacompy_spark.plans.partitioning import fan_out

    # barriered (r14): BOTH the document-frequency aggregate and the scoring
    # join consume `pairs`; column pruning makes the two subtrees canonically
    # different, so without materialization the corpus tokenize + explode +
    # (doc, term) shuffle ran TWICE (same fix bm25_search/npmi already
    # carry — tfidf was the one sibling still paying the double pass)
    pairs = lineage_barrier(
        fan_out(
            df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
        )
        .select("doc_id", F.explode("__toks").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        eager=False,
    )
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    doc_freq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        pairs.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("tf") >= min_tf)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double")).alias(
                "score"
            ),
        )
    )
    return top_k_per_group(
        scored, ["doc_id"], "score", k, ascending=False, tiebreak=["term"]
    )


def tfidf_top_terms_sql(
    table: str, id_col: str, text_col: str, k: int = 3, min_tf: int = 1
) -> str:
    """DuckDB twin of :func:`tfidf_top_terms` (same linear-IDF score).
    ``min_tf`` filters pairs at the same pipeline point as the Spark side:
    AFTER document-frequency is computed over all pairs, so df counts are
    identical regardless of the threshold."""
    from datacompy_spark.functions.text import tokens_sql

    toks = tokens_sql(text_col)
    return f"""
WITH pairs AS (
  SELECT {id_col} AS doc_id, t.term AS term, count(*) AS tf
  FROM {table}, unnest({toks}) AS t(term)
  WHERE t.term <> ''
  GROUP BY 1, 2),
df_t AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
n AS (SELECT count(DISTINCT {id_col}) AS n_docs FROM {table}),
scored AS (
  SELECT p.doc_id, p.term, p.tf, d.df,
         (p.tf * n.n_docs)::DOUBLE / d.df::DOUBLE AS score,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY (p.tf * n.n_docs)::DOUBLE / d.df::DOUBLE DESC,
                                     p.term ASC) AS rank
  FROM pairs p JOIN df_t d USING (term) CROSS JOIN n
  WHERE p.tf >= {min_tf})
SELECT doc_id, term, tf, df, score, rank::INT AS rank
FROM scored WHERE rank <= {k}"""


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-level exact line dedup (the C4 / RefinedWeb boilerplate
    rule): across the WHOLE corpus, every normalized line survives only at
    its globally first occurrence (smallest ``(doc_id, position)``); later
    occurrences — navigation chrome, cookie banners, boilerplate headers —
    are dropped, and each document is reassembled from its surviving lines
    in original order. Returns ``(doc_id, text, n_lines, n_kept)`` where
    ``text`` is the cleaned document (empty string when nothing survives).

    Scale design — the hot-line problem: a window
    ``row_number() OVER (PARTITION BY line_hash)`` would funnel every
    occurrence of a hyper-common line ("Home", "") into ONE partition.
    Instead the global first occurrence is computed as
    ``min(struct(doc_id, pos))`` per hash — a partial-aggregatable
    aggregate that collapses hot lines map-side to one row per partition
    before the shuffle — then joined back on the hash (one row per
    DISTINCT line on the build side, so AQE can broadcast it when small
    and skew-split the probe side otherwise). Reassembly is one groupBy
    over doc_id with an order-struct sort — partition size bounded by the
    longest document, not by line popularity."""
    # \Q..\E: Spark's split() takes a Java regex; quote the delimiter so it
    # is literal, matching the SQL twin's literal string_split.
    # coalesce: posexplode of a NULL array emits no rows, which would drop
    # NULL-text documents from the output entirely — they surface as one
    # empty line instead (n_lines=1, like an empty document).
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + delimiter + "\\E")
        ).alias("pos", "line"),
    ).withColumn("lhash", F.md5(normalize(F.col("line"))))
    first = lines.groupBy("lhash").agg(
        F.min(F.struct("doc_id", "pos")).alias("first_occ")
    )
    kept = lines.join(first, "lhash").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first_occ.doc_id"))
        & (F.col("pos") == F.col("first_occ.pos")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.concat_ws(
                delimiter,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("text"),
        )
        .select("doc_id", "text", "n_lines", "n_kept")
    )


def line_dedup_sql(
    table_expr: str, id_col: str, text_col: str, delimiter: str = "\n"
) -> str:
    """DuckDB twin of :func:`line_dedup`. ``table_expr`` may be a table
    name or a parenthesized subquery."""
    delim_sql = (
        "chr(10)" if delimiter == "\n" else "'" + delimiter.replace("'", "''") + "'"
    )
    from datacompy_spark.functions.text import normalize_sql as _nsql

    return f"""
WITH split AS (
  SELECT {id_col} AS doc_id,
         string_split(coalesce({text_col}, ''), {delim_sql}) AS parts
  FROM {table_expr}),
lines AS (
  SELECT doc_id, g.i - 1 AS pos, parts[g.i] AS line,
         md5({_nsql('parts[g.i]')}) AS lhash
  FROM split, unnest(generate_series(1, len(parts))) AS g(i)),
first_occ AS (
  SELECT lhash, min(struct_pack(doc_id := doc_id, pos := pos)) AS fo
  FROM lines GROUP BY 1),
kept AS (
  SELECT l.doc_id, l.pos, l.line,
         (l.doc_id = f.fo.doc_id AND l.pos = f.fo.pos) AS keep
  FROM lines l JOIN first_occ f USING (lhash))
SELECT doc_id,
  coalesce(string_agg(CASE WHEN keep THEN line END, {delim_sql} ORDER BY pos), '')
    AS text,
  count(*) AS n_lines,
  sum(keep::INT)::BIGINT AS n_kept
FROM kept GROUP BY doc_id"""


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    preparation step for context-bounded training samples or retrieval
    passages. ``window`` tokens per chunk, ``stride`` tokens between chunk
    starts (``stride < window`` ⇒ overlap of ``window - stride``).

    Returns ``doc_id, chunk_id (0-based), n_tokens, chunk_text``. Every
    document yields ≥1 chunk (short docs yield themselves); the final chunk
    may be short — no padding, padding belongs to the tokenizer stage.

    Scale shape: one narrow projection + per-row ``sequence``/``explode``
    (no shuffle at all — chunking is embarrassingly parallel), with the
    token array staged as a real column so normalization runs once per
    document, not once per chunk. Output rows ≈ input tokens / stride;
    partition sizes grow by ~window/stride× — follow with a repartition (or
    let AQE rebalance) before a wide downstream stage if chunks feed a
    shuffle.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    from datacompy_spark.plans.partitioning import fan_out

    staged = fan_out(
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
    ).withColumn("__n", F.size("__toks"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("__n") - window) / F.lit(float(stride))).cast("int") + 1,
    )
    exploded = staged.select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, window)
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def chunk_documents_sql(
    table: str, id_col: str, text_col: str, window: int = 64, stride: int = 48
) -> str:
    """DuckDB twin of :func:`chunk_documents`."""
    from datacompy_spark.functions.text import tokens_sql

    toks = tokens_sql(text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
sized AS (
  SELECT doc_id, toks,
         greatest(1, ceil((len(toks) - {window}) / {stride}.0)::INT + 1) AS n_chunks
  FROM base),
e AS (
  SELECT doc_id, toks, u.i AS chunk_id
  FROM sized, unnest(generate_series(0, n_chunks - 1)) AS u(i))
SELECT doc_id, chunk_id::INT AS chunk_id,
  len(toks[chunk_id*{stride}+1 : chunk_id*{stride}+{window}])::INT AS n_tokens,
  array_to_string(toks[chunk_id*{stride}+1 : chunk_id*{stride}+{window}], ' ') AS chunk_text
FROM e"""


_ZRATIO_ARROW = None


def _zratio_batch(s):
    """pandas Series[str] -> Series[float64]: zlib-compressed bytes over
    raw utf-8 bytes (level 6). NULL-safe; empty string scores 1.0 by
    convention (nothing to compress)."""
    import zlib

    def one(t):
        if t is None:
            return None
        raw = t.encode("utf-8")
        if not raw:
            return 1.0
        return len(zlib.compress(raw, 6)) / len(raw)

    return s.map(one)


def compression_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "zratio",
) -> DataFrame:
    """Compression-ratio quality signal: zlib(level 6) compressed size over
    raw utf-8 size, per document — the CCNet/RefinedWeb-style repetition
    detector. Boilerplate, keyword stuffing, and template spam compress
    far below natural prose, so a low ratio flags machine-generated or
    repetitive text that n-gram heuristics miss; an abnormally HIGH ratio
    (≈1) flags binary junk that leaked into a text column.

    One narrow Arrow-batched projection, no shuffle (same execution shape
    as the NFC stage — zlib is not expressible in either SQL engine, so
    this operator is pytest-gated rather than oracle-checked: the suite
    pins outputs against a local zlib computation and the
    repetitive-vs-prose ordering property)."""
    global _ZRATIO_ARROW
    if _ZRATIO_ARROW is None:
        from pyspark.sql.functions import pandas_udf

        _ZRATIO_ARROW = pandas_udf(_zratio_batch, "double")
    return df.select(
        F.col(id_col), F.col(text_col), _ZRATIO_ARROW(F.col(text_col)).alias(out_col)
    )


def _query_terms(query: str) -> list:
    """Normalize a free-text query exactly like :func:`tokens` normalizes
    documents (lower, strip non-alnum, collapse whitespace), returning the
    sorted distinct terms. Python-side because the query is a literal — it
    never touches the cluster."""
    import re

    q = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", query.lower())).strip()
    return sorted({t for t in q.split(" ") if t})


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> DataFrame:
    """BM25 full-text ranking of a document corpus against a literal query
    string: returns the top-``k`` documents as ``(doc_id, n_terms,
    score_q, rank)`` where ``score_q`` is the BM25 score on a fixed-point
    ``1/scale`` grid and ``n_terms`` counts distinct query terms matched.

    Scoring uses the *linear* IDF ``N / df`` (same rationale as
    :func:`tfidf_top_terms`: int64 operands and one documented double
    expression keep ranking bit-identical across engines; log-IDF reorders
    only for terms differing ~e-fold in rarity) with the standard BM25
    saturation/length-normalization core::

        term_score = (N/df) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Each per-term score is quantized to an int64 ``floor(x*scale + .5)``
    BEFORE the per-document sum, so the sum is order-independent exact
    integer arithmetic — float summation order (partition-dependent in any
    distributed engine) never touches the result.

    Scale shape — the query-term filter is pushed BELOW the (doc, term)
    aggregation, so the only corpus-wide shuffle carries just the rows
    whose term is in the (tiny, literal) query set; document length and
    corpus stats come from a second projection-only scan folded to one
    row + a broadcast. The final top-k is ``orderBy(...).limit(k)`` —
    Spark's distributed TakeOrdered, no single-partition window funnel —
    with rank attached afterwards on ≤ k rows.
    """
    from datacompy_spark.plans.partitioning import fan_out
    from pyspark.sql import Window

    terms = _query_terms(query)
    if not terms:
        raise ValueError("bm25_search: query has no indexable terms")
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b

    toks = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks").cast("long")).alias("sum_dl"),
    )
    # persisted because BOTH the df_t aggregate and the scoring join
    # consume it; column pruning makes the two subtrees canonically
    # different, so Spark will NOT reuse the exchange and would otherwise
    # tokenize the whole corpus twice. Post-filter the frame is tiny: one
    # row per (document, matched query term).
    pairs = tracked_persist(
        fan_out(toks)
        .select("doc_id", F.size("__toks").cast("long").alias("dl"), F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    )
    df_t = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.col("n_docs").cast("double") / F.col("dft").cast("double")
    sat = F.col("tf").cast("double") * F.lit(k1p1)
    norm = F.lit(one_minus_b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    denom = F.col("tf").cast("double") + F.lit(k1) * norm
    tscore_q = F.floor(((idf * sat) / denom) * F.lit(float(scale)) + F.lit(0.5)).cast("long")
    scored = (
        pairs.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(tscore_q).alias("score_q"),
        )
    )
    top = scored.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def bm25_search_sql(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of :func:`bm25_search` — identical operand types and
    float expression association (ints everywhere except the one documented
    double chain, quantized per-term before the integer sum)."""
    from datacompy_spark.functions.text import tokens_sql

    terms = _query_terms(query)
    if not terms:
        raise ValueError("bm25_search_sql: query has no indexable terms")
    in_list = ", ".join("'" + t + "'" for t in terms)
    k1p1 = repr(k1 + 1.0)
    one_minus_b = repr(1.0 - b)
    toks = tokens_sql(text_col)
    return f"""
WITH toks AS (SELECT {id_col} AS doc_id, {toks} AS tk FROM {table}),
stats AS (SELECT count(*) AS n_docs, sum(len(tk)::BIGINT) AS sum_dl FROM toks),
pairs AS (
  SELECT doc_id, t.term AS term, count(*) AS tf, min(len(tk)::BIGINT) AS dl
  FROM toks, unnest(tk) AS t(term)
  WHERE t.term IN ({in_list})
  GROUP BY 1, 2),
df_t AS (SELECT term, count(*) AS dft FROM pairs GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         count(*)::BIGINT AS n_terms,
         sum(floor(((s.n_docs::DOUBLE / d.dft::DOUBLE)
                     * (p.tf::DOUBLE * {k1p1})
                     / (p.tf::DOUBLE + {k1!r} * ({one_minus_b} + {b!r}
                        * (p.dl::DOUBLE / (s.sum_dl::DOUBLE / s.n_docs::DOUBLE)))))
                   * {float(scale)!r} + 0.5)::BIGINT)::BIGINT AS score_q
  FROM pairs p JOIN df_t d USING (term) CROSS JOIN stats s
  GROUP BY 1)
SELECT doc_id, n_terms, score_q,
       row_number() OVER (ORDER BY score_q DESC, doc_id ASC)::INT AS rank
FROM scored
ORDER BY score_q DESC, doc_id ASC
LIMIT {k}"""


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits_scale: int = 10_000,
    out_scale: int = 1000,
) -> DataFrame:
    """Unigram language-model quality score (the CCNet-style LM filter,
    self-trained): fit a unigram LM on the corpus itself — ``P(t) =
    count(t) / total_tokens`` — then score every document by its mean
    per-token cost in bits, ``avg_t -log2 P(t)``. Natural prose lands in a
    mid band; keyword-stuffed / templated text scores low (common tokens),
    lorem-garbage and OCR noise score high (rare tokens). Returns
    ``(doc_id, n_tokens, bits_per_token_milli)`` with the score on a
    ``1/out_scale`` bits grid.

    Cross-engine determinism: ``log2`` is the one transcendental — its
    result is quantized per DISTINCT TERM to an int64 ``1/bits_scale``
    grid, so the per-document reduction is an exact integer weighted sum
    (``sum(tf * bits_q)``) followed by ONE double division; a ≤1-ulp
    ``log2`` divergence between engines only matters if a term's cost sits
    within ~2^-40 of a grid boundary.

    Scale shape: one exploded shuffle to (doc, term) counts, a term-keyed
    shuffle join against the vocabulary (itself an aggregate of the same
    pairs), a single-row total broadcast into the per-term cost, and a
    final doc-keyed partial-agg sum. No windows, no driver collect. The
    pairs frame is persisted because both the vocabulary aggregate and the
    scoring join consume it and column pruning defeats exchange reuse —
    one corpus tokenize instead of two, at the cost of caching one compact
    (doc, term, tf) row per distinct term occurrence (spills to disk when
    it outgrows executor memory).
    """
    from datacompy_spark.plans.partitioning import fan_out

    pairs = tracked_persist(
        fan_out(df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")))
        .select("doc_id", F.explode("__toks").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = pairs.groupBy("term").agg(F.sum("tf").alias("ct"))
    total = vocab.agg(F.sum("ct").alias("total"))
    bits_q = F.floor(
        F.log2(F.col("total").cast("double") / F.col("ct").cast("double"))
        * F.lit(float(bits_scale))
        + F.lit(0.5)
    ).cast("long")
    costed = vocab.crossJoin(F.broadcast(total)).select("term", bits_q.alias("bits_q"))
    per_doc = (
        pairs.join(costed, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("bits_q")).alias("doc_bits_q"),
        )
    )
    milli = F.floor(
        (F.col("doc_bits_q").cast("double") / (F.col("n_tokens") * F.lit(bits_scale)).cast("double"))
        * F.lit(float(out_scale))
        + F.lit(0.5)
    ).cast("long")
    return per_doc.select("doc_id", "n_tokens", milli.alias("bits_per_token_milli"))


def lm_score_sql(
    table: str,
    id_col: str,
    text_col: str,
    bits_scale: int = 10_000,
    out_scale: int = 1000,
) -> str:
    """DuckDB twin of :func:`lm_score` (same grid quantization points and
    double-expression association)."""
    from datacompy_spark.functions.text import tokens_sql

    toks = tokens_sql(text_col)
    return f"""
WITH pairs AS (
  SELECT {id_col} AS doc_id, t.term AS term, count(*) AS tf
  FROM {table}, unnest({toks}) AS t(term)
  WHERE t.term <> ''
  GROUP BY 1, 2),
vocab AS (SELECT term, sum(tf)::BIGINT AS ct FROM pairs GROUP BY 1),
tot AS (SELECT sum(ct)::BIGINT AS total FROM vocab),
costed AS (
  SELECT term,
         floor(log2(t.total::DOUBLE / ct::DOUBLE) * {float(bits_scale)!r} + 0.5)::BIGINT AS bits_q
  FROM vocab CROSS JOIN tot t),
per_doc AS (
  SELECT p.doc_id,
         sum(p.tf)::BIGINT AS n_tokens,
         sum(p.tf * c.bits_q)::BIGINT AS doc_bits_q
  FROM pairs p JOIN costed c USING (term)
  GROUP BY 1)
SELECT doc_id, n_tokens,
       floor((doc_bits_q::DOUBLE / (n_tokens * {bits_scale})::DOUBLE)
             * {float(out_scale)!r} + 0.5)::BIGINT AS bits_per_token_milli
FROM per_doc"""


def decontaminate_editdist(
    train: DataFrame,
    id_col: str,
    text_col: str,
    eval_df: DataFrame,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    max_dist: int = 2,
    prefix_len: int = 64,
) -> DataFrame:
    """Typo-level benchmark decontamination: one verdict row per training
    document — ``(doc_id, contaminated, eval_match, dist)`` — flagging
    docs whose normalized ``prefix_len``-char key is within Levenshtein
    ``max_dist`` of ANY eval document's. Complements :func:`decontaminate`
    (exact k-gram overlap) and ``semantic_decontaminate`` (embedding
    cosine): a single OCR slip or transposed character rewrites every
    k-gram it touches and slides under the n-gram check, but is exactly
    distance 1 here.

    Scale shape: :func:`~datacompy_spark.operators.dedup.edit_distance_cross`
    with the eval suite as the broadcast left side — the 100 TB corpus
    contributes two narrow streams (segment index + probe substrings) and
    never self-pairs; the verdict reduce is a partial-agg min-struct keyed
    on the training id. ``eval_match``/``dist`` report the lexicographic
    (dist, eval id) minimum — deterministic under any partitioning."""
    from datacompy_spark.operators.dedup import edit_distance_cross

    eval_sel = eval_df.select(
        F.col(eval_id_col or id_col).alias(id_col),
        F.col(eval_text_col or text_col).alias(text_col),
    )
    pairs = edit_distance_cross(
        eval_sel, train, id_col, text_col,
        max_dist=max_dist, prefix_len=prefix_len, broadcast_left=True,
    )
    best = (
        pairs.groupBy(F.col("id_r").alias("doc_id"))
        .agg(F.min(F.struct("dist", "id_l")).alias("b"))
        .select(
            "doc_id",
            F.col("b.dist").alias("dist"),
            F.col("b.id_l").alias("eval_match"),
        )
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("eval_match").isNotNull().alias("contaminated"),
            "eval_match",
            "dist",
        )
    )


def npmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation mining: the corpus's top-``k`` adjacent word bigrams by
    normalized pointwise mutual information — the phrase-discovery step of
    tokenizer-vocabulary curation and word2phrase-style preprocessing
    ("new york" / "machine learning" merge into one unit because their
    joint probability dwarfs the unigram product).

    NPMI(w1,w2) = ln(p12 / (p1·p2)) / (-ln p12) (Bouma 2009), with ALL
    probabilities normalized by the corpus token total N_u (the
    word2phrase convention) — since c12 < N_u always, p12 < 1 (the
    denominator can never be 0 even under ANSI mode) and p12 ≤ min(p1,
    p2) keeps NPMI ≤ 1, so a frequency-independent threshold is
    meaningful. Scores are emitted quantized (``npmi_q = floor(npmi·1e6
    + 0.5)`` as BIGINT) so the ranking and the cross-engine contract are
    integer-exact; the tokenizer is the shared :func:`~datacompy_spark.
    functions.text.tokens` normalization, same as ``word_frequencies``.

    Scale shape: bigram extraction is a narrow in-plan ``transform`` over
    the token array (no self-join of token positions); both count folds
    are map-side-combining groupBys; the ``min_count`` filter lands on
    the bigram AGGREGATE before the two vocabulary joins, so the join
    input is the rare-pair-pruned collocation candidate set, not the
    corpus (at web scale: billions of bigram occurrences collapse to the
    ≥min_count vocabulary first); corpus totals are 1-row broadcast
    crossJoins; top-k is ``orderBy().limit(k)`` = TakeOrdered, never a
    single-partition global sort.

    Output ``(w1, w2, c12, npmi_q)`` ordered by (npmi_q DESC, w1, w2).
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    from datacompy_spark.plans.barrier import lineage_barrier

    toks = df.select(tokens(F.col(text_col)).alias("l"))
    # the vocabulary frame feeds THREE consumers (n_u, the w1 join, the w2
    # join); without the barrier each consumer re-derives it from a fresh
    # corpus scan — 4 source scans instead of 2 (one per corpus-wide pass:
    # unigram count + bigram count), for a |vocab|-row materialization
    uni = lineage_barrier(
        toks.select(F.explode("l").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu")),
        eager=False,
    )
    n_u = uni.agg(F.sum("cu").alias("n_u"))
    # guard size(l) < 2 BEFORE the transform: Spark's sequence(0, stop)
    # DESCENDS when stop < 0, which would fabricate out-of-range (NULL) pairs
    big = (
        toks.filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(l) - 2),"
                    " i -> struct(l[i] AS w1, l[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bc = (
        big.filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    cand = bc.filter(F.col("c12") >= min_count)
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    p12 = F.col("c12").cast("double") / F.col("n_u").cast("double")
    p1 = F.col("cu1").cast("double") / F.col("n_u").cast("double")
    p2 = F.col("cu2").cast("double") / F.col("n_u").cast("double")
    npmi = F.log(p12 / (p1 * p2)) / -F.log(p12)
    scored = (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_u))
        .select(
            "w1",
            "w2",
            "c12",
            F.floor(npmi * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("npmi_q"),
        )
    )
    return scored.orderBy(
        F.col("npmi_q").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)


def npmi_collocations_sql(
    table: str, text_col: str, min_count: int = 5, top_k: int = 50
) -> str:
    """DuckDB twin of :func:`npmi_collocations` (1-indexed lists vs
    Spark's 0-indexed arrays; same tokenizer, quantization, ordering)."""
    from datacompy_spark.functions.text import tokens_sql

    return f"""
WITH t AS (SELECT {tokens_sql(text_col)} AS l FROM {table}),
uni AS (
  SELECT w, count(*) AS cu
  FROM (SELECT unnest(l) AS w FROM t) WHERE w <> '' GROUP BY w),
nu AS (SELECT sum(cu) AS n_u FROM uni),
b AS (
  SELECT u.w1 AS w1, u.w2 AS w2
  FROM (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS u
        FROM t)
  WHERE u.w1 <> '' AND u.w2 <> ''),
bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
cand AS (SELECT * FROM bc WHERE c12 >= {int(min_count)}),
scored AS (
  SELECT cand.w1, cand.w2, cand.c12,
    floor((ln((cand.c12::DOUBLE / n_u)
              / ((u1.cu::DOUBLE / n_u) * (u2.cu::DOUBLE / n_u)))
           / (-ln(cand.c12::DOUBLE / n_u))) * 1000000.0 + 0.5)::BIGINT
      AS npmi_q
  FROM cand JOIN uni u1 ON cand.w1 = u1.w
            JOIN uni u2 ON cand.w2 = u2.w, nu)
SELECT w1, w2, c12, npmi_q FROM scored
ORDER BY npmi_q DESC, w1, w2 LIMIT {int(top_k)}"""


def corpus_temperature_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    token_budget: int,
    alpha: float = 0.3,
    seed: str = "mix#1",
) -> DataFrame:
    """Temperature-scaled corpus mixing: :func:`corpus_mix_sample` with
    per-source weight ``w_s = T_s^alpha`` (T_s = source token mass) — the
    multinomial α-sampling used to rebalance heterogeneous corpora
    (multilingual LM training's standard fix: α < 1 upweights low-resource
    sources relative to their raw share; α = 1 reproduces natural
    proportions, α = 0 uniform).

    Same scale shape as the base mixer (one token-count shuffle, rates
    derived on the |sources|-row aggregate, broadcast back). The emitted
    ``rate_q`` is the acceptance rate quantized to 1e-9 (``pow`` is the
    one non-arithmetic primitive here; quantizing the REPORTED rate keeps
    the cross-engine contract integer-exact — acceptance itself compares
    an integer lottery bucket against rate·1e6, where a final-ulp ``pow``
    wobble cannot flip a comparison except on an exact integer boundary).

    Output ``(doc_id, source, n_tokens, rate_q, accepted)``.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be within [0, 1]")
    out = corpus_mix_sample(
        df,
        id_col,
        source_col,
        text_col,
        token_budget,
        weight_expr=F.pow(F.col("src_tokens").cast("double"), float(alpha)),
        seed=seed,
    )
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.round(F.col("rate") * F.lit(1_000_000_000.0))
        .cast("long")
        .alias("rate_q"),
        "accepted",
    )


def corpus_temperature_mix_sql(
    table: str,
    id_col: str,
    source_col: str,
    text_col: str,
    token_budget: int,
    alpha: float = 0.3,
    seed: str = "mix#1",
) -> str:
    """DuckDB twin of :func:`corpus_temperature_mix`."""
    inner = corpus_mix_sample_sql(
        table,
        id_col,
        source_col,
        text_col,
        token_budget,
        weight_sql=f"pow(src_tokens, {float(alpha)})",
        seed=seed,
    )
    return (
        "SELECT doc_id, source, n_tokens,"
        " round(rate * 1000000000.0)::BIGINT AS rate_q, accepted"
        f" FROM ({inner})"
    )


def dsir_weights(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Importance weights for data selection (DSIR-style, Xie et al. 2023):
    per training document, the add-``alpha``-smoothed unigram
    log-likelihood ratio ln p_target(doc) − ln p_source(doc), where the
    target LM comes from ``eval_df`` (the distribution you WANT more of)
    and the source LM from the training corpus itself. Documents with the
    highest weights read most like the target domain — resampling by
    these weights is the standard cheap alternative to embedding-based
    selection at pretraining scale. Compose with :func:`weighted_sample`
    (Efraimidis–Spirakis, weight = exp(logratio_q/1e9) or a softened
    power of it) for the actual importance-resampled subset.

    Cross-engine determinism: the per-VOCAB-WORD log ratio is computed
    once and quantized to 1e-9 integer units (``floor(lr·1e9 + 0.5)`` as
    BIGINT); a document's weight is then the exact INTEGER sum of its
    tokens' quantized ratios — float addition is order-dependent across
    partitionings, integer addition is not (the codebase's exact-sum
    rule). One double division at the end rescales nothing: the output
    stays in quantized units (``logratio_q``), comparable and sortable.

    Scale shape: both LMs are map-side-combining unigram count folds; the
    vocabulary union is a vocab-sized full-outer join materialized ONCE
    behind a lineage barrier (two consumers: the 1-row totals agg and the
    ratio projection); corpus totals ride a broadcast 1-row crossJoin;
    the token→ratio lookup is a vocab-sized equi-join (AQE broadcasts it
    when small); the per-doc fold is ONE doc_id shuffle. Zero-token
    documents keep a row (``n_tokens 0, logratio_q 0``) via the id spine.

    Output ``(doc_id, n_tokens, logratio_q)``.
    """
    if alpha <= 0:
        raise ValueError("alpha must be positive (add-alpha smoothing)")
    from datacompy_spark.plans.barrier import lineage_barrier

    def _counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    tt = _counts(eval_df).withColumnRenamed("c", "ct")
    st = _counts(train_df).withColumnRenamed("c", "cs")
    vocab = lineage_barrier(
        tt.join(st, "w", "full_outer").select(
            "w",
            F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
            F.coalesce("cs", F.lit(0)).cast("long").alias("cs"),
        ),
        eager=False,
    )
    totals = vocab.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("ct").alias("nt"),
        F.sum("cs").alias("ns"),
    )
    a = float(alpha)
    lr = F.log(
        (F.col("ct").cast("double") + F.lit(a))
        / (F.col("nt").cast("double") + F.lit(a) * F.col("v").cast("double"))
    ) - F.log(
        (F.col("cs").cast("double") + F.lit(a))
        / (F.col("ns").cast("double") + F.lit(a) * F.col("v").cast("double"))
    )
    ratios = vocab.crossJoin(F.broadcast(totals)).select(
        "w",
        F.floor(lr * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("lrq"),
    )
    toks = train_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    ).filter(F.col("w") != "")
    per = (
        toks.join(ratios, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lrq").cast("long").alias("logratio_q"),
        )
    )
    spine = train_df.select(F.col(id_col).alias("doc_id")).distinct()
    return spine.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("logratio_q", F.lit(0)).cast("long").alias("logratio_q"),
    )


def dsir_weights_sql(
    table: str,
    id_col: str,
    text_col: str,
    eval_pred: str,
    train_pred: str,
    alpha: float = 1.0,
) -> str:
    """DuckDB twin of :func:`dsir_weights` over one table split by
    ``eval_pred`` / ``train_pred``."""
    from datacompy_spark.functions.text import tokens_sql

    a = float(alpha)
    return f"""
WITH ev AS (SELECT {tokens_sql(text_col)} AS l FROM {table} WHERE {eval_pred}),
tr AS (SELECT {id_col} AS doc_id, {tokens_sql(text_col)} AS l
       FROM {table} WHERE {train_pred}),
tt AS (SELECT w, count(*) AS ct
       FROM (SELECT unnest(l) AS w FROM ev) WHERE w <> '' GROUP BY w),
st AS (SELECT w, count(*) AS cs
       FROM (SELECT unnest(l) AS w FROM tr) WHERE w <> '' GROUP BY w),
vocab AS (
  SELECT coalesce(tt.w, st.w) AS w,
         coalesce(ct, 0)::BIGINT AS ct, coalesce(cs, 0)::BIGINT AS cs
  FROM tt FULL JOIN st ON tt.w = st.w),
tot AS (SELECT count(*) AS v, sum(ct) AS nt, sum(cs) AS ns FROM vocab),
ratios AS (
  SELECT w,
    floor((ln((ct::DOUBLE + {a}) / (nt::DOUBLE + {a} * v::DOUBLE))
           - ln((cs::DOUBLE + {a}) / (ns::DOUBLE + {a} * v::DOUBLE)))
          * 1000000000.0 + 0.5)::BIGINT AS lrq
  FROM vocab, tot),
toks AS (
  SELECT doc_id, w FROM (SELECT doc_id, unnest(l) AS w FROM tr)
  WHERE w <> ''),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(lrq)::BIGINT AS logratio_q
  FROM toks JOIN ratios USING (w) GROUP BY doc_id)
SELECT tr.doc_id,
  coalesce(per.n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(per.logratio_q, 0)::BIGINT AS logratio_q
FROM (SELECT DISTINCT doc_id FROM tr) tr LEFT JOIN per USING (doc_id)"""


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-level Shannon entropy of each document's NORMALIZED text
    (the shared 37-symbol a-z/0-9/space alphabet) — the gibberish /
    binary-spill / key-dump detector that length and repetition metrics
    miss: natural language sits in a band (~2.9–4.2 bits/char), random
    base64 pins the top, and a page of one repeated character pins the
    bottom. The standard cheap quality gate next to
    :func:`quality_metrics` and ``repetition_metrics``.

    H = −Σ (c_i/n)·log2(c_i/n) over per-document character counts. The
    per-(doc, char) term is quantized to 1e-9 integer units BEFORE the
    per-doc fold (the :func:`dsir_weights` rule: float addition is
    order-dependent across partitionings, integer addition is not), so
    ``entropy_q`` is exact under any layout. Zero-length normalized text
    keeps a row with ``entropy_q`` NULL via the id spine.

    Scale shape — the explode IS the fast path, measured (r11): the
    per-char ``explode`` folds map-side into ≤37 rows per document
    INSIDE its own stage (exploded rows never reach the network), and
    whole-stage-codegen Generate + partial HashAggregate outpaces the
    explode-free alternative — 37 in-plan
    ``length(s) − length(replace(s, ch, ''))`` projections — by ~3× per
    corpus byte, because each ``replace`` rebuilds the string: on 212M
    normalized chars (80k docs × ~2.6 KB), explode 0.66 s vs projection
    1.91 s on local[32]; same ordering at ×1. The projection variant's
    prettier plan (1 exchange, no join, no Generate) buys nothing — the
    2 post-fold exchanges here carry ≤37 rows/doc, not corpus bytes. The
    r10 hypothesis that the explode dominates at 100 TB is refuted by
    measurement; both variants and the A/B live in SCALING.md r11.

    Output ``(doc_id, n_chars_norm, entropy_q)``.
    """
    from datacompy_spark.functions.text import normalize

    chars = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize(F.col(text_col)), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / n.cast("double")
    term_q = F.floor(-p * F.log2(p) * F.lit(1_000_000_000.0) + F.lit(0.5)).cast(
        "long"
    )
    per_doc = (
        per_char.select("doc_id", F.col("c"), term_q.alias("tq"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chars_norm"),
            F.sum("tq").cast("long").alias("entropy_q"),
        )
    )
    spine = df.select(F.col(id_col).alias("doc_id")).distinct()
    return spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chars_norm", F.lit(0)).cast("long").alias("n_chars_norm"),
        "entropy_q",
    )


def char_entropy_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`char_entropy`."""
    from datacompy_spark.functions.text import normalize_sql

    return f"""
WITH chars AS (
  SELECT {id_col} AS doc_id, unnest(string_split({normalize_sql(text_col)}, '')) AS ch
  FROM {table}),
pc AS (
  SELECT doc_id, ch, count(*) AS c FROM chars WHERE ch <> '' GROUP BY 1, 2),
pn AS (
  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM pc),
pd AS (
  SELECT doc_id, sum(c)::BIGINT AS n_chars_norm,
    sum(floor(-(c::DOUBLE / n::DOUBLE) * log2(c::DOUBLE / n::DOUBLE)
              * 1000000000.0 + 0.5)::BIGINT)::BIGINT AS entropy_q
  FROM pn GROUP BY doc_id)
SELECT s.doc_id, coalesce(pd.n_chars_norm, 0)::BIGINT AS n_chars_norm,
       pd.entropy_q
FROM (SELECT DISTINCT {id_col} AS doc_id FROM {table}) s
LEFT JOIN pd USING (doc_id)"""
