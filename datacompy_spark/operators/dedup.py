"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-conscious:

* exact      — hash-groupBy on a canonical text hash (one shuffle);
* minhash    — shingle → 16 md5 minima → 4 LSH bands → bucket self-join →
               exact Jaccard verification on candidates only;
* simhash    — 60-bit packed signature, banded for candidate generation,
               Hamming-verified;
* ngram      — blocked pairwise character-n-gram Jaccard;
* embedding  — cosine near-duplicates blocked by a grouping column.

Scale notes: every pairwise step is preceded by a blocking/banding stage so
the self-join runs per-bucket, never all-pairs; bucket keys are md5-derived
and uniformly distributed, so the shuffle is skew-resistant by construction.
All logic is Column expressions (whole-stage codegen); nothing collects to
the driver.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacompy_spark.functions.hashing import (
    SIMHASH_BITS,
    hamming_distance,
    lsh_band_keys,
    minhash_from_hashes,
    shingle_hashes,
    token_hashes,
    word_shingles,
)
from datacompy_spark.functions.text import normalize, tokens
from datacompy_spark.plans.barrier import lineage_barrier
from datacompy_spark.plans.cache import tracked_persist

# NOTE on staging: expensive scalar expressions (normalize → regexes, md5)
# are materialized as real columns in their own projections before any
# higher-order-function lambda references them. Spark's codegen CSE does not
# reach inside lambdas — an inlined expression re-evaluates once per array
# ELEMENT (or per hash seed / per bit), which turns O(rows) work into
# O(rows × elements).


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups on normalized text: one row per distinct
    content hash with the survivor id (min) and duplicate count.

    Plan shape: project → hash → groupBy(hash) — a single partial-aggregated
    shuffle; output is O(distinct documents)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.md5(normalize(F.col(text_col))).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, shingle_k: int) -> DataFrame:
    """Staged shingling: tokens → distinct shingles → shingle hashes, each a
    real column so every md5/regex runs once per document. The shingle/hash
    lambdas are interpreted (no codegen), so the stage fans out first —
    a single-partition scan would serialize them onto one core."""
    from datacompy_spark.plans.partitioning import fan_out

    return (
        fan_out(
            df.select(
                F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
            )
        )
        .select(
            "doc_id",
            F.array_distinct(word_shingles(F.col("toks"), shingle_k)).alias("shingles"),
        )
        .select("doc_id", "shingles", shingle_hashes(F.col("shingles")).alias("shash"))
    )


def collapse_exact_content(df: DataFrame, id_col: str, text_col: str, eager: bool = True):
    """Split a corpus into exact-content duplicate groups: returns
    ``(members, reps)`` where ``members`` is (doc_id, chash) for every
    document and ``reps`` is one (chash, doc_id, toks) row per distinct
    token sequence (survivor = min id). The hot-bucket guard for LSH: k
    identical documents enter candidate generation as ONE row instead of
    k rows sharing every band bucket (k² candidates).

    The tokenized projection is persisted HERE, eagerly: members and reps
    both read it, and without the shared cache each consumer re-runs the
    corpus scan + regex tokenization + md5 — measured as a full duplicate
    tokenize pass per extra consumer at sf0.1. Callers therefore don't
    (and shouldn't) persist `members` themselves; it is a narrow
    projection of this cache."""
    from datacompy_spark.plans.partitioning import fan_out

    staged = fan_out(
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
    ).select("doc_id", "toks", F.md5(F.concat_ws("\x1f", "toks")).alias("chash"))
    staged = tracked_persist(staged)
    # eager=False (r14): callers whose FIRST action is a single-lineage
    # descendant of this cache (minhash: banded.count(); simhash:
    # sigs.count()) populate it as part of that action — an eager count
    # here would be one extra full tokenize-pass action per call. Callers
    # that fan straight into a multi-branch plan keep the default: two
    # concurrent stages racing an unpopulated cache each recompute the
    # tokenize pass.
    if eager:
        staged.count()
    members = staged.select("doc_id", "chash")
    reps = staged.groupBy("chash").agg(
        F.min("doc_id").alias("doc_id"), F.min_by("toks", "doc_id").alias("toks")
    )
    return members, reps


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """(id, minhash signature) — the reusable sketch table."""
    return _shingled(df, id_col, text_col, shingle_k).select(
        "doc_id",
        minhash_from_hashes(F.col("shash"), num_hashes).alias("signature"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, Jaccard-verified.

    Stages: (0) collapse exact-content duplicates (identical token
    sequences) to one representative each — k identical documents share
    every band bucket, so without this an adversarial corpus turns each
    bucket join into k² candidates; LSH only ever sees distinct content,
    and the duplicate groups are re-expanded into output pairs afterwards
    (identical content ⇒ Jaccard exactly 1.0, and a member pair qualifies
    iff its representative pair does, so output is unchanged);
    (1) per-representative shingle set + signature (narrow); (2) explode
    band keys and self-join per (band, key) bucket — a shuffle on
    uniformly-distributed md5 keys; (3) exact Jaccard on the candidate
    pairs' distinct shingle sets; emit pairs ≥ threshold, deduped across
    bands."""
    rows_per_band = num_hashes // bands
    # ---- stage 0: exact-content collapse --------------------------------
    # eager=False: banded.count() below materializes the whole
    # staged→base→banded cache chain in ONE serial action (r14 — was three)
    members, reps = collapse_exact_content(df, id_col, text_col, eager=False)
    # members is a narrow projection of collapse's eager cache — no extra persist
    # Persist the per-representative sketches: Spark re-evaluates projection
    # expressions per JOINED ROW in self-joins, so without materialization the
    # shingling/minhash work would run once per candidate pair instead of
    # once per document.
    base = tracked_persist(
        reps.select(
            "doc_id",
            "chash",
            F.array_distinct(word_shingles(F.col("toks"), shingle_k)).alias(
                "shingles"
            ),
        ).select(
            "doc_id",
            "chash",
            "shingles",
            shingle_hashes(F.col("shingles")).alias("shash"),
        )
    )
    # no count() here (r14): `banded` below is a single-lineage descendant —
    # its count() computes through this cache and populates it on the way,
    # so the self-join still reads a warm cache (the race the old eager
    # count guarded against needs an action that fans out BEFORE any
    # materialization; banded.count() cannot, it is serial)
    sig = base.withColumn(
        "signature", minhash_from_hashes(F.col("shash"), num_hashes)
    )
    keys = lsh_band_keys(F.col("signature"), bands, rows_per_band)
    # band rows carry only (doc_id, band, bkey) — shingle arrays never enter
    # the bucket shuffle
    banded = tracked_persist(
        sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("band"), k.alias("bkey"))
                        for b, k in enumerate(keys)
                    ]
                )
            ).alias("bk"),
        ).select("doc_id", "bk.band", "bk.bkey")
    )
    banded.count()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = base.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    scored = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("n_inter"),
            (F.size(F.col("sh_a")) + F.size(F.col("sh_b"))).alias("n_total"),
        )
    )
    # lineage barrier: without it Catalyst pushes the threshold filter
    # into the join condition and the set intersection evaluates TWICE
    # per pair (condition + projection). Rows here are 4 ints — cheap to
    # materialize at any scale.
    scored = lineage_barrier(scored, eager=False)
    rep_pairs = scored.select(
        "id_a",
        "id_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_total") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(threshold))
    # ---- re-expand exact-duplicate groups into output pairs -------------
    # cross-group: every member pair across a qualifying representative pair
    # carries that pair's Jaccard (identical content ⇒ identical shingles)
    ch_a = base.select(F.col("doc_id").alias("id_a"), F.col("chash").alias("ch_a"))
    ch_b = base.select(F.col("doc_id").alias("id_b"), F.col("chash").alias("ch_b"))
    m_a = members.select(F.col("chash").alias("ch_a"), F.col("doc_id").alias("m_a"))
    m_b = members.select(F.col("chash").alias("ch_b"), F.col("doc_id").alias("m_b"))
    cross = (
        rep_pairs.join(ch_a, "id_a")
        .join(ch_b, "id_b")
        .join(m_a, "ch_a")
        .join(m_b, "ch_b")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "jaccard",
        )
    )
    # within-group: identical token sequences are Jaccard 1.0 by definition
    w_a = members.select("chash", F.col("doc_id").alias("id_a"))
    w_b = members.select("chash", F.col("doc_id").alias("id_b"))
    within = (
        w_a.join(w_b, (w_a["chash"] == w_b["chash"]) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
        .filter(F.lit(1.0) >= F.lit(threshold))
    )
    return cross.unionAll(within)


def _simhash_by_vote(staged: DataFrame, carry_cols) -> DataFrame:
    """(carry_cols..., simhash) from a frame with a ``thash`` long-array
    column — the DataFrame-level SimHash evaluation: explode the token
    hashes and compute the 60 per-bit vote sums as codegen'd groupBy
    aggregates, then pack the sign bits into one long.

    Same math as :func:`~datacompy_spark.functions.hashing.
    simhash_from_hashes` (vote sums are order-independent, ties break
    unset; A/B checksums identical on the sf0.1 corpus), different
    execution: the Column form folds 60×T interpreted lambda steps inside
    ONE task per document — ~14-28 s per MB of document (SCALING.md r14
    long-document probe) — while this form is whole-stage-codegen
    arithmetic plus one partial-aggregated shuffle of 60 longs per
    document (~500 B/doc at any document size). Measured 3× faster on the
    normal sf0.1 corpus and 10× with an 8 MB outlier document; at 100 TB
    the monster document stops being a task-level cliff entirely.
    ``explode_outer`` keeps token-less documents (their votes aggregate
    over zero rows → NULL → every bit unset → signature 0, matching the
    Column form on an empty array)."""
    carry_cols = list(carry_cols)
    exploded = staged.select(*carry_cols, F.explode_outer("thash").alias("__h"))
    votes = [
        F.sum(
            F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"__v{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = exploded.groupBy(*carry_cols).agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"__v{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select(*carry_cols, sig.alias("simhash"))


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, 60-bit simhash) sketch table, via the vote-sum groupBy form
    (:func:`_simhash_by_vote` — long-document safe). Fans out first so
    the tokenize/hash/explode work spreads before the per-doc shuffle."""
    from datacompy_spark.plans.partitioning import fan_out

    staged = fan_out(
        df.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
        )
    ).select("doc_id", token_hashes(F.col("toks")).alias("thash"))
    return _simhash_by_vote(staged, ["doc_id"])


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance ≤ ``max_hamming``.

    Banding gives the standard pigeonhole guarantee: with 4 bands of 15 bits,
    any pair within Hamming distance 3 shares at least one exact band — so
    the per-band bucket join finds every true pair without an all-pairs
    scan. As in :func:`minhash_lsh_pairs`, exact-content duplicate groups
    are collapsed to one representative before banding (k identical
    documents share every band → k² candidates otherwise) and re-expanded
    afterwards: members inherit their representative's pairs, within-group
    pairs are Hamming 0 by definition."""
    bits_per_band = 60 // bands
    # eager=False: sigs.count() below is a single-lineage descendant of the
    # collapse cache and populates it in the same action (r14 — was two)
    members, reps = collapse_exact_content(df, id_col, text_col, eager=False)
    # members is a narrow projection of collapse's cache — no extra persist
    sigs = tracked_persist(
        _simhash_by_vote(
            reps.select("doc_id", "chash", token_hashes(F.col("toks")).alias("thash")),
            ["doc_id", "chash"],
        )
    )
    sigs.count()  # materialize before the self-join (see minhash note)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * bits_per_band)
                        .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                        .alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bkey")
    a, b = banded.alias("a"), banded.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    # re-expand exact-duplicate groups (see minhash_lsh_pairs)
    ch_a = sigs.select(F.col("doc_id").alias("id_a"), F.col("chash").alias("ch_a"))
    ch_b = sigs.select(F.col("doc_id").alias("id_b"), F.col("chash").alias("ch_b"))
    m_a = members.select(F.col("chash").alias("ch_a"), F.col("doc_id").alias("m_a"))
    m_b = members.select(F.col("chash").alias("ch_b"), F.col("doc_id").alias("m_b"))
    cross = (
        rep_pairs.join(ch_a, "id_a")
        .join(ch_b, "id_b")
        .join(m_a, "ch_a")
        .join(m_b, "ch_b")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "hamming",
        )
    )
    w_a = members.select("chash", F.col("doc_id").alias("id_a"))
    w_b = members.select("chash", F.col("doc_id").alias("id_b"))
    within = w_a.join(
        w_b, (w_a["chash"] == w_b["chash"]) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b", F.lit(0).cast("int").alias("hamming"))
    return cross.unionAll(within)


def _gram_hashes(s: str, n: int) -> list:
    """Sorted distinct 60-bit hashes of the character ``n``-grams of ``s``
    (the whole string is one gram when shorter than ``n``, the empty string
    included). ``md5(g)[:15]`` read as an int is bit-identical to Spark and
    DuckDB ``md5``; grams are deduplicated before hashing, as
    ``array_distinct``/``list_distinct`` do in the oracles."""
    if len(s) >= n:
        grams = dict.fromkeys(s[i : i + n] for i in range(len(s) - n + 1))
    else:
        grams = (s,)
    return sorted(
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) for g in grams
    )


def _ngram_base(
    df: DataFrame, id_col: str, text_col: str, block_col: str, n: int
) -> DataFrame:
    """(doc_id, block, grams): the PPJoin route's gram table, each document's
    :func:`_gram_hashes` as a sorted int array. Pairwise intersections then
    run over int arrays (no per-pair string hashing); the prefix path
    re-ranks the arrays separately.

    The gram pass runs as an Arrow-batched ``mapInPandas``: as Column
    expressions the substring and md5 steps are interpreted lambda HOFs (no
    codegen), which profiling showed dominating the operator ~5:1 over the
    pair verify. normalize() stays JVM-side so its regex semantics can't
    drift from the oracle's. ``text_col`` must hold no NULLs. The map keeps
    ``df``'s partitioning: a caller with a single-partition input fans it
    out first."""
    import pandas as pd

    staged = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(block_col).alias("block"),
        normalize(F.col(text_col)).alias("norm"),
    )
    id_type = staged.schema["doc_id"].dataType.simpleString()
    block_type = staged.schema["block"].dataType.simpleString()

    def gram_batches(batches):
        for pdf in batches:
            grams = [_gram_hashes(s, n) for s in pdf["norm"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "block": pdf["block"], "grams": grams}
            )

    return staged.mapInPandas(
        gram_batches,
        schema=f"doc_id {id_type}, block {block_type}, grams array<bigint>",
    )


def _rank_grams_by_frequency(base: DataFrame) -> DataFrame:
    """Re-rank each document's gram array by ASCENDING document frequency
    (ties by hash — a total order). The frequency order is what makes prefix
    filtering selective: a document's prefix then holds its rarest grams,
    whose inverted-index posting lists are short, so the candidate join
    meets few partners. (With an arbitrary order, common n-grams land in
    prefixes and every same-block pair collides — measured on a shared-vocab
    corpus: candidates ≈ all-pairs.) Costs three linear shuffles (gram
    counts, frequency join, per-doc regroup), repaid quadratically in the
    candidate join."""
    ex = base.select("doc_id", "block", F.explode("grams").alias("gram"))
    freq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("dfreq"))
    return (
        ex.join(freq, "gram")
        .groupBy("doc_id", "block")
        .agg(F.array_sort(F.collect_list(F.struct("dfreq", "gram"))).alias("ranked"))
        .select(
            "doc_id",
            "block",
            F.transform(F.col("ranked"), lambda s: s["gram"]).alias("grams"),
        )
    )


def _prefix_filter_candidates(
    base: DataFrame, threshold: float, pair_pred=None
) -> DataFrame:
    """PPJoin candidate generation over (doc_id, block, grams-sorted-asc):
    inverted-index equi-join on (block, prefix-gram) with the J ≥ t length
    filter. Exposed separately so scale tests can assert the candidate set
    stays O(near-matches) rather than O(block²). ``pair_pred`` narrows the
    join condition itself, so excluded pairs never reach dedup or the
    gram-array fetch."""
    sz = F.size(F.col("grams"))
    pref_len = (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int")
    pref = base.select(
        "doc_id",
        "block",
        sz.alias("sz"),
        F.explode(F.slice(F.col("grams"), 1, pref_len)).alias("gram"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cond = (
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # length filter: J ≥ t forces t·|a| ≤ |b| ≤ |a|/t
        & (F.col("b.sz") * F.lit(threshold) <= F.col("a.sz"))
        & (F.col("a.sz") * F.lit(threshold) <= F.col("b.sz"))
    )
    if pair_pred is not None:
        cond = cond & pair_pred(F.col("a.doc_id"), F.col("b.doc_id"))
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _sorted_intersect_batch(a, b):
    """Arrow-batch intersection SIZE of two pre-sorted distinct int arrays.

    Per pair: binary-search the smaller array into the larger
    (``np.searchsorted``, O((m+n) log n) in C) — no per-evaluation hash-set
    construction, which is what made JVM ``array_intersect`` the operator's
    hot loop at ~300k candidate pairs. Exact integer output, so there is no
    cross-engine float concern at all."""
    import numpy as np
    import pandas as pd

    out = np.zeros(len(a), dtype=np.int32)
    for i, (x, y) in enumerate(zip(a.to_numpy(), b.to_numpy())):
        if x is None or y is None or len(x) == 0 or len(y) == 0:
            continue
        if len(x) > len(y):
            x, y = y, x
        idx = np.searchsorted(y, x)
        idx[idx == len(y)] = len(y) - 1
        out[i] = int(np.count_nonzero(y[idx] == x))
    return pd.Series(out)


_SORTED_INTERSECT = None


def _intersect_size(a, b):
    """Column wrapper for :func:`_sorted_intersect_batch` (lazy pandas_udf —
    created once, after a session exists)."""
    global _SORTED_INTERSECT
    if _SORTED_INTERSECT is None:
        from pyspark.sql.functions import pandas_udf

        _SORTED_INTERSECT = pandas_udf(_sorted_intersect_batch, "int")
    return _SORTED_INTERSECT(a, b)


#: incidence-matrix column chunk of the per-block scorer: bounds its
#: working set to ``block × chunk`` float32 cells (16 MB at 1,000 documents)
_GRAM_CHUNK = 4096


def _block_jaccard_pairs(pdf, n: int, threshold: float):
    """Every ``id_a < id_b`` pair of one block (``doc_id``, ``norm``; no
    NULLs) with character-``n``-gram Jaccard ≥ ``threshold``, as
    ``(id_a, id_b, jaccard)``.

    Exact intersection sizes for all pairs at once: grams held by at least
    two of the block's documents get dense ids, and ``M @ M.T`` of the 0/1
    document × gram incidence matrix is summed over column chunks of
    ``_GRAM_CHUNK`` grams. The counts are integers far below 2**24, so
    float32 is exact. Rows are sorted by id first: a pair (i < j) then
    orders its ids, and rows that repeat an id never pair with each other
    (each of them still pairs with every other id). The length filter and
    the score are the PPJoin route's in float64:
    ``|b|·t ≤ |a|``, ``|a|·t ≤ |b|``, ``inter / (|a| + |b| − inter) ≥ t``."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("doc_id", kind="stable")
    ids = pdf["doc_id"].to_numpy()
    grams = [_gram_hashes(s, n) for s in pdf["norm"]]
    k = len(grams)
    sizes = np.fromiter(map(len, grams), dtype=np.int64, count=k)
    owner = np.repeat(np.arange(k), sizes)
    flat = np.fromiter(
        (g for gs in grams for g in gs), dtype=np.int64, count=int(sizes.sum())
    )
    _, gram_of, holders = np.unique(flat, return_inverse=True, return_counts=True)
    shared = holders[gram_of] >= 2
    gid = (np.cumsum(holders >= 2) - 1)[gram_of[shared]]
    order = np.argsort(gid, kind="stable")
    gid, owner = gid[order], owner[shared][order]
    n_shared = int(np.count_nonzero(holders >= 2))
    inter = np.zeros((k, k), dtype=np.float32)
    for lo in range(0, n_shared, _GRAM_CHUNK):
        a, b = np.searchsorted(gid, [lo, lo + _GRAM_CHUNK])
        m = np.zeros((k, min(_GRAM_CHUNK, n_shared - lo)), dtype=np.float32)
        m[owner[a:b], gid[a:b] - lo] = 1.0
        inter += m @ m.T

    i, j = np.triu_indices(k, 1)
    rank = np.concatenate(([0], np.cumsum(ids[1:] != ids[:-1])))
    n_inter = inter[i, j].astype(np.int64)
    sa, sb = sizes[i], sizes[j]
    jaccard = n_inter / (sa + sb - n_inter)
    keep = (
        (rank[i] < rank[j])
        & (sb * threshold <= sa)
        & (sa * threshold <= sb)
        & (jaccard >= threshold)
    )
    return pd.DataFrame(
        {"id_a": ids[i[keep]], "id_b": ids[j[keep]], "jaccard": jaccard[keep]}
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
    direct_block_cap: int = 1000,
    pair_pred=None,
) -> DataFrame:
    """Exact character-n-gram Jaccard pairs (≥ ``threshold``) within a
    blocking key, output ``(id_a, id_b, jaccard)`` with ``id_a < id_b``,
    with ADAPTIVE block-size routing:

    * blocks with ≤ ``direct_block_cap`` documents are scored whole, one
      block per Python call (``groupBy(block).applyInPandas``, see
      :func:`_block_jaccard_pairs`): the blocking key is the global
      partitioner and each block is a local all-pairs index. When
      qualifying pairs are dense (shared-vocabulary corpora run ~50% of
      same-block pairs over a 0.5 threshold), no candidate filter can beat
      this: output itself is the bound;
    * oversized blocks — the population that grows linearly with the corpus
      under a fixed-cardinality blocking key, i.e. the 100 TB hazard — go
      through PPJoin-style prefix filtering (Chaudhuri et al. SSJoin / Xiao
      et al. PPJoin): order every gram set by ascending global document
      frequency (ties by hash); any pair with Jaccard ≥ t must share one
      gram inside each side's first ``|x| − ⌈t·|x|⌉ + 1`` grams, so
      candidates come from an inverted-index equi-join on (block,
      prefix-gram) whose work scales with posting-list sizes, plus the
      ``t·|a| ≤ |b| ≤ |a|/t`` length filter, then an exact set-intersection
      verify.

    Both routes hash grams with :func:`_gram_hashes` and compute exact
    intersections, so output is identical to a naive all-pairs scan either
    way; a block is never scored by both routes. A NULL id, block or text
    never pairs.

    ``pair_pred`` (optional): ``f(id_a: Column, id_b: Column) -> Column``
    boolean predicate on the output pairs. The PPJoin route pushes it into
    its candidate join, so excluded pairs never reach the verify; the
    direct route applies it as a filter on its scored pairs. Must be a pure
    function of the two id values; it narrows the OUTPUT pair set, never
    the per-document gram stats."""
    docs = df.filter(
        F.col(id_col).isNotNull()
        & F.col(block_col).isNotNull()
        & F.col(text_col).isNotNull()
    )
    sizes = docs.groupBy(block_col).agg(F.count(F.lit(1)).alias("__bn"))
    # driver-side routing probe — one tiny action over the input's block
    # sizes (the AQE philosophy: pick the physical strategy from runtime
    # statistics). A route with no block to score vanishes from the plan.
    largest, smallest = sizes.agg(F.max("__bn"), F.min("__bn")).first()
    any_big = largest is not None and largest > direct_block_cap
    routes = []
    if smallest is None or smallest <= direct_block_cap:
        # one row per block key (bounded cardinality by construction)
        small = (
            docs.join(F.broadcast(sizes), block_col).filter(
                F.col("__bn") <= direct_block_cap
            )
            if any_big
            else docs
        ).select(
            F.col(id_col).alias("doc_id"),
            F.col(block_col).alias("block"),
            normalize(F.col(text_col)).alias("norm"),
        )
        id_type = small.schema["doc_id"].dataType.simpleString()

        def score_block(pdf):
            return _block_jaccard_pairs(pdf, n, threshold)

        direct = small.groupBy("block").applyInPandas(
            score_block, schema=f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
        if pair_pred is not None:
            direct = direct.filter(pair_pred(F.col("id_a"), F.col("id_b")))
        routes.append(direct)

    if any_big:
        from datacompy_spark.plans.partitioning import fan_out

        # the PPJoin route's gram hashing is a per-row Python map, so its
        # rows fan out first (the direct route shuffles on the block anyway)
        big = fan_out(docs).join(F.broadcast(sizes), block_col).filter(
            F.col("__bn") > direct_block_cap
        )
        # the gram base is read three times (frequency ranking, both sides
        # of the verify join): persisted, so the hashing runs once; the
        # returned plan stays lazy, so release_caches() owns the release
        base = tracked_persist(_ngram_base(big, id_col, text_col, block_col, n))
        ranked = _rank_grams_by_frequency(base)
        cand = _prefix_filter_candidates(ranked, threshold, pair_pred=pair_pred)
        ga = base.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a"))
        gb = base.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b"))
        verified = (
            cand.join(ga, "id_a")
            .join(gb, "id_b")
            .select(
                "id_a",
                "id_b",
                _intersect_size(F.col("g_a"), F.col("g_b")).alias("n_inter"),
                (F.size(F.col("g_a")) + F.size(F.col("g_b"))).alias("n_total"),
            )
        )
        routes.append(
            # lineage barrier: without it Catalyst pushes the jaccard filter
            # below this projection, and the intersect pandas UDF plans
            # twice (one ArrowEvalPython under the Filter, one above it for
            # the projection): a second Python-worker pass over every
            # candidate pair.
            lineage_barrier(verified, eager=False)
            .select(
                "id_a",
                "id_b",
                (
                    F.col("n_inter").cast("double")
                    / (F.col("n_total") - F.col("n_inter")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= F.lit(threshold))
        )
    return reduce(DataFrame.unionAll, routes)


def fuzzy_key_match(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str | None = None,
    n: int = 3,
    threshold: float = 0.6,
    direct_block_cap: int = 1000,
    method: str = "ngram",
    max_dist: int = 2,
    prefix_len: int = 64,
) -> DataFrame:
    """Cross-table fuzzy key matching: pairs of DISTINCT keys from the two
    sides whose normalized character-``n``-gram Jaccard is ≥ ``threshold``
    — the key-mapping table for a fuzzy join between datasets whose join
    keys drifted (typos, punctuation, case, dropped words). Output
    ``(key_left, key_right, jaccard)``; equi-join it back onto each side
    to realize the join.

    The 100 TB design: match the DISTINCT key domains, not the row sets —
    the mapping's size tracks key cardinality, so it is usually
    broadcast-sized even when the tables are not, and the expensive
    similarity work never touches full rows. The matching itself reuses
    :func:`ngram_jaccard_pairs` whole (adaptive direct / PPJoin-prefix
    routing): keys are tagged ``0:``/``1:`` by side and pooled into one
    corpus; ``'0' < '1'`` makes every cross-side pair land with the left
    key in ``id_a``, and same-side pairs are filtered out (pushed into the
    PPJoin route's candidate join; the direct route scores a block's
    same-side pairs too and drops them after). Identical keys
    on both sides match at Jaccard 1.0 (normalization differences — case,
    punctuation — also land at 1.0 by construction).

    ``method="editdist"`` swaps the similarity for the lossless
    edit-distance join (:func:`edit_distance_pairs`, ``max_dist`` /
    ``prefix_len``): output becomes ``(key_left, key_right, dist)``.
    Pick it when the drift is character-level (typos, OCR, digit slips) —
    one substituted character rewrites every n-gram it touches and can
    sink short keys below any Jaccard threshold, but is exactly dist 1.
    """
    if method not in ("ngram", "editdist"):
        raise ValueError("fuzzy_key_match method must be 'ngram' or 'editdist'")
    right_key = right_key or left_key
    lk = (
        left.select(F.col(left_key).cast("string").alias("__fk"))
        .filter(F.col("__fk").isNotNull())
        .distinct()
    )
    rk = (
        right.select(F.col(right_key).cast("string").alias("__fk"))
        .filter(F.col("__fk").isNotNull())
        .distinct()
    )
    tagged = (
        lk.select(F.concat(F.lit("0:"), F.col("__fk")).alias("__kid"), F.col("__fk"))
        .unionByName(
            rk.select(
                F.concat(F.lit("1:"), F.col("__fk")).alias("__kid"), F.col("__fk")
            )
        )
        .withColumn("__blk", F.lit(0))
    )
    # cross-side constraint: the PPJoin route pushes it into its candidate
    # join, so same-side pairs (0:-0:, 1:-1:) die on two substring compares
    # before the O(|grams|) verify; the direct route filters its scored
    # pairs with it. The post-filter below stays as a no-op safety net so
    # the output contract never depends on the pushdown.
    cross_side = lambda ia, ib: (  # noqa: E731
        (F.substring(ia, 1, 2) == "0:") & (F.substring(ib, 1, 2) == "1:")
    )
    if method == "editdist":
        pairs = edit_distance_pairs(
            tagged, "__kid", "__fk", max_dist=max_dist, prefix_len=prefix_len,
            pair_pred=cross_side,
        )
        score = "dist"
    else:
        pairs = ngram_jaccard_pairs(
            tagged, "__kid", "__fk", "__blk", n=n, threshold=threshold,
            direct_block_cap=direct_block_cap, pair_pred=cross_side,
        )
        score = "jaccard"
    return pairs.filter(
        (F.substring(F.col("id_a"), 1, 2) == "0:")
        & (F.substring(F.col("id_b"), 1, 2) == "1:")
    ).select(
        F.expr("substring(id_a, 3)").alias("key_left"),
        F.expr("substring(id_b, 3)").alias("key_right"),
        score,
    )


def _driver_union_find(spark, edge_rows, dtype) -> DataFrame:
    """Exact union-find over a collected (small) edge list — path-compressed,
    component labeled with its minimum node id; result parallelized back."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    schema = T.StructType(
        [T.StructField("node", dtype), T.StructField("component", dtype)]
    )
    return spark.createDataFrame(
        [(n, comp_min[find(n)]) for n in parent], schema
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 15,
    driver_cap: int = 1_000_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair list (id_a, id_b):
    every node's label converges to the smallest id reachable from it.

    ADAPTIVE routing on the edge count (the same design as the n-gram
    block router): near-dup graphs are tiny relative to their corpus — a
    100 TB corpus with 10⁹ near-dup pairs is pathological dedup input, a
    few hundred thousand is typical — so an edge list at or under
    ``driver_cap`` is collected via Arrow (two int64 numpy columns,
    ~16 MB of array data at the default cap; the transient Python tuple
    list handed to union-find adds roughly an order of magnitude of
    object overhead — still low hundreds of MB against a driver sized in
    GB) and solved with exact path-compressed union-find in one pass, no
    iteration. Larger graphs take the distributed loop:

    * each iteration propagates the min label across edges (one join +
      min-agg, merged with the previous labels via ``least``);
    * the pointer-doubling shortcut (node→label→label-of-label, one extra
      self-join + lineage barrier per round) is CONDITIONAL: it engages
      only once the per-round changed-label count stops halving — the
      signature of a long chain, where plain propagation needs
      O(diameter) rounds but doubling needs O(log diameter). Dense
      clusters never pay for the join; a 2^15-node chain still converges
      within the default ``max_iter`` instead of silently returning
      partial labels;
    * terminates early when no label changes; warns if ``max_iter`` is
      exhausted without convergence (the DuckDB oracle computes the exact
      transitive closure, so an unconverged return would silently
      diverge).

    Both routes return identical labels. Output: (node, component) where
    component is the cluster's minimum id.

    ``stats_out`` (observability hook, used by ``tools/scale_probe.py``):
    when a dict is passed, it is filled with ``route`` (driver|distributed),
    ``rounds``, ``doubling_from`` (round index where pointer doubling
    engaged, or None) and ``changed_history`` — the numbers behind the
    convergence claims in SCALING.md."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    n_edges = edges.count()  # also materializes the persist before reuse
    if n_edges <= driver_cap:
        if stats_out is not None:
            stats_out.update(
                {"route": "driver", "rounds": 0, "doubling_from": None,
                 "changed_history": []}
            )
        dtype = edges.schema["src"].dataType
        # Arrow collect: numpy columns, not a list of Row objects — Row +
        # per-field dict overhead is ~10× the serialized edge size
        pdf = edges.toPandas()
        edges.unpersist()
        rows = list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        return _driver_union_find(pairs.sparkSession, rows, dtype)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    labels.count()
    converged = False
    doubling = False
    prev_changed: int | None = None
    changed_history: list[int] = []
    doubling_from: int | None = None
    rounds = 0
    for it in range(max_iter):
        # min label arriving over incoming edges, merged with the current
        # label via `least` — one aggregation + one join per round (the
        # union-then-groupBy formulation costs an extra shuffle), and the
        # change flag rides along instead of needing a separate old-vs-new
        # join afterwards
        pmin = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("__p"))
        )
        stepped = (
            labels.join(pmin, "node", "left")
            .select(
                "node",
                F.least("component", "__p").alias("component"),
                (F.col("__p") < F.col("component")).alias("__chg"),
            )
        )
        if not doubling or it == 0:
            # plain propagation round: no barrier needed — the persisted
            # `labels` bounds recompute and lineage stays shallow over the
            # few rounds dense clusters take (doubling is an identity map
            # on round 0 regardless)
            new_labels = stepped.persist()
            changed = new_labels.filter(F.col("__chg")).count()
        else:
            # materialize + truncate lineage BEFORE the self-join below: the
            # doubling step references `stepped` twice, so without a barrier
            # the logical plan doubles every iteration (exponential analysis
            # cost)
            stepped = lineage_barrier(stepped)
            # pointer doubling: replace each label with its label's label, so
            # long chains collapse in O(log diameter) rounds, not O(diameter)
            lab_of_lab = stepped.select(
                F.col("node").alias("__c"), F.col("component").alias("__cc")
            )
            new_labels = (
                stepped.join(lab_of_lab, stepped["component"] == F.col("__c"), "left")
                .select(
                    "node",
                    F.coalesce(F.col("__cc"), F.col("component")).alias("component"),
                )
                .persist()
            )
            # doubling can rewrite labels beyond the propagation step, so
            # its changed-count needs the old-vs-new comparison
            changed = (
                new_labels.join(
                    labels.select("node", F.col("component").alias("__old")), "node"
                )
                .filter(F.col("component") != F.col("__old"))
                .count()
            )
        # the full count (not limit-1) doubles as the chain detector: a dense
        # cluster's changed count collapses geometrically, a chain's
        # plateaus at ~its length
        labels.unpersist()
        labels = new_labels
        rounds = it + 1
        changed_history.append(changed)
        if changed == 0:
            converged = True
            break
        if prev_changed is not None and changed * 2 > prev_changed:
            if not doubling:
                # the flag is read at the top of the NEXT iteration, so the
                # first doubling step actually runs in round it+2 (1-based)
                doubling_from = it + 2
            doubling = True  # shrink stalled → long chains; stays on
        prev_changed = changed
    edges.unpersist()
    if doubling_from is not None and rounds < doubling_from:
        # the flag was armed but the loop converged (or hit max_iter)
        # before round `doubling_from` ran — don't report a doubling round
        # that never executed
        doubling_from = None
    if stats_out is not None:
        stats_out.update(
            {"route": "distributed", "rounds": rounds,
             "doubling_from": doubling_from, "changed_history": changed_history}
        )
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: label propagation did not converge in "
            f"{max_iter} iterations; component ids may be partial",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", "component")


def assign_components(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    max_iter: int = 15,
    driver_cap: int = 1_000_000,
) -> DataFrame:
    """Component id for EVERY row of ``df``: near-dup cluster minimum for
    paired ids, own id for singletons — the final dedup verdict table
    (survivors are rows where component == id)."""
    cc = connected_components(
        pairs,
        max_iter=max_iter,
        driver_cap=driver_cap,
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )


def _projection_weights(dim: int, which: int = 0) -> list:
    """Deterministic md5-seeded unit vector used as a 1-D sub-bucketing
    projection — reproducible anywhere, no RNG state."""
    import hashlib
    import math

    tag = "" if which == 0 else f"{which}#"
    raw = [
        int(hashlib.md5(f"embproj#{tag}{i}".encode()).hexdigest()[:15], 16)
        / float(1 << 60)
        - 0.5
        for i in range(dim)
    ]
    nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / nrm for x in raw]


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.99,
    n_projections: int = 1,
) -> DataFrame:
    """Cosine near-duplicate pairs (≥ ``threshold``) among embeddings,
    blocked by ``block_col`` and SUB-bucketed by ``n_projections`` quantized
    1-D projections so block population never meets an all-pairs join.

    Exactness of the sub-bucketing: for unit vectors â, b̂ and a unit
    projection p, Cauchy-Schwarz gives ``|p·â − p·b̂| ≤ ‖â − b̂‖ =
    √(2 − 2·cos) ≤ √(2(1−t)) = w``. Quantizing each normalized projection
    at width w therefore puts every qualifying pair in the same or an
    adjacent bucket IN EVERY projection — the probe side emits the 3^m
    neighbor cells, the build side its own cell, and the exact cosine
    verify filters candidates, so output is identical to the naive
    per-block all-pairs scan. Pruning compounds per projection (cell
    population ~ density^m); probe fan-out grows 3^m — m of 1-3 is the
    practical range, and tighter thresholds shrink w and prune harder.

    Plan shape: one narrow projection pass (vector + norm + m projections
    computed once per row, persisted) → 3^m-probe equi-join on (block,
    cells) → exact cosine verify behind a lineage barrier."""
    import itertools

    from datacompy_spark.functions.vector import dot_arrow, norm

    m = max(1, int(n_projections))
    dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    width = (2.0 * (1.0 - min(threshold, 0.999999))) ** 0.5
    projs = []
    for j in range(m):
        w = F.array(*[F.lit(x) for x in _projection_weights(dim, j)])
        projs.append(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"), w, lambda x, wi: x * wi
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"proj{j}")
        )
    from datacompy_spark.plans.partitioning import fan_out

    # norms/projections are per-vector: compute them once per row, not per
    # pair — and fanned out, since the projection folds are interpreted
    bcols = [f"b{j}" for j in range(m)]
    base = fan_out(df).select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
        *projs,
    ).select(
        "vid",
        "block",
        "v",
        "nrm",
        # zero-norm vectors can never clear a positive cosine threshold;
        # park them in cell 0 instead of dividing by zero
        *[
            F.when(
                F.col("nrm") > 0,
                F.floor(F.col(f"proj{j}") / F.col("nrm") / F.lit(width)),
            )
            .otherwise(F.lit(0))
            .alias(bcols[j])
            for j in range(m)
        ],
    )
    base = tracked_persist(base)
    # No eager count (r15): the feared unpopulated-cache race (both
    # self-join sides recomputing the projection concurrently) was
    # measured NOT to manifest — on local[32] AND on a real multi-JVM
    # local-cluster[2,4,4096] boundary the scan input bytes are identical
    # with and without a pre-materializing count (the join's map stages
    # share one task pool, so the first stage populates the cache before
    # the second reads it), while the count itself always costs one extra
    # full-projection action. All base expressions are deterministic per
    # row, so even a true race would only duplicate work, never diverge
    # values.
    a = base.alias("a")
    # probe side emits its cell and every neighbor cell (3^m combos); each
    # qualifying pair meets on exactly one cell, so no candidate dedup is
    # needed
    probe_cells = F.explode(
        F.array(
            *[
                F.struct(
                    *[
                        (F.col(bcols[j]) + F.lit(d[j])).alias(bcols[j])
                        for j in range(m)
                    ]
                )
                for d in itertools.product((-1, 0, 1), repeat=m)
            ]
        )
    ).alias("cell")
    b = base.select("vid", "block", "v", "nrm", probe_cells).select(
        "vid", "block", "v", "nrm", *[F.col(f"cell.{c}").alias(c) for c in bcols]
    ).alias("b")
    cell_eq = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bcols],
    )
    scored = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & cell_eq
        & (F.col("a.vid") < F.col("b.vid")),
    ).select(
        F.col("a.vid").alias("id_a"),
        F.col("b.vid").alias("id_b"),
        # per-PAIR verify is the hot loop (candidates can approach per-block
        # all-pairs at loose thresholds): Arrow-batched numpy dot with the
        # identical fold order, not the interpreted HOF fold
        (
            F.try_divide(
                dot_arrow(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")
            )
        ).alias("cos_sim"),
    )
    # barrier: otherwise the threshold filter is pushed into the join and the
    # dot product evaluates twice per pair
    return lineage_barrier(scored, eager=False).filter(
        F.col("cos_sim") >= F.lit(threshold)
    )


def dedup_verdict(components: DataFrame) -> DataFrame:
    """Final per-document dedup verdict from a ``(doc_id, component)``
    assignment: survivor flag (component representative = minimum id, which
    is what both component implementations label clusters with) and cluster
    size.

    Cluster sizes come from ONE window over component, not an aggregate +
    join back: the input is typically the unpersisted tail of the whole
    pairs→components pipeline, and referencing it twice would recompute
    that pipeline twice. Window state per partition is a single counter and
    a component's rows are one cluster — bounded by the largest near-dup
    cluster, which the upstream exact-content collapse already caps."""
    from pyspark.sql import Window

    w = Window.partitionBy("component")
    return components.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_survivor"),
        F.count(F.lit(1)).over(w).alias("n_docs"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    pivot_mod: int = 37,
    threshold: float = 0.99,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings
    with a coarse quantizer, then prune inside each cluster — a vector is a
    semantic duplicate when its cosine to any LOWER-id cluster-mate reaches
    ``threshold``, so the lowest id in every tight group survives.

    The quantizer is the same deterministic one :func:`ivf_knn` uses
    (nearest of the vectors whose id ≡ 0 mod ``pivot_mod``) — reproducible
    and SQL-expressible, no k-means training loop. Output is one row per
    input vector: ``(id, cell, max_lower_cos, is_dup)``, where
    ``max_lower_cos`` is NULL for a vector with no lower-id cluster-mate.

    Scale shape: the assignment pass is narrow (pivots broadcast, one
    cosine per pivot per row); the pairwise stage is one self-join shuffled
    on cell id, O(Σ cell²) work exactly as published — cells average
    ``pivot_mod`` vectors, so pairwise cost is ~n·pivot_mod dot products,
    linear in n for a fixed quantizer density. At 100 TB you grow the pivot
    count with √n (pivot_mod ~ √n) to keep cells bounded; vectors with no
    pivot-id match still assign (every vector scores against every pivot).
    """
    from datacompy_spark.functions.vector import dot_arrow
    from datacompy_spark.operators.similarity import ivf_assign

    pivots = df.filter(F.col(id_col) % pivot_mod == 0)
    # (vid, v, vn, cell, cell_sim) — persisted, NOT eagerly materialized
    # (r15): it feeds both self-join sides plus the final per-vector
    # output, but the measured reality (local[32] and
    # local-cluster[2,4,4096], input-bytes witness) is that the branches
    # populate the cache on first use without duplicating the quantizer
    # pass, while the old eager count forced a FULL-WIDTH materialization
    # whose own scan doubled this query's input bytes (1.2 -> 0.6 MB at
    # sf0.1 without it — the branches' column pruning is narrower than
    # the count's). Deterministic expressions ⇒ a race could only
    # duplicate work, never diverge values.
    assign = tracked_persist(ivf_assign(df, pivots, id_col, vec_col))
    a = assign.alias("a")
    b = assign.alias("b")
    lower_max = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("b.vid").alias("vid"),
            F.try_divide(
                dot_arrow(F.col("a.v"), F.col("b.v")),
                F.col("a.vn") * F.col("b.vn"),
            ).alias("cos"),
        )
        .groupBy("vid")
        .agg(F.max("cos").alias("max_lower_cos"))
    )
    return (
        assign.join(lower_max, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "max_lower_cos",
            F.coalesce(
                F.col("max_lower_cos") >= F.lit(float(threshold)), F.lit(False)
            ).alias("is_dup"),
        )
    )


def semantic_dedup_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    pivot_mod: int = 37,
    threshold: float = 0.99,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` (same quantizer tie-break:
    highest cosine, then lowest pivot id)."""
    from datacompy_spark.functions.vector import cosine_sql

    cos_ap = cosine_sql(f"e.{vec_col}", f"p.{vec_col}", dim)
    cos_ab = cosine_sql(f"a.{vec_col}", f"b.{vec_col}", dim)
    return f"""
WITH pivots AS (
  SELECT {id_col}, {vec_col} FROM {table} WHERE {id_col} % {pivot_mod} = 0),
scored AS (
  SELECT e.{id_col} AS vid, e.{vec_col}, p.{id_col} AS cell,
    row_number() OVER (
      PARTITION BY e.{id_col}
      ORDER BY {cos_ap} DESC, p.{id_col} ASC) AS rnk
  FROM {table} e CROSS JOIN pivots p),
assigned AS (
  SELECT vid, {vec_col}, cell FROM scored WHERE rnk = 1),
lower_max AS (
  SELECT b.vid, max({cos_ab}) AS max_lower_cos
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vid < b.vid
  GROUP BY b.vid)
SELECT s.vid AS {id_col}, s.cell, l.max_lower_cos,
  coalesce(l.max_lower_cos >= {threshold!r}::DOUBLE, FALSE) AS is_dup
FROM assigned s LEFT JOIN lower_max l ON s.vid = l.vid"""


def _content_hash(text: "F.Column"):
    """md5 of normalized text with NULL folded to a sentinel hash group:
    equi-joins and group-bys must treat NULL text as one content class
    (exact_dedup's groupBy already does), never silently drop the rows."""
    return F.coalesce(F.md5(normalize(text)), F.lit("__null_text__"))


def _shingle_base(df: DataFrame, id_col: str, text_col: str, shingle_k: int) -> DataFrame:
    """(doc_id, shingles, shash) — the per-document sketch base shared by
    the incremental near-dup routes."""
    return (
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
        .select(
            "doc_id",
            F.array_distinct(word_shingles(F.col("toks"), shingle_k)).alias("shingles"),
        )
        .select("doc_id", "shingles", shingle_hashes(F.col("shingles")).alias("shash"))
    )


def _band_key_rows(base: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bkey) ONLY — shingle arrays never enter the bucket
    shuffle (same rule as minhash_lsh_pairs)."""
    rows_per_band = num_hashes // bands
    sig = base.withColumn("signature", minhash_from_hashes(F.col("shash"), num_hashes))
    keys = lsh_band_keys(F.col("signature"), bands, rows_per_band)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), k.alias("bkey"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "exact",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_dist: int = 2,
    prefix_len: int = 64,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING reference corpus — the
    recurring-ingest shape of a production training-data pipeline, where
    the corpus is the 100 TB side and the nightly batch is orders of
    magnitude smaller. The corpus×corpus pairing is never recomputed: only
    batch↔corpus and batch↔batch relations are examined, so per-ingest cost
    tracks the BATCH size (plus one streaming pass over the corpus), not
    the corpus.

    Output: one row per batch document —
    ``(doc_id, verdict ∈ {new, dup_corpus, dup_batch}, match_id)`` where
    ``dup_corpus`` carries the minimum matching corpus id, ``dup_batch``
    the surviving batch id, and ``new`` a NULL match_id. A batch document
    that duplicates both the corpus and another batch document reports
    ``dup_corpus`` (corpus precedence: it would be dropped regardless of
    what the rest of the batch contains).

    ``method='exact'`` (normalized-content hash):
      the batch collapses to its distinct hashes FIRST (a batch-sized
      aggregate), and that distinct-hash set is broadcast against the
      corpus scan — the 100 TB corpus is STREAMED past a hash set, never
      shuffled; only matching corpus rows survive into a batch-sized
      min-aggregate that is broadcast back. Zero wide dependencies on the
      corpus.

    ``method='minhash'`` (near-duplicate semantics, MinHash+LSH banding):
      batch representatives (exact-content collapse first, the hot-bucket
      guard from :func:`minhash_lsh_pairs`) band-join against corpus band
      keys — candidate generation is (batch band rows) × (matching corpus
      bucket rows), never corpus×corpus — and candidates are verified with
      the exact shingle-set Jaccard. Batch-internal near-dups among the
      corpus-clean remainder reuse :func:`minhash_lsh_pairs` +
      :func:`connected_components` (component minimum survives). At a real
      deployment the corpus's ``(doc_id, band, bkey)`` and shingle tables
      would be precomputed once and stored (they are pure functions of the
      text); this function derives them inline for self-containment.

    ``method='editdist'`` (typo-level semantics, Levenshtein ≤ ``max_dist``
      on the normalized ``prefix_len``-char key):
      batch↔corpus pairs via :func:`edit_distance_cross` — the corpus
      contributes two narrow streams (segment index + probe substrings)
      joined against the broadcast batch side and never self-pairs;
      batch-internal dups among corpus-clean docs via the self-join +
      connected components, exactly the minhash tail.
    """
    if method not in ("exact", "minhash", "editdist"):
        raise ValueError(f"unknown incremental-dedup method: {method!r}")

    if method == "exact":
        # NULL-text rows hash to the sentinel, not NULL: an inner equi-join
        # on a NULL key silently drops the row from the verdict frame, and
        # grouping all NULL texts together matches exact_dedup's groupBy
        # semantics (NULL is one content group)
        bh = batch.select(
            F.col(id_col).alias("doc_id"),
            _content_hash(F.col(text_col)).alias("chash"),
        )
        bk = bh.groupBy("chash").agg(F.min("doc_id").alias("batch_keep"))
        corpus_hashed = corpus.select(
            _content_hash(F.col(text_col)).alias("chash"),
            F.col(id_col).alias("corpus_id"),
        )
        # corpus scan → broadcast semi-join on the batch's distinct hashes →
        # min per hash: the only corpus-wide stage, and it is narrow
        matches = (
            corpus_hashed.join(F.broadcast(bk.select("chash")), "chash")
            .groupBy("chash")
            .agg(F.min("corpus_id").alias("corpus_match"))
        )
        out = bh.join(F.broadcast(matches), "chash", "left").join(
            F.broadcast(bk), "chash"
        )
        return out.select(
            "doc_id",
            F.when(F.col("corpus_match").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("batch_keep"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(F.col("corpus_match").isNotNull(), F.col("corpus_match"))
            .when(F.col("doc_id") != F.col("batch_keep"), F.col("batch_keep"))
            .alias("match_id"),
        )

    # ---- editdist route -------------------------------------------------
    if method == "editdist":
        # the batch's normalized keys are shared by the cross join AND the
        # batch-internal self-join: derive, persist, and materialize ONCE
        bkeys = tracked_persist(_ed_keys(batch, id_col, text_col, prefix_len))
        bkeys.count()
        rep_hits = (
            edit_distance_cross(
                batch, corpus, id_col, text_col,
                max_dist=max_dist, prefix_len=prefix_len,
                broadcast_left=True,
                _left_keys=bkeys,
            )
            .groupBy(F.col("id_l").alias("doc_id"))
            .agg(F.min("id_r").alias("corpus_match"))
        )
        pairs = edit_distance_pairs(
            batch, id_col, text_col, max_dist=max_dist, prefix_len=prefix_len,
            _keys=bkeys,
        )
        dup_ids = rep_hits.select(F.col("doc_id").alias("id_a"))
        clean_pairs = pairs.join(dup_ids, "id_a", "left_anti").join(
            dup_ids.withColumnRenamed("id_a", "id_b"), "id_b", "left_anti"
        )
        comp = assign_components(
            batch.select(F.col(id_col).alias("doc_id")).join(
                rep_hits.select("doc_id"), "doc_id", "left_anti"
            ),
            "doc_id",
            clean_pairs,
        )
        clean = comp.select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("component"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(F.col("doc_id") != F.col("component"), F.col("component")).alias(
                "match_id"
            ),
        )
        return rep_hits.select(
            "doc_id",
            F.lit("dup_corpus").alias("verdict"),
            F.col("corpus_match").alias("match_id"),
        ).unionByName(clean)

    # ---- minhash route --------------------------------------------------
    def _shingle_table(df: DataFrame) -> DataFrame:
        return _shingle_base(df, id_col, text_col, shingle_k)

    def _band_keys_of(base: DataFrame) -> DataFrame:
        return _band_key_rows(base, num_hashes, bands)

    # batch side: collapse exact-content duplicates before banding (the
    # hot-bucket guard), then band the representatives only
    members, reps = collapse_exact_content(batch, id_col, text_col)
    # members is a narrow projection of collapse's eager cache — no extra persist
    rep_docs = reps.select("doc_id", F.concat_ws(" ", "toks").alias("__text"))
    bbase = tracked_persist(_shingle_table(
        rep_docs.select(F.col("doc_id").alias(id_col), F.col("__text").alias(text_col))
    ))
    bbase.count()  # materialize before the joins: sketches compute once
    bband = _band_keys_of(bbase)

    # corpus pass 1: band keys for every corpus doc (narrow scan → explode;
    # at a real deployment this (doc_id, band, bkey) table is precomputed
    # and stored — it is a pure function of the text)
    cband = _band_keys_of(_shingle_table(corpus))
    # candidate generation: batch band rows meet only their corpus bucket —
    # the corpus never self-joins. Batch-side band rows are small; the join
    # shuffles the corpus band stream once on (band, bkey).
    cand = (
        bband.select(F.col("doc_id").alias("b_id"), "band", "bkey").join(
            cband.select(F.col("doc_id").alias("c_id"), "band", "bkey"),
            ["band", "bkey"],
        )
    ).select("b_id", "c_id").dropDuplicates(["b_id", "c_id"])
    cand = lineage_barrier(cand, eager=False)
    sh_b = bbase.select(F.col("doc_id").alias("b_id"), "shingles")
    # corpus pass 2 (verification) computes shingles ONLY for candidate
    # docs: semi-join the raw corpus down to the candidate id set FIRST,
    # then shingle the survivors — the candidate set is batch-driven and
    # small, so the expensive array construction never runs corpus-wide
    # a second time (and no corpus-wide shingle shuffle exists at all).
    cand_ids = cand.select(F.col("c_id").alias(id_col)).dropDuplicates()
    sh_c = _shingle_table(
        corpus.join(cand_ids, id_col, "left_semi")
    ).select(F.col("doc_id").alias("c_id"), F.col("shingles").alias("c_shingles"))
    inter = F.size(F.array_intersect(F.col("shingles"), F.col("c_shingles")))
    scored = (
        cand.join(sh_b, "b_id")
        .join(sh_c, "c_id")
        .select(
            "b_id",
            "c_id",
            inter.alias("n_inter"),
            (F.size("shingles") + F.size("c_shingles")).alias("n_total"),
        )
    )
    scored = lineage_barrier(scored, eager=False)
    rep_hits = (
        scored.select(
            "b_id",
            "c_id",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_total") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .groupBy("b_id")
        .agg(F.min("c_id").alias("corpus_match"))
    )
    # representative hit → every member of its exact-content group is a dup
    rep_ch = reps.select(F.col("doc_id").alias("b_id"), "chash")
    member_hits = (
        rep_hits.join(rep_ch, "b_id")
        .join(members, "chash")
        .select("doc_id", "corpus_match")
    )

    # batch-internal near-dups among corpus-clean docs: full batch pairs,
    # then components over the clean subgraph (a pair into a corpus-dup doc
    # is irrelevant — that doc is dropped anyway)
    pairs = minhash_lsh_pairs(
        batch,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        threshold=threshold,
    )
    dup_ids = member_hits.select(F.col("doc_id").alias("id_a"))
    clean_pairs = pairs.join(dup_ids, "id_a", "left_anti").join(
        dup_ids.withColumnRenamed("id_a", "id_b"), "id_b", "left_anti"
    )
    comp = assign_components(
        batch.select(F.col(id_col).alias("doc_id")).join(
            member_hits.select("doc_id"), "doc_id", "left_anti"
        ),
        "doc_id",
        clean_pairs,
    )
    clean = comp.select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("component"), F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.when(F.col("doc_id") != F.col("component"), F.col("component")).alias(
            "match_id"
        ),
    )
    hits = member_hits.select(
        "doc_id",
        F.lit("dup_corpus").alias("verdict"),
        F.col("corpus_match").alias("match_id"),
    )
    return hits.unionByName(clean)


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The precomputed LSH candidate index as a first-class output:
    ``(doc_id, band, bkey)`` — one row per document per band. This is
    exactly the state table :func:`incremental_dedup`'s docstring says a
    real deployment precomputes and stores (and the shape
    :func:`incremental_minhash_ledger` appends to): band keys are a pure
    function of the text, so the 100 TB corpus pays its sketch pass ONCE,
    writes this table bucketed by ``bkey``, and every later ingest probes
    it without re-shingling anything.

    A zero-join narrow pass: shingle → minhash → band keys → explode, no
    shuffle at all (writing it bucketed is the one shuffle, paid at write
    time)."""
    base = _shingle_base(df, id_col, text_col, shingle_k)
    return _band_key_rows(base, num_hashes, bands)


def dup_rate_by_group(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Corpus-health dashboard row per group (source/shard/crawl):
    document count, distinct exact-content count, and the duplication
    rate — the first number a dedup pass is judged by, per provenance.
    One partial-agg groupBy: the distinct-count's map-side combine does
    the per-group hash dedup, so row data never moves — only
    (group, hash) pairs. NULL text folds into the sentinel hash group
    (one content class, same as :func:`exact_dedup`)."""
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct(_content_hash(F.col(text_col)))
            .cast("long")
            .alias("n_distinct"),
        )
        .select(
            "grp",
            "n_docs",
            "n_distinct",
            (
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )


def ledger_probe(
    batch: DataFrame,
    ledger: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """PURE verdict core of the exact-hash ledger: probe a ``(chash,
    corpus_id)`` ledger frame with a batch and return one row per batch
    document — ``(doc_id, chash, verdict ∈ {new, dup_corpus, dup_batch},
    match_id)``. The ledger additions an ingest owes back to the state
    table are exactly the ``verdict = 'new'`` rows' ``(chash, doc_id)``.

    :func:`incremental_dedup_with_ledger` wraps this with the catalog
    table read/append lifecycle; the ``ledger_replay`` driver query calls
    it directly with staged frames so the verdict/replay contract earns a
    DuckDB-oracle row without needing catalog state.

    Plan shape: the batch collapses to its distinct hashes first, and the
    ledger scan streams past a broadcast of that hash set — the standing
    state is never shuffled.
    """
    bh = batch.select(
        F.col(id_col).alias("doc_id"),
        _content_hash(F.col(text_col)).alias("chash"),
    )
    bk = bh.groupBy("chash").agg(F.min("doc_id").alias("batch_keep"))
    matches = (
        ledger.join(F.broadcast(bk.select("chash")), "chash")
        .groupBy("chash")
        .agg(F.min("corpus_id").alias("corpus_match"))
    )
    return (
        bh.join(F.broadcast(matches), "chash", "left")
        .join(F.broadcast(bk), "chash")
        .select(
            "doc_id",
            "chash",
            F.when(F.col("corpus_match").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("batch_keep"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(F.col("corpus_match").isNotNull(), F.col("corpus_match"))
            .when(F.col("doc_id") != F.col("batch_keep"), F.col("batch_keep"))
            .alias("match_id"),
        )
    )


class LedgerLocationError(RuntimeError):
    """A ledger table is missing from the catalog while its managed-table
    directory exists — typically left behind by a session whose catalog
    died with it (the default in-memory catalog)."""

    def __init__(self, table: str, location: str):
        self.table, self.location = table, location
        super().__init__(
            f"ledger table {table!r} is not in the catalog, but its directory "
            f"{location} already exists (an orphaned ledger location). Remove "
            "the directory to start an empty ledger, or register a table over "
            f"it (CREATE TABLE {table} ... LOCATION '{location}') to keep its rows."
        )


def _save_ledger(writer, table: str) -> None:
    """``writer.saveAsTable(table)``, with Spark's LOCATION_ALREADY_EXISTS
    raised as :class:`LedgerLocationError`."""
    from pyspark.errors import PySparkException

    try:
        writer.saveAsTable(table)
    except PySparkException as exc:
        if exc.getCondition() != "LOCATION_ALREADY_EXISTS":
            raise
        location = (exc.getMessageParameters() or {}).get("location", "?")
        raise LedgerLocationError(table, location.strip("'")) from exc


def _check_ledger_locations(spark, *tables: str) -> None:
    """Raise :class:`LedgerLocationError` for the first table that is not in
    the catalog while its managed-table directory exists and is non-empty
    (the condition Spark's ``saveAsTable`` fails on) — checked for every
    table of a ledger before any of them is written, so an orphan under one
    table cannot leave a half-written ledger behind."""
    sc = spark.sparkContext
    for table in tables:
        if spark.catalog.tableExists(table):
            continue
        db, _, name = table.rpartition(".")
        db_uri = spark.catalog.getDatabase(db or spark.catalog.currentDatabase()).locationUri
        path = sc._jvm.org.apache.hadoop.fs.Path(f"{db_uri.rstrip('/')}/{name.lower()}")
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(path) and len(fs.listStatus(path)) > 0:
            raise LedgerLocationError(table, path.toString())


def incremental_dedup_with_ledger(
    spark,
    batch: DataFrame,
    ledger_table: str,
    id_col: str,
    text_col: str,
    num_buckets: int = 64,
    update_ledger: bool = True,
) -> DataFrame:
    """Exact incremental dedup against a PERSISTENT content-hash ledger —
    the stateful completion of :func:`incremental_dedup`: instead of
    re-hashing a standing corpus every ingest, the corpus is represented
    by a catalog table of ``(chash, corpus_id)`` rows, bucketed on
    ``chash``, that each ingest appends its survivors to. Ingest #N then
    costs O(batch) + a probe of the ledger — the 100 TB corpus itself is
    never touched again after its hashes are registered (register an
    existing corpus by running it through this function once as a batch
    against a fresh ledger).

    Verdict frame is identical in shape and semantics to
    :func:`incremental_dedup` exact mode. When ``update_ledger`` (default)
    the ``new`` rows' hashes are appended to the ledger atomically AFTER
    the verdicts materialize (the verdicts are computed eagerly so the
    append cannot feed back into its own probe); re-running the same batch
    afterwards therefore reports every document as ``dup_corpus`` — the
    idempotence a replayed ingest job needs.

    Bucketing on ``chash`` means the probe join never shuffles the ledger:
    the batch's distinct hashes broadcast against the ledger scan. Appends
    preserve the bucket layout (``bucketBy`` + ``saveAsTable`` append).

    A minhash-semantics ledger would store ``(band, bkey, doc_id)`` rows
    instead — same pattern, kept out of scope here because near-dup state
    additionally needs the shingle table for verification.
    """
    if spark.catalog.tableExists(ledger_table):
        ledger = spark.table(ledger_table)
    else:
        # first-ever ingest: the empty bootstrap frame must carry the SAME
        # id type as the batch (string ids would otherwise hit a
        # union/join type mismatch on the very first run)
        ledger = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("chash", T.StringType()),
                    T.StructField("corpus_id", batch.schema[id_col].dataType),
                ]
            ),
        )

    out = ledger_probe(batch, ledger, id_col, text_col)
    if not update_ledger:
        return out.drop("chash")

    # eager LINEAGE BARRIER, not a mere persist: appending to the catalog
    # table refreshes/invalidates every cached plan that READS that table,
    # so a persisted-but-lineage-bearing verdict frame would silently
    # recompute against the grown ledger on the caller's first action and
    # flip its own 'new' rows to 'dup_corpus'. The barrier severs the
    # table reference entirely — the verdicts are fixed before the append.
    out = lineage_barrier(out, eager=True)
    additions = out.filter(F.col("verdict") == "new").select(
        "chash", F.col("doc_id").alias("corpus_id")
    )
    _save_ledger(
        additions.write.mode("append").bucketBy(num_buckets, "chash").sortBy("chash"),
        ledger_table,
    )
    return out.drop("chash")


def incremental_minhash_ledger(
    spark,
    batch: DataFrame,
    ledger_prefix: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    num_buckets: int = 64,
    update_ledger: bool = True,
) -> DataFrame:
    """NEAR-duplicate incremental dedup against PERSISTENT MinHash state —
    the stateful completion of :func:`incremental_dedup`'s minhash mode,
    exactly the "(band, bkey, doc_id) ledger" the exact-hash ledger's
    docstring leaves out of scope. Two catalog tables carry the corpus:

    * ``{prefix}_bands``    — (bkey, band, doc_id), bucketed on ``bkey``:
      the LSH candidate index. An ingest probes it with the batch's band
      keys; bucketing means the probe streams the index without shuffling
      it (the batch side broadcasts).
    * ``{prefix}_shingles`` — (doc_id, shash), bucketed on ``doc_id``: the
      verification sketches (hashed-shingle sets, not raw shingle strings —
      candidate Jaccard over 60-bit md5 hashes equals shingle Jaccard up to
      a ~2⁻⁶⁰ collision). Only candidate doc ids are ever read from it.

    Per-ingest cost tracks the BATCH: batch docs collapse to exact-content
    representatives, reps band-key against the bands table, survivors'
    sketch rows append back. The standing corpus is never re-shingled —
    its sketches were paid for once, at its own ingest. Register an
    existing corpus by ingesting it once against fresh tables.

    Verdict frame matches :func:`incremental_dedup`: one row per batch doc,
    ``(doc_id, verdict ∈ {new, dup_corpus, dup_batch}, match_id)``, corpus
    precedence on double hits, batch-internal near-dups resolved by
    connected components (minimum id survives). When ``update_ledger``
    (default) the ``new`` docs' band + sketch rows append AFTER the
    verdicts pass a localCheckpoint lineage barrier — appending to a
    catalog table invalidates every cached plan reading it, so un-barriered
    verdicts would recompute against the grown ledger and flip their own
    ``new`` rows to ``dup_corpus`` (same hazard as the exact ledger).
    Replaying an ingest is then idempotent: every doc reports dup_corpus.
    """
    bands_table = f"{ledger_prefix}_bands"
    shingles_table = f"{ledger_prefix}_shingles"
    if update_ledger:
        # both locations before either append: the bands table must never
        # be written when the shingles table cannot be
        _check_ledger_locations(spark, bands_table, shingles_table)

    # batch side: exact-content collapse first (hot-bucket guard), then one
    # persisted sketch pass over the representatives — it feeds candidate
    # generation, verification, and the ledger append
    members, reps = collapse_exact_content(batch, id_col, text_col)
    rep_docs = reps.select(
        F.col("doc_id").alias(id_col),
        F.concat_ws(" ", "toks").alias(text_col),
    )
    bbase = tracked_persist(_shingle_base(rep_docs, id_col, text_col, shingle_k))
    bbase.count()
    bband = _band_key_rows(bbase, num_hashes, bands)

    if spark.catalog.tableExists(bands_table):
        cand = (
            F.broadcast(bband.select(F.col("doc_id").alias("b_id"), "band", "bkey"))
            .join(
                spark.table(bands_table).select(
                    F.col("doc_id").alias("c_id"), "band", "bkey"
                ),
                ["band", "bkey"],
            )
            .select("b_id", "c_id")
            .dropDuplicates(["b_id", "c_id"])
        )
        cand = lineage_barrier(cand, eager=False)
        # verification reads ONLY candidate sketches from the ledger: the
        # candidate id set is batch-driven and small, so it broadcasts and
        # the sketch table streams past it unshuffled
        sh_c = spark.table(shingles_table).join(
            F.broadcast(cand.select(F.col("c_id").alias("doc_id")).dropDuplicates()),
            "doc_id",
            "left_semi",
        ).select(F.col("doc_id").alias("c_id"), F.col("shash").alias("c_shash"))
        sh_b = bbase.select(F.col("doc_id").alias("b_id"), "shash")
        inter = F.size(F.array_intersect(F.col("shash"), F.col("c_shash")))
        rep_hits = (
            cand.join(F.broadcast(sh_b), "b_id")
            .join(sh_c, "c_id")
            .select(
                "b_id",
                "c_id",
                inter.alias("n_inter"),
                (F.size("shash") + F.size("c_shash")).alias("n_total"),
            )
            .select(
                "b_id",
                "c_id",
                (
                    F.col("n_inter").cast("double")
                    / (F.col("n_total") - F.col("n_inter")).cast("double")
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= F.lit(threshold))
            .groupBy("b_id")
            .agg(F.min("c_id").alias("corpus_match"))
        )
        rep_ch = reps.select(F.col("doc_id").alias("b_id"), "chash")
        member_hits = (
            rep_hits.join(rep_ch, "b_id")
            .join(members, "chash")
            .select("doc_id", "corpus_match")
        )
    else:
        # bootstrap frame typed from the batch id column — see the exact
        # ledger's first-ingest note
        _id_type = batch.schema[id_col].dataType
        member_hits = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_id", _id_type),
                    T.StructField("corpus_match", _id_type),
                ]
            ),
        )

    # batch-internal near-dups among corpus-clean docs (same subgraph rule
    # as incremental_dedup: a pair into a corpus-dup doc is irrelevant)
    pairs = minhash_lsh_pairs(
        batch,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        threshold=threshold,
    )
    dup_ids = member_hits.select(F.col("doc_id").alias("id_a"))
    clean_pairs = pairs.join(dup_ids, "id_a", "left_anti").join(
        dup_ids.withColumnRenamed("id_a", "id_b"), "id_b", "left_anti"
    )
    comp = assign_components(
        batch.select(F.col(id_col).alias("doc_id")).join(
            member_hits.select("doc_id"), "doc_id", "left_anti"
        ),
        "doc_id",
        clean_pairs,
    )
    clean = comp.select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("component"), F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.when(F.col("doc_id") != F.col("component"), F.col("component")).alias(
            "match_id"
        ),
    )
    hits = member_hits.select(
        "doc_id",
        F.lit("dup_corpus").alias("verdict"),
        F.col("corpus_match").alias("match_id"),
    )
    out = hits.unionByName(clean)
    if not update_ledger:
        return out

    # verdicts fixed BEFORE either append (see docstring); survivors are
    # always exact-content representatives, so their band and sketch rows
    # come straight from the cached batch sketch pass
    out = lineage_barrier(out, eager=True)
    new_ids = out.filter(F.col("verdict") == "new").select("doc_id")
    _save_ledger(
        bband.join(F.broadcast(new_ids), "doc_id")
        .select("bkey", "band", "doc_id")
        .write.mode("append")
        .bucketBy(num_buckets, "bkey")
        .sortBy("bkey"),
        bands_table,
    )
    _save_ledger(
        bbase.join(F.broadcast(new_ids), "doc_id")
        .select("doc_id", "shash")
        .write.mode("append")
        .bucketBy(num_buckets, "doc_id")
        .sortBy("doc_id"),
        shingles_table,
    )
    return out


def _even_segments_expr(length_col: str, k: int) -> str:
    """SQL expression: the canonical even partition of a string of length
    ``length_col`` into ``k`` contiguous segments — short segments first
    (lengths ``l div k``, then ``l div k + 1`` for the last ``l mod k``),
    1-based start positions. Both the index and the probe side derive
    boundaries from THIS expression, so they can never disagree."""
    return (
        f"transform(sequence(0, {k - 1}), i -> named_struct("
        f"'i', i, "
        f"'st', CAST(i * ({length_col} div {k}) + "
        f"  greatest(0, i - ({k} - {length_col} % {k})) + 1 AS INT), "
        f"'w', CAST(({length_col} div {k}) + "
        f"  (CASE WHEN i >= {k} - {length_col} % {k} THEN 1 ELSE 0 END) AS INT)))"
    )


def _ed_keys(df: DataFrame, id_col: str, text_col: str, prefix_len: int) -> DataFrame:
    """(doc_id, s, ls): the normalized ``prefix_len``-char comparison key
    — the single definition every edit-distance route derives from."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(
            F.substring(normalize(F.col(text_col)), 1, prefix_len), F.lit("")
        ).alias("s"),
    ).withColumn("ls", F.length("s").cast("int"))


def _ed_segment_index(long_keys: DataFrame, k: int, id_alias: str) -> DataFrame:
    """Inverted-index rows ``(src_l, i, seg, <id_alias>)``: the k even
    segments of every key (callers pre-filter to ``ls >= k``)."""
    return long_keys.select(
        F.col("doc_id").alias(id_alias),
        "ls",
        F.explode(F.expr(_even_segments_expr("ls", k))).alias("g"),
        "s",
    ).select(
        id_alias,
        F.col("ls").alias("src_l"),
        F.col("g.i").alias("i"),
        F.expr("substring(s, g.st, g.w)").alias("seg"),
    )


def _ed_probe_substrings(
    long_keys: DataFrame, k: int, max_dist: int, id_alias: str
) -> DataFrame:
    """Probe rows ``(src_l, i, seg, <id_alias>)``: for each key t, the
    candidate source lengths ``src_l ∈ [len(t)-τ, len(t)]`` (≥ k), each
    source length's segment boundaries, and t's substrings at starts
    within ±τ of the segment's home position — a constant
    ≤ (τ+1)²·(2τ+1) rows per key."""
    return (
        long_keys.select(
            F.col("doc_id").alias(id_alias),
            F.col("ls").alias("lt"),
            "s",
            F.explode(
                F.expr(f"sequence(greatest({k}, ls - {max_dist}), ls)")
            ).alias("src_l"),
        )
        .select(
            id_alias,
            "lt",
            "s",
            "src_l",
            F.explode(F.expr(_even_segments_expr("src_l", k))).alias("g"),
        )
        .select(
            id_alias,
            "src_l",
            F.col("g.i").alias("i"),
            F.col("g.w").alias("w"),
            "s",
            "lt",
            F.explode(
                F.expr(
                    f"sequence(greatest(1, g.st - {max_dist}),"
                    f" least(lt - g.w + 1, g.st + {max_dist}))"
                )
            ).alias("p"),
        )
        .select(
            id_alias, "src_l", "i", F.expr("substring(s, p, w)").alias("seg")
        )
    )


def edit_distance_cross(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int = 64,
    broadcast_left: bool = False,
    _left_keys: DataFrame | None = None,
) -> DataFrame:
    """CROSS-SET edit-distance join: every (left id, right id) pair whose
    normalized key prefixes are within ``max_dist`` — the batch-vs-corpus
    shape (``incremental_dedup method='editdist'``, fuzzy decontamination).
    Unlike pooling both sides through :func:`edit_distance_pairs`, neither
    side is ever self-paired: candidates only arise where one side's
    segment index meets the other side's probe substrings, so the 100 TB
    corpus contributes two NARROW streams (segments + probes) and zero
    corpus×corpus join output.

    Two directions cover the length pigeonhole (segments always come from
    the SHORTER string): left-index ⋈ right-probe finds pairs with
    ``len(l) <= len(r)``, right-index ⋈ left-probe the converse; the
    equal-length overlap dedups in the distinct. Keys shorter than
    ``max_dist+1`` join directly within the fixed ≤ 2·τ length class.
    ``broadcast_left=True`` hints the left (batch) side's index/probe
    frames as broadcast builds — the corpus then streams past them with
    no shuffle, the ``incremental_dedup`` exact-route discipline.

    Output: ``(id_l, id_r, dist)``, exact distances, identical to the
    naive cross scan (lossless blocking; same proof as the self-join)."""
    if max_dist < 1:
        raise ValueError("edit_distance_cross needs max_dist >= 1")
    k = max_dist + 1
    maybe_bcast = F.broadcast if broadcast_left else (lambda d: d)
    if _left_keys is not None:
        kl = _left_keys  # caller-persisted (incremental_dedup shares one frame)
    else:
        # tracked (see edit_distance_pairs): release_caches() reclaims it
        kl = tracked_persist(_ed_keys(left, id_col, text_col, prefix_len))
        kl.count()
    # the RIGHT (corpus) key frame feeds up to four subtrees — probe A,
    # index B, the short route, and the verify join — and until r15 was
    # re-derived (scan + normalize + substring over the corpus text) by
    # each. Persist + materialize the narrow (doc_id, ≤prefix_len chars,
    # int) projection once instead: the eager count is load-bearing here
    # because the first real action fans out into concurrent branches
    # (cand_a ∪ cand_b race an unpopulated cache into duplicate
    # evaluation — the minhash lesson, inverted). At 100 TB this is
    # rows×~80 B of MEMORY_AND_DISK cache vs 3 extra full-text passes;
    # release_caches() reclaims it.
    kr = tracked_persist(_ed_keys(right, id_col, text_col, prefix_len))
    kr.count()

    long_l, long_r = kl.filter(F.col("ls") >= k), kr.filter(F.col("ls") >= k)
    # direction A: left is the (equal-or-)shorter side
    cand_a = _ed_probe_substrings(long_r, k, max_dist, "id_r").join(
        maybe_bcast(_ed_segment_index(long_l, k, "id_l")),
        ["src_l", "i", "seg"],
    ).select("id_l", "id_r")
    # direction B: right is the strictly shorter side (src_l < probe length
    # always holds going this way for non-equal lengths; equal-length pairs
    # from both directions collapse in the distinct)
    cand_b = maybe_bcast(_ed_probe_substrings(long_l, k, max_dist, "id_l")).join(
        _ed_segment_index(long_r, k, "id_r"), ["src_l", "i", "seg"]
    ).select("id_l", "id_r")
    cand = cand_a.unionAll(cand_b)

    # short route: a pair whose SHORTER key has < k chars forces BOTH keys
    # into the <= 2·τ length class (|other| <= short+τ <= 2τ), so the left
    # short set being empty proves no qualifying pair involves a short key
    # on either side. Same key-domain discipline as the self-join route:
    # the non-equi length join runs over distinct keys, never doc rows.
    shorts_l = kl.filter(F.col("ls") <= 2 * max_dist)
    if shorts_l.limit(1).count() > 0:
        shorts_r = kr.filter(F.col("ls") <= 2 * max_dist)
        dom_pairs = (
            shorts_l.select("s", "ls").distinct().alias("da")
            .join(
                F.broadcast(shorts_r.select("s", "ls").distinct().alias("db")),
                F.abs(F.col("da.ls") - F.col("db.ls")) <= F.lit(max_dist),
            )
            .select(F.col("da.s").alias("__s_l"), F.col("db.s").alias("__s_r"))
        )
        short_pairs = (
            maybe_bcast(
                shorts_l.select(F.col("doc_id").alias("id_l"), F.col("s").alias("__s_l"))
            )
            .join(F.broadcast(dom_pairs), "__s_l")
            .join(
                shorts_r.select(
                    F.col("doc_id").alias("id_r"), F.col("s").alias("__s_r")
                ),
                "__s_r",
            )
            .select("id_l", "id_r")
        )
        cand = cand.unionAll(short_pairs)
    cand = cand.distinct()

    verified = (
        cand.join(maybe_bcast(kl.select(F.col("doc_id").alias("id_l"),
                                        F.col("s").alias("s_l"))), "id_l")
        .join(kr.select(F.col("doc_id").alias("id_r"), F.col("s").alias("s_r")),
              "id_r")
        .select(
            "id_l",
            "id_r",
            F.levenshtein("s_l", "s_r", max_dist).cast("long").alias("dist"),
        )
    )
    return (
        lineage_barrier(verified, eager=False)
        .filter(F.col("dist") >= 0)
        .select("id_l", "id_r", "dist")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int = 64,
    pair_pred=None,
    _keys: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance similarity self-join: every id pair whose normalized
    ``prefix_len``-char key prefixes are within Levenshtein distance
    ``max_dist`` — the record-linkage primitive (typo'd titles, OCR'd
    keys, near-identical URLs) that set-based Jaccard misses because a
    single transposed character rewrites every n-gram it touches.

    Output: ``(id_a, id_b, dist)`` with ``id_a < id_b`` and exact
    character-level distance, identical to a naive all-pairs
    ``levenshtein() <= max_dist`` scan (the DuckDB oracle runs exactly
    that) — the blocking below is lossless, never heuristic.

    Algorithm — partition-based pigeonhole signatures (the PassJoin family,
    Li/Deng/Feng, PVLDB 5(3) 2011), Spark-first:

    * every key is partitioned into ``max_dist + 1`` even segments; if
      ``ed(s, t) <= max_dist`` then by pigeonhole some segment of ``s``
      occurs VERBATIM in ``t``, and (position filter) at a start within
      ``±max_dist`` of its home position — so candidates come from an
      inverted-index EQUI-join on ``(source_length, segment_index,
      segment_text)``, never an all-pairs theta-join;
    * the probe side enumerates, per key, the ≤ ``(max_dist+1)`` source
      lengths ``ls ∈ [len(t)-max_dist, len(t)]`` and the ≤ ``2·max_dist+1``
      window starts per segment — a constant ≤ ``(τ+1)²·(2τ+1)``
      substrings per key, independent of corpus size;
    * keys shorter than ``max_dist + 1`` characters cannot host the
      pigeonhole (a segment would be empty and match everywhere); every
      pair involving one lives among keys of length ``<= 2·max_dist``, a
      fixed tiny length class joined directly;
    * candidates are canonicalized, deduplicated, and verified with the
      early-exit ``levenshtein(a, b, threshold)`` — the verify is exact,
      so false candidates cost time, never correctness.

    Scale note (documented hazard, same shape as ``ngram_jaccard_pairs``'s
    ``direct_block_cap``): a segment shared verbatim AND position-aligned
    by m keys (e.g. a constant 'Customer#' prefix spanning a whole
    segment) yields an m² candidate block. That is real positional
    similarity structure, but if the corpus has such a constant field,
    strip it into the normalization before calling — the pigeonhole
    cannot prune what every row shares.

    ``pair_pred`` (optional, same contract as ``ngram_jaccard_pairs``):
    ``f(id_a, id_b) -> Column`` boolean applied to the CANONICALIZED pair
    before the distinct and the levenshtein verify — pairs a caller will
    discard anyway (e.g. same-side pairs in :func:`fuzzy_key_match`'s
    pooled corpus) die on a cheap codegen compare before either is paid.
    """
    if max_dist < 1:
        raise ValueError("edit_distance_pairs needs max_dist >= 1")
    k = max_dist + 1
    if _keys is not None:
        keys = _keys  # caller-persisted (incremental_dedup shares one frame)
    else:
        # tracked: the RETURNED plan consumes this cache lazily, so the
        # function can't unpersist it — datacompy_spark.release_caches()
        # drops it once the caller has materialized the result
        keys = tracked_persist(_ed_keys(df, id_col, text_col, prefix_len))
        keys.count()  # materialize once: reused by index, probe, and verify

    # ---- short route: any pair whose shorter key has < k chars lives
    # entirely inside the length class <= 2*max_dist (|la-lb| <= tau).
    # The pairwise work runs over the DISTINCT KEY DOMAIN of that class
    # (bounded by the alphabet, not the corpus — a web-scrape corpus can
    # hold millions of docs whose text normalizes to the SAME empty/short
    # key, and a doc-level self-join there would be doc-count² with no
    # equi key); doc pairs are then recovered by two equi-joins on the
    # key, whose output is the qualifying pair set itself — output-bound,
    # like every similarity join. Probe like ngram's any_big so the empty
    # case (every key long) adds nothing to the plan.
    shorts = keys.filter(F.col("ls") <= 2 * max_dist)
    short_pairs = None
    if shorts.limit(1).count() > 0:
        dom = shorts.select("s", "ls").distinct()
        da, db = dom.alias("da"), dom.alias("db")
        # ordered AND unordered combos (incl. s==s): the doc-level
        # id_a < id_b filter below picks each doc pair exactly once
        dom_pairs = da.join(
            F.broadcast(db),
            F.abs(F.col("da.ls") - F.col("db.ls")) <= F.lit(max_dist),
        ).select(F.col("da.s").alias("__s_a"), F.col("db.s").alias("__s_b"))
        short_pairs = (
            shorts.select(F.col("doc_id").alias("id_a"), F.col("s").alias("__s_a"))
            .join(F.broadcast(dom_pairs), "__s_a")
            .join(
                shorts.select(
                    F.col("doc_id").alias("id_b"), F.col("s").alias("__s_b")
                ),
                "__s_b",
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )

    # ---- main route: inverted index of segments vs windowed substrings
    long_keys = keys.filter(F.col("ls") >= k)
    index = _ed_segment_index(long_keys, k, "idx_id")
    probe = _ed_probe_substrings(long_keys, k, max_dist, "prb_id")
    cand = probe.join(index, ["src_l", "i", "seg"]).select(
        F.col("idx_id"), F.col("prb_id")
    )
    cand = cand.select(
        F.least("idx_id", "prb_id").alias("id_a"),
        F.greatest("idx_id", "prb_id").alias("id_b"),
    ).filter(F.col("id_a") < F.col("id_b"))
    if short_pairs is not None:
        cand = cand.unionAll(short_pairs)
    if pair_pred is not None:
        cand = cand.filter(pair_pred(F.col("id_a"), F.col("id_b")))
    cand = cand.distinct()

    # ---- exact verify: early-exit threshold levenshtein; the barrier
    # keeps the distance filter from being re-evaluated inside the join
    ka = keys.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    kb = keys.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    verified = (
        cand.join(ka, "id_a")
        .join(kb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("s_a", "s_b", max_dist).cast("long").alias("dist"),
        )
    )
    return (
        lineage_barrier(verified, eager=False)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def knn_jaccard_graph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 5,
    n: int = 3,
    threshold: float = 0.2,
    direct_block_cap: int = 1000,
) -> DataFrame:
    """Document kNN graph by exact character-n-gram Jaccard: each
    document's top-``k`` most similar neighbors among the ≥ ``threshold``
    pairs — the similarity graph that clustering, SemDedup-style pruning
    and "show me near-duplicates of this doc" review tooling consume,
    where the dedup operators only need a verdict.

    Reuses :func:`ngram_jaccard_pairs` wholesale (adaptive direct /
    PPJoin-prefix routing per block, so the pair stage never goes
    all-pairs on an oversized block); the symmetric closure emits each
    pair in both directions from one read of the pairs (they are emitted
    once with ``id_a < id_b``), and
    the top-k is one hash-shuffle window with Spark's WindowGroupLimit
    pushing the rank filter into the sort — O(k) memory per task however
    hot a document's candidate list is. Documents with fewer than ``k``
    neighbors at the threshold emit fewer rows; documents with none emit
    no row (raise ``k``/lower ``threshold`` for denser graphs).

    Output ``(src, dst, jaccard, knn_rank)`` with rank 1..k by
    (jaccard DESC, dst ASC) — the tiebreak makes the graph deterministic
    under any partitioning.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from datacompy_spark.operators.analytics import top_k_per_group

    pairs = ngram_jaccard_pairs(
        df,
        id_col,
        text_col,
        block_col,
        n=n,
        threshold=threshold,
        direct_block_cap=direct_block_cap,
    )
    # both directions from one read of the pairs: a two-branch union would
    # plan the pair scorer once per branch
    sym = pairs.select(
        F.inline(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard"
                ),
                F.struct(
                    F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "jaccard"
                ),
            )
        )
    )
    return top_k_per_group(
        sym, ["src"], "jaccard", k, ascending=False, tiebreak=["dst"]
    ).withColumnRenamed("rank", "knn_rank")
