"""Driver-contract queries for the training-data pipeline operators
(dedup, similarity search, text analysis, events rollup) + DuckDB oracles.

Same cross-engine rules as ``queries.py``. Float outputs are restricted to
expressions verified bit-identical across engines (sequential double folds,
double divisions of exact integers, min/max selection — never re-ordered
double summation).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacompy_spark.functions import text as TX
from datacompy_spark.functions import hashing as H
from datacompy_spark.functions import vector as V
from datacompy_spark.operators import dedup as D
from datacompy_spark.operators import profile as PR
from datacompy_spark.operators import similarity as S
from datacompy_spark.operators import textops as TO
from datacompy_spark.plans.cache import tracked_persist
from datacompy_spark.sources.loaders import load_table


def _drain_stream(q, timeout_sec: int = 300) -> None:
    """Await a bounded (availableNow) streaming query; fail loudly on timeout.

    ``awaitTermination(t)`` returns False on timeout with the query still
    running — ignoring that and tearing down the input directory under a
    live stream yields a silently-partial memory table. Stop the query and
    raise instead."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} did not finish within {timeout_sec}s"
        )


# ------------------------------------------------------------------ dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content (one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "doc_id", "text")


SQL_DEDUP_EXACT = f"""
SELECT md5({TX.normalize_sql('text')}) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_docs
FROM documents GROUP BY 1"""


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) near-dup pairs, Jaccard-verified ≥ 0.3."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3, threshold=0.3
    )


def _sql_dedup_minhash() -> str:
    toks = TX.tokens_sql("text")
    sh = f"list_distinct({H.word_shingles_sql(toks, 3)})"
    sig = H.minhash_signature_sql("shingles", 16)
    band_keys = H.lsh_band_keys_sql("signature", 4, 4)
    band_structs = ", ".join(
        f"{{'band': {b}, 'bkey': {k}}}" for b, k in enumerate(band_keys)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {sh} AS shingles FROM documents),
sigs AS (
  SELECT doc_id, shingles, {sig} AS signature FROM base),
banded AS (
  SELECT doc_id, shingles, u.band AS band, u.bkey AS bkey
  FROM sigs, unnest([{band_structs}]) AS t(u)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
scored AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
    (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))::DOUBLE AS jaccard
  FROM cand c
  JOIN base sa ON sa.doc_id = c.id_a
  JOIN base sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.3::DOUBLE"""


SQL_DEDUP_MINHASH = _sql_dedup_minhash()


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit simhash signatures (fuzzy-bag fingerprint) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_signatures(docs, "doc_id", "text")


SQL_DEDUP_SIMHASH = f"""
SELECT doc_id, {H.simhash_sql(TX.tokens_sql('text'))} AS simhash
FROM documents"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise char-3-gram Jaccard ≥ 0.5 within (lang, length/50)
    buckets — the exact pairwise stage runs per-bucket, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "block", F.concat_ws("#", F.col("lang"), F.expr("n_chars div 50"))
    )
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", "block", n=3, threshold=0.5)


def _sql_dedup_ngram() -> str:
    grams = (
        f"list_transform({H.char_ngrams_sql(TX.normalize_sql('text'), 3)},"
        f" g -> {H.md5_long_sql('g')})"
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang || '#' || (n_chars // 50)::VARCHAR AS block, {grams} AS grams
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  len(list_intersect(a.grams, b.grams))::DOUBLE /
  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE AS jaccard
FROM base a JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE >= 0.5::DOUBLE"""


SQL_DEDUP_NGRAM = _sql_dedup_ngram()


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dups ≥ 0.3, blocked by label (the synthetic
    embeddings top out at ~0.47 within-label cosine, so 0.3 exercises a
    non-trivial survivor set)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(emb, "vec_id", "embedding", "label", threshold=0.3)


SQL_DEDUP_EMBEDDING = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    {V.cosine_sql('a.embedding', 'b.embedding', 64)} AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3::DOUBLE"""


_HTML_WRAP = (
    "<html><head><script>var x = 1 &amp;&amp; 2;</script>"
    "<style>p {color: red}</style></head>"
    "<!-- boilerplate comment --><body><h1>Title &amp; more</h1><p>"
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-ingest extraction: documents wrapped in synthetic HTML (script +
    style + comment blocks, entities, tags) must come back out as clean
    text. Every 7th doc gets its spaces entity-encoded (&nbsp;) and every
    53rd is NULL, so decode and NULL paths are oracle-exercised."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.when(
        F.col("doc_id") % 7 == 0, F.replace(F.col("text"), F.lit(" "), F.lit("&nbsp;"))
    ).otherwise(F.col("text"))
    html = F.when(
        F.col("doc_id") % 53 != 0,
        F.concat(F.lit(_HTML_WRAP), body, F.lit("</p></body></html>")),
    )
    return TO.strip_html(
        docs.select("doc_id", html.alias("html")), "doc_id", "html"
    )


SQL_HTML_EXTRACT = TO.strip_html_sql(
    "(SELECT doc_id, CASE WHEN doc_id % 53 <> 0 THEN "
    f"'{_HTML_WRAP}' || "
    "CASE WHEN doc_id % 7 = 0 THEN replace(text, ' ', '&nbsp;') ELSE text END"
    " || '</p></body></html>' END AS html FROM documents)",
    "doc_id",
    "html",
)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-rate scoring against a self-derived vocabulary (word tokens
    appearing ≥ 50 times corpus-wide): the tokenizer-coverage quality
    signal. NULLs PLANTED (every 53rd doc) for the spine path; the vocab
    is built BEFORE the nulling so its content is layout-stable."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = TO.word_frequencies(docs, "text").filter(F.col("n") >= 50)
    docs_n = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 53 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TO.vocab_coverage(docs_n, "doc_id", "text", vocab, vocab_col="word")


SQL_VOCAB_COVERAGE = TO.vocab_coverage_sql(
    "(SELECT doc_id, CASE WHEN doc_id % 53 = 0 THEN NULL ELSE text END AS text"
    " FROM documents)",
    "doc_id",
    "text",
    "(SELECT tok AS word FROM ("
    "SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS tok FROM documents)"
    " WHERE tok <> '' GROUP BY tok HAVING count(*) >= 50)",
    vocab_col="word",
)


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every 41st vector plays the
    held-out eval set; those vectors also live IN the corpus (realistic
    leakage), so they must surface at max_eval_cosine = 1.0 while the
    isotropic background stays well under the 0.45 verdict line."""
    emb = load_table(spark, sf_dir, "embeddings")
    eval_df = emb.filter(F.col("vec_id") % 41 == 0).select("embedding")
    return S.semantic_decontaminate(
        emb, "vec_id", "embedding", eval_df, threshold=0.45
    )


SQL_SEMANTIC_DECONTAMINATE = S.semantic_decontaminate_sql(
    "embeddings",
    "vec_id",
    "embedding",
    "(SELECT embedding FROM embeddings WHERE vec_id % 41 = 0)",
    dim=64,
    threshold=0.45,
)


# ------------------------------------------------------------- similarity

def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for probe vectors (vec_id % 97 = 0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 97 == 0)
    return S.knn_bruteforce(emb, probes, "vec_id", "embedding", k=5)


SQL_KNN_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    {V.cosine_sql('q.qv', 'c.embedding', 64)} AS cos_sim
  FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank::INT AS rank, cos_sim FROM ranked WHERE rank <= 5"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 8 tables × 4 sign bits, exact re-rank.

    Band shape is recall-tuned against the measured isotropic test
    embeddings (neighbor cos ≈ 0.32 ⇒ per-plane collision p ≈ 0.61):
    8 short 4-bit bands give recall@5 ≈ 0.6-0.7 where the previous
    4×8-bit config collided on essentially nothing (recall ≈ 0.03) —
    p^8 ≈ 0.018 vs p^4 ≈ 0.135 per table. See ``knn_recall``, which pins
    the measured recall of every approximate path against brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 97 == 0)
    return S.knn_lsh(
        emb, probes, "vec_id", "embedding", k=5, n_tables=8, n_planes=4, dim=64
    )


def _sql_knn_lsh() -> str:
    tables = [S.hyperplanes_from_seed(4, 64, f"lsh#{t}") for t in range(8)]

    def bucket_expr(vec: str, planes) -> str:
        terms = []
        for j, plane in enumerate(planes):
            lits = ", ".join(repr(x) for x in plane)
            d = (
                f"list_sum(list_transform(generate_series(1, 64),"
                f" i -> {vec}[i]::DOUBLE * ([{lits}]::DOUBLE[])[i]))"
            )
            terms.append(f"CASE WHEN {d} >= 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END")
        return "(" + " + ".join(terms) + ")"

    # bucket keys are computed as plain columns first: DuckDB cannot bind
    # table columns captured by lambdas nested inside an unnest() argument
    bucket_cols = ", ".join(
        f"{bucket_expr('embedding', planes)} AS bucket{t}"
        for t, planes in enumerate(tables)
    )
    band_structs = ", ".join(
        f"{{'tbl': {t}, 'bucket': bucket{t}}}" for t in range(len(tables))
    )
    return f"""
WITH keyed AS (
  SELECT vec_id, embedding, {bucket_cols} FROM embeddings),
banded AS (
  SELECT vec_id, embedding, u.tbl AS tbl, u.bucket AS bucket
  FROM keyed, unnest([{band_structs}]) AS t(u)),
qb AS (SELECT * FROM banded WHERE vec_id % 97 = 0),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                  qb.embedding AS qv, cb.embedding AS cv
  FROM qb JOIN banded cb
    ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND qb.vec_id <> cb.vec_id),
scored AS (
  SELECT query_id, neighbor_id, {V.cosine_sql('qv', 'cv', 64)} AS cos_sim FROM cand),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank::INT AS rank, cos_sim FROM ranked WHERE rank <= 5"""


SQL_KNN_LSH = _sql_knn_lsh()


# ------------------------------------------------------------------- text

def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic pivots (vec_id % 37 = 0), nprobe=4.

    nprobe is recall-tuned on the isotropic test embeddings: with no
    cluster structure, true neighbors smear across cells, so nprobe=2
    measured recall@5 ≈ 0.47; nprobe=4 reaches ≈ 0.8 at sf0.01 while
    still scanning < half the corpus. ``knn_recall`` pins the number."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 97 == 0)
    return S.ivf_knn(emb, probes, "vec_id", "embedding", k=5, pivot_mod=37, nprobe=4)


SQL_KNN_IVF = f"""
WITH p AS (SELECT vec_id AS pivot_id, embedding AS pv FROM embeddings WHERE vec_id % 37 = 0),
assign AS (
  SELECT e.vec_id, e.embedding, p.pivot_id,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY {V.cosine_sql('e.embedding', 'p.pv', 64)} DESC, p.pivot_id ASC) AS rnk
  FROM embeddings e CROSS JOIN p),
inv AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, pivot_id AS cell
  FROM assign WHERE rnk = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 97 = 0),
qprobe AS (
  SELECT query_id, qv, pivot_id AS cell FROM (
    SELECT q.query_id, q.qv, p.pivot_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY {V.cosine_sql('q.qv', 'p.pv', 64)} DESC, p.pivot_id ASC) AS rnk
    FROM q CROSS JOIN p)
  WHERE rnk <= 4),
scored AS (
  SELECT qp.query_id, i.neighbor_id,
    {V.cosine_sql('qp.qv', 'i.cv', 64)} AS cos_sim
  FROM qprobe qp JOIN inv i USING (cell)
  WHERE i.neighbor_id <> qp.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank::INT AS rank, cos_sim FROM ranked WHERE rank <= 5"""


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py::knn_pq): 8
    subspaces over deterministic pivot codebooks, ADC scan over the m-int
    code table, exact cosine rerank of the best 32. The memory-compressed
    scale path — the ADC phase never reads a raw corpus vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 97 == 0)
    return S.knn_pq(
        emb, probes, "vec_id", "embedding", k=5, dim=64, m=8, pivot_mod=37, rerank=32
    )


SQL_KNN_PQ = S.knn_pq_sql(
    "embeddings", "vec_id", "embedding", probe_mod=97,
    k=5, dim=64, m=8, pivot_mod=37, rerank=32,
)


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source balancing: keep at most 10 documents per source,
    chosen by a deterministic md5 lottery (operators/textops.py::
    cap_per_group) — the 'no host dominates the corpus' curation step.
    WindowGroupLimit keeps hot domains O(cap) per task."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.cap_per_group(
        docs.select("doc_id", "source"), "doc_id", "source", cap=10
    ).select("source", "doc_id", "cap_rank")


SQL_SOURCE_CAP = f"""
SELECT source, doc_id, cap_rank FROM (
  {TO.cap_per_group_sql('(SELECT doc_id, source FROM documents)', 'doc_id', 'source', cap=10)}
)"""


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join explosion diagnostic (operators/analytics.py::
    join_cardinality): exact per-key output size of a lineitem⋈lineitem
    join on l_partkey (left full, right limited to l_linenumber ≤ 4) —
    the top-10 heaviest keys and their share of total join output,
    computed from count aggregates without running the join."""
    from datacompy_spark.operators.analytics import join_cardinality

    li = load_table(spark, sf_dir, "lineitem")
    return join_cardinality(
        li, li.filter(F.col("l_linenumber") <= 4), ["l_partkey"], top_k=10
    )


SQL_JOIN_CARDINALITY = """
WITH lc AS (SELECT l_partkey, count(*) AS n_left FROM lineitem GROUP BY 1),
rc AS (SELECT l_partkey, count(*) AS n_right FROM lineitem
       WHERE l_linenumber <= 4 GROUP BY 1),
pairs AS (
  SELECT l.l_partkey, n_left, n_right,
         n_left::DECIMAL(19,0) * n_right::DECIMAL(19,0) AS pairs_dec
  FROM lc l JOIN rc r USING (l_partkey)),
t AS (SELECT sum(pairs_dec) AS total_dec FROM pairs),
ranked AS (
  SELECT p.*, t.total_dec,
    row_number() OVER (ORDER BY p.pairs_dec DESC, p.l_partkey::VARCHAR ASC) AS rank
  FROM pairs p CROSS JOIN t)
SELECT l_partkey, n_left::BIGINT AS n_left, n_right::BIGINT AS n_right,
  pairs_dec::DOUBLE AS n_pairs, total_dec::DOUBLE AS total_pairs,
  pairs_dec::DOUBLE / total_dec::DOUBLE AS pair_share, rank::INT AS rank
FROM ranked WHERE rank <= 10"""


def q_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (int8 prefilter over ALL candidates, pool
    of 50, exact float rerank) — the engine's recommended approximate
    path; measured recall@5 = 1.0 on the isotropic test embeddings where
    bucketed methods cap far lower (operators/similarity.py::
    knn_int8_rerank)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 97 == 0)
    return S.knn_int8_rerank(emb, probes, "vec_id", "embedding", k=5, pool=50)


def _sql_knn_int8(pool: int = 50, k: int = 5) -> str:
    from datacompy_spark.operators.similarity import quantize_embeddings_sql

    quant = quantize_embeddings_sql("embeddings", "vec_id", "embedding", bits=8)
    return f"""
WITH codes AS ({quant}),
qc AS (SELECT vec_id AS query_id, qvec AS q_code FROM codes WHERE vec_id % 97 = 0),
cc AS (SELECT vec_id AS neighbor_id, qvec AS c_code,
              {V.norm_int_sql('qvec', 64)} AS c_n
       FROM codes),
approx AS (
  SELECT q.query_id, c.neighbor_id,
         ({V.dot_int_sql('q.q_code', 'c.c_code', 64)})::DOUBLE / c.c_n AS approx
  FROM qc q JOIN cc c ON c.neighbor_id <> q.query_id),
pooled AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY approx DESC, neighbor_id ASC) AS prnk
    FROM approx) WHERE prnk <= {pool}),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         {V.cosine_sql('q.embedding', 'c.embedding', 64)} AS cos_sim
  FROM pooled p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings c ON c.vec_id = p.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank::INT AS rank, cos_sim FROM ranked WHERE rank <= {k}"""


SQL_KNN_INT8 = _sql_knn_int8()


def q_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of every APPROXIMATE ANN path (LSH, IVF, int8-rerank,
    PQ-ADC) against exact brute force over the same probe set — the
    approximation-quality gate
    the per-method oracles cannot express (they re-run the same algorithm,
    so a bad approximation would still "match"). The recall VALUE is what
    the correctness hash pins: a regression in banding, pivot assignment,
    or probing shifts it immediately.

    Scale shape: the three candidate frames come from the already-audited
    knn operators; grading is a left join on the (query, neighbor) pair key
    + one tiny aggregate per method. ``n_hits`` uses count(non-null marker)
    so both engines produce BIGINT; ``recall`` is the single double
    division the cross-engine gate allows."""
    # grade the REGISTERED query functions themselves, not re-specified
    # parameter sets: if knn_lsh/knn_ivf/knn_int8 are ever retuned, the
    # recall gate follows automatically instead of silently grading a
    # stale config (exactly the drift that produced a wrong recall row
    # when the LSH bands were first retuned this round).
    # exact is persisted while the three grades run (Spark shares no
    # unpersisted subplans, so the brute-force pass would otherwise
    # execute once per method), the grades are collected eagerly (the
    # q_cmp_column_stats precedent — tiny driver-side result), and the
    # cache is released before returning: no session-lifetime leak.
    exact = q_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id").persist()

    def graded(approx: DataFrame, method: str) -> DataFrame:
        j = exact.join(
            approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        return j.agg(
            F.count(F.lit(1)).alias("n_exact"), F.count("__hit").alias("n_hits")
        ).select(F.lit(method).alias("method"), "n_exact", "n_hits")

    # ONE collect over the union: the three approx subtrees become stages
    # of a single job and overlap across cores instead of serializing as
    # three actions (measured ~9 s → ~6 s at sf0.1)
    try:
        collected = (
            graded(q_knn_lsh(spark, sf_dir), "lsh")
            .unionByName(graded(q_knn_ivf(spark, sf_dir), "ivf"))
            .unionByName(graded(q_knn_int8(spark, sf_dir), "int8_rerank"))
            .unionByName(graded(q_knn_pq(spark, sf_dir), "pq_adc"))
            .collect()
        )
    finally:
        exact.unpersist()
    rows = sorted(
        (
            r["method"],
            r["n_exact"],
            r["n_hits"],
            float(r["n_hits"]) / float(r["n_exact"]),
        )
        for r in collected
    )
    schema = "method string, n_exact long, n_hits long, recall double"
    return spark.createDataFrame(rows, schema)


SQL_KNN_RECALL = f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({SQL_KNN_BRUTEFORCE})),
lsh AS (SELECT query_id, neighbor_id FROM ({SQL_KNN_LSH})),
ivf AS (SELECT query_id, neighbor_id FROM ({SQL_KNN_IVF})),
int8 AS (SELECT query_id, neighbor_id FROM ({SQL_KNN_INT8})),
pq AS (SELECT query_id, neighbor_id FROM ({SQL_KNN_PQ})),
g_lsh AS (
  SELECT 'lsh' AS method, count(*) AS n_exact, count(a.query_id) AS n_hits
  FROM exact e LEFT JOIN lsh a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
g_ivf AS (
  SELECT 'ivf' AS method, count(*) AS n_exact, count(a.query_id) AS n_hits
  FROM exact e LEFT JOIN ivf a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
g_int8 AS (
  SELECT 'int8_rerank' AS method, count(*) AS n_exact, count(a.query_id) AS n_hits
  FROM exact e LEFT JOIN int8 a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
g_pq AS (
  SELECT 'pq_adc' AS method, count(*) AS n_exact, count(a.query_id) AS n_hits
  FROM exact e LEFT JOIN pq a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT method, n_exact, n_hits, n_hits::DOUBLE / n_exact::DOUBLE AS recall
FROM (SELECT * FROM g_lsh UNION ALL SELECT * FROM g_ivf
      UNION ALL SELECT * FROM g_int8 UNION ALL SELECT * FROM g_pq)
ORDER BY method"""


def q_cmp_rel_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative tolerance semantics: |a-b| <= abs_tol + rel_tol*|b|,
    asymmetric in the df2 side (ref numeric.py:318-322)."""
    from datacompy_spark.operators.compare import SparkCompare

    part = load_table(spark, sf_dir, "part")
    df1 = part.select("p_partkey", "p_retailprice")
    df2 = part.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 4 == 0, F.col("p_retailprice") * F.lit(1.0005))
        .when(F.col("p_partkey") % 4 == 1, F.col("p_retailprice") * F.lit(1.01))
        .otherwise(F.col("p_retailprice"))
        .alias("p_retailprice"),
    )
    c = SparkCompare(
        spark, df1, df2, join_columns=["p_partkey"], rel_tol=0.001, assume_unique=True
    )
    return c.intersect_rows.select(
        "p_partkey", F.col("p_retailprice_match").alias("p_retailprice_match")
    )


SQL_CMP_REL_TOL = """
WITH df2 AS (
  SELECT p_partkey,
    CASE WHEN p_partkey % 4 = 0 THEN p_retailprice * 1.0005::DOUBLE
         WHEN p_partkey % 4 = 1 THEN p_retailprice * 1.01::DOUBLE
         ELSE p_retailprice END AS p_retailprice
  FROM part)
SELECT p.p_partkey,
  ((p.p_retailprice IS NOT DISTINCT FROM d.p_retailprice)
   OR (p.p_retailprice IS NOT NULL AND d.p_retailprice IS NOT NULL
       AND abs(p.p_retailprice - d.p_retailprice)
           <= 0.0::DOUBLE + 0.001::DOUBLE * abs(d.p_retailprice))) AS p_retailprice_match
FROM part p JOIN df2 d USING (p_partkey)"""


def q_cmp_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType end-to-end through the engine: exact decimal equality and
    the int/decimal→double pre-cast tolerance path (ref numeric.py:287-304).
    Double→decimal(12,2) casts round identically in Spark and DuckDB
    (verified: both HALF_UP on the binary double value)."""
    from datacompy_spark.operators.compare import SparkCompare

    part = load_table(spark, sf_dir, "part")
    dec = F.col("p_retailprice").cast("decimal(12,2)")
    df1 = part.select("p_partkey", dec.alias("price"))
    df2 = part.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 5 == 0, dec + F.lit(0.01).cast("decimal(12,2)"))
        .when(F.col("p_partkey") % 7 == 0, F.lit(None).cast("decimal(13,2)"))
        .otherwise(dec.cast("decimal(13,2)"))
        .alias("price"),
    )
    c = SparkCompare(spark, df1, df2, join_columns=["p_partkey"], assume_unique=True)
    return c.intersect_rows.select(
        "p_partkey", F.col("price_match").alias("price_match")
    )


SQL_CMP_DECIMAL = """
WITH df1 AS (
  SELECT p_partkey, p_retailprice::DECIMAL(12,2) AS price FROM part),
df2 AS (
  SELECT p_partkey,
    CASE WHEN p_partkey % 5 = 0 THEN p_retailprice::DECIMAL(12,2) + 0.01::DECIMAL(12,2)
         WHEN p_partkey % 7 = 0 THEN NULL
         ELSE p_retailprice::DECIMAL(12,2) END AS price
  FROM part)
SELECT df1.p_partkey, (df1.price IS NOT DISTINCT FROM df2.price) AS price_match
FROM df1 JOIN df2 USING (p_partkey)"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TO.text_stats(docs, "doc_id", "text")


def _sql_text_stats() -> str:
    m = TX.quality_metrics_sql("text")
    cols = ", ".join(f"{expr} AS {name}" for name, expr in m.items())
    return f"SELECT doc_id, {cols} FROM documents"


SQL_TEXT_STATS = _sql_text_stats()


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TO.detect_language(docs, "doc_id", "text")


SQL_LANG_ID = f"SELECT doc_id, {TX.language_id_sql('text')} AS lang_pred FROM documents"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TO.token_counts(docs, "doc_id", "text")


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
  len({TX.tokens_sql('text')})::BIGINT AS ws_tokens,
  {TX.regex_token_count_sql('text')}::BIGINT AS re_tokens
FROM documents"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TO.fingerprint(docs, "doc_id", "text", ngram=5)


def _sql_doc_fingerprint() -> str:
    norm = TX.normalize_sql("text")
    grams = H.char_ngrams_sql(norm, 5)
    return f"""
SELECT doc_id,
  md5({norm}) AS content_md5,
  list_min(list_transform({grams}, g -> md5(g))) AS min_ngram_md5,
  {H.simhash_sql(TX.tokens_sql('text'))} AS simhash
FROM documents"""


SQL_DOC_FINGERPRINT = _sql_doc_fingerprint()


# ------------------------------------------------------------------ events

def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup by event type (batch twin of the streaming
    windowed aggregation in datacompy_spark.streaming)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  min(value) AS min_value,
  max(value) AS max_value
FROM events GROUP BY 1, 2"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout) per user — the batch twin of
    a stateful streaming session-window operator."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::BIGINT > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
FROM g GROUP BY 1"""


def q_cmp_ignore_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String normalization flags: ignore_spaces (trim) + ignore_case (upper)
    applied to compared values (ref string.py:488-511)."""
    cust = load_table(spark, sf_dir, "customer")
    df1 = cust.select("c_custkey", "c_name", "c_mktsegment")
    df2 = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.upper(F.col("c_name")))
        .when(F.col("c_custkey") % 3 == 1, F.concat(F.col("c_name"), F.lit("  ")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.col("c_mktsegment"),
    )
    from datacompy_spark.operators.compare import SparkCompare

    c = SparkCompare(
        spark, df1, df2, join_columns=["c_custkey"],
        ignore_spaces=True, ignore_case=True, assume_unique=True,
    )
    return c.intersect_rows.select(
        "c_custkey",
        F.col("c_name_match").alias("c_name_match"),
        F.col("c_mktsegment_match").alias("c_mktsegment_match"),
    )


SQL_CMP_IGNORE_FLAGS = """
WITH df2 AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
         WHEN c_custkey % 3 = 1 THEN c_name || '  '
         ELSE c_name END AS c_name,
    c_mktsegment
  FROM customer)
SELECT c.c_custkey,
  (upper(trim(c.c_name)) IS NOT DISTINCT FROM upper(trim(d.c_name))) AS c_name_match,
  (upper(trim(c.c_mktsegment)) IS NOT DISTINCT FROM upper(trim(d.c_mktsegment))) AS c_mktsegment_match
FROM customer c JOIN df2 d USING (c_custkey)"""


def q_stream_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING windowed-profile operator executed through Structured
    Streaming micro-batches (file source → availableNow → memory sink); the
    oracle is plain batch SQL — stream must equal batch exactly. Output
    avoids re-ordered double sums (count/min/max only) for cross-engine
    bit-parity."""
    import uuid

    from datacompy_spark.streaming.drift import windowed_profile

    ev = load_table(spark, sf_dir, "events")
    # file streaming source needs a micro-batch-readable copy (ns timestamps
    # already normalized by the loader)
    tmp = f"/tmp/dcs_stream_{uuid.uuid4().hex[:8]}"
    ev.coalesce(4).write.parquet(tmp)
    stream = spark.readStream.schema(ev.schema).parquet(tmp)
    prof = windowed_profile(stream, "ts", "value", "1 hour", group_cols=["event_type"])
    name = f"profile_{uuid.uuid4().hex[:8]}"
    q = (
        prof.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    _drain_stream(q, 300)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)  # results live in the memory sink
    return spark.table(name).select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_rows",
        "n_nulls",
        "min_value",
        "max_value",
    )


SQL_STREAM_HOURLY_PROFILE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_rows,
  sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
  min(value) AS min_value,
  max(value) AS max_value
FROM events GROUP BY 1, 2"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed temporal range join: click→purchase conversion pairs within
    10 minutes for the same user (equi-join on (user, time-bucket), never a
    per-key cross product)."""
    from datacompy_spark.operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    out = range_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        lower_ms=-600_000, upper_ms=0,
    )
    return out.select("user_id", "purchase_id_l", "click_id_r").toDF(
        "user_id", "purchase_id", "click_id"
    )


SQL_EVENTS_RANGE_JOIN = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 600000
 AND epoch_ms(c.ts) <= epoch_ms(p.ts)"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup capstone: MinHash near-dup pairs → connected components →
    a component id for every document (survivor = component == doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3, threshold=0.3
    )
    return D.assign_components(docs, "doc_id", pairs)


def _sql_dedup_components() -> str:
    # reuse the full minhash-pair SQL as the edge list, then a recursive CTE
    # computes per-node minimum reachable id (DuckDB dedups UNION rows, so
    # the recursion reaches a fixpoint)
    pair_sql = _sql_dedup_minhash().strip()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (
  SELECT src AS node, least(src, min(dst)) AS component FROM reach GROUP BY src)
SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS component
FROM documents d LEFT JOIN labels l ON l.node = d.doc_id"""


SQL_DEDUP_COMPONENTS = _sql_dedup_components()


def q_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequencies via explicit two-stage salted aggregation
    (skew-safe path; identical result to the direct groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.word_frequencies(docs, "text", salt_buckets=8)


SQL_WORD_FREQUENCIES = f"""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest({TX.tokens_sql('text')}) AS w FROM documents)
WHERE w <> '' GROUP BY 1"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event gets the most recent prior click's
    value for the same user (union-merge implementation, one shuffle)."""
    from datacompy_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts",
        carry_cols=["value"], tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "ts", "asof_ts", "asof_value")


SQL_EVENTS_ASOF = """
WITH u AS (
  SELECT user_id, ts AS t, 0 AS tag, event_id AS tb, value AS cv, ts AS cts,
         NULL::BIGINT AS pid
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 1, event_id, NULL, NULL, event_id
  FROM events WHERE event_type = 'purchase'),
w AS (
  SELECT *,
    last_value(cts IGNORE NULLS) OVER win AS asof_ts,
    last_value(cv IGNORE NULLS) OVER win AS asof_value
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY t, tag, tb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT pid AS event_id, user_id, t AS ts, asof_ts, asof_value
FROM w WHERE tag = 1"""


# --------------------------------------------------------------- registry

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass over documents (SURVEY training-pipeline ops)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.scrub_pii(docs, "doc_id", "text")


def _sql_pii_scrub() -> str:
    m = TO.scrub_pii_sql("text")
    return (
        f"SELECT doc_id, {m['clean_text']} AS clean_text, "
        f"{m['n_redactions']} AS n_redactions FROM documents"
    )


SQL_PII_SCRUB = _sql_pii_scrub()


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic keep/drop verdicts with reason strings per document."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.quality_filter(docs, "doc_id", "text")


def _sql_quality_filter() -> str:
    m = TO.quality_filter_sql("text")
    return (
        f"SELECT doc_id, {m['keep']} AS keep, {m['reasons']} AS reasons "
        "FROM documents"
    )


SQL_QUALITY_FILTER = _sql_quality_filter()


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 train/val/test assignment per document."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.hash_split(docs, "doc_id")


SQL_HASH_SPLIT = f"""
SELECT doc_id,
  CASE WHEN {H.md5_long_sql("doc_id::VARCHAR", "split#1")} % 100 < 80 THEN 'train'
       WHEN {H.md5_long_sql("doc_id::VARCHAR", "split#1")} % 100 < 90 THEN 'val'
       ELSE 'test' END AS split
FROM documents"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing within each source shard."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.pack_sequences(docs, "doc_id", "text", "source", token_budget=512)


SQL_PACK_SEQUENCES = f"""
SELECT doc_id, source AS grp, n_tokens,
  (((SUM(n_tokens) OVER w) - n_tokens) // 512)::BIGINT AS bin_id
FROM (
  SELECT doc_id, source, len({TX.tokens_sql('text')})::BIGINT AS n_tokens
  FROM documents
)
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


#: int + string columns only: their string casts are bit-identical across
#: engines (double/timestamp renderings differ)
_PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_returnflag",
    "l_linestatus",
]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-action per-column profile of lineitem."""
    from datacompy_spark.operators.profile import table_profile

    li = load_table(spark, sf_dir, "lineitem")
    # exact distinct counts: this row IS the DuckDB-verified oracle; the
    # scale-facing default is the HLL sketch
    return table_profile(li, _PROFILE_COLS, approx_distinct=False)


SQL_TABLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
  (count(*) - count({c}))::BIGINT AS n_nulls,
  count(DISTINCT {c})::BIGINT AS n_distinct,
  min({c})::VARCHAR AS min_value, max({c})::VARCHAR AS max_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


def q_profile_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical drift between the two lineitem comparison variants."""
    from datacompy_spark.operators.profile import profile_compare

    li = load_table(spark, sf_dir, "lineitem")
    df1 = li.filter(F.col("l_orderkey") % 50 != 0)
    df2 = li.filter(F.col("l_orderkey") % 50 != 1)
    return profile_compare(df1, df2, _PROFILE_COLS, rel_tol=0.01, approx_distinct=False)


def _sql_profile_compare() -> str:
    def one_side(n: int, pred: str) -> str:
        return "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows_{n},
  (count(*) - count({c}))::BIGINT AS n_nulls_{n},
  count(DISTINCT {c})::BIGINT AS n_distinct_{n},
  min({c})::VARCHAR AS min_{n}, max({c})::VARCHAR AS max_{n}
FROM lineitem WHERE {pred}"""
            for c in _PROFILE_COLS
        )

    return f"""
WITH p1 AS ({one_side(1, "l_orderkey % 50 <> 0")}),
p2 AS ({one_side(2, "l_orderkey % 50 <> 1")})
SELECT col_name, n_rows_1, n_rows_2, n_nulls_1, n_nulls_2,
  n_distinct_1, n_distinct_2,
  (abs(n_nulls_2::DOUBLE / n_rows_2 - n_nulls_1::DOUBLE / n_rows_1)
     > 0.01::DOUBLE) AS null_rate_drifted,
  (abs(n_distinct_2::DOUBLE - n_distinct_1)
     / greatest(n_distinct_1::DOUBLE, 1.0::DOUBLE) > 0.01::DOUBLE)
    AS distinct_drifted,
  (min_1 IS DISTINCT FROM min_2 OR max_1 IS DISTINCT FROM max_2)
    AS range_changed
FROM p1 JOIN p2 USING (col_name)"""


SQL_PROFILE_COMPARE = _sql_profile_compare()


def q_schema_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed schema diff between lineitem and a drifted variant (dropped
    column, widened int, new column) — driver-side metadata only."""
    from datacompy_spark.operators.profile import schema_compare

    li = load_table(spark, sf_dir, "lineitem")
    variant = (
        li.drop("l_tax")
        .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))
        .withColumn("l_comment", F.lit("x"))
    )
    return schema_compare(li, variant)


SQL_SCHEMA_COMPARE = """
WITH s1 AS (
  SELECT column_name, lower(column_type) AS t FROM (DESCRIBE lineitem)),
s2 AS (
  SELECT column_name, lower(column_type) AS t FROM (
    DESCRIBE SELECT * EXCLUDE (l_tax)
      REPLACE (l_linenumber::BIGINT AS l_linenumber),
      'x' AS l_comment FROM lineitem)),
n1 AS (SELECT column_name,
  CASE t WHEN 'varchar' THEN 'string' WHEN 'integer' THEN 'int' ELSE t END AS t
  FROM s1),
n2 AS (SELECT column_name,
  CASE t WHEN 'varchar' THEN 'string' WHEN 'integer' THEN 'int' ELSE t END AS t
  FROM s2)
SELECT column_name AS col_name, n1.t AS dtype_1, n2.t AS dtype_2,
  CASE WHEN n1.t IS NULL THEN 'df2_only'
       WHEN n2.t IS NULL THEN 'df1_only' ELSE 'common' END AS status,
  (n1.t IS NOT NULL AND n2.t IS NOT NULL AND n1.t <> n2.t) AS type_changed
FROM n1 FULL JOIN n2 USING (column_name)"""


_QUANTILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_QUANTILE_PROBS = [0.25, 0.5, 0.75]


def q_profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column quantiles of lineitem's numeric columns (the
    oracle-able mode; the operator's scale default is the
    ``percentile_approx`` sketch)."""
    from datacompy_spark.operators.profile import column_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return column_quantiles(li, _QUANTILE_COLS, _QUANTILE_PROBS, approx=False)


SQL_PROFILE_QUANTILES = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, {p}::DOUBLE AS prob,
  quantile_cont({c}, {p}) AS quantile FROM lineitem"""
    for c in _QUANTILE_COLS
    for p in _QUANTILE_PROBS
)


def q_stream_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-validation operator executed through REAL Structured
    Streaming micro-batches: the events table streams against a perturbed
    static reference (every 7th id missing, every 10th value shifted +0.5,
    every 13th event_type rewritten) and per-hour match statistics come out
    of a watermarked windowed aggregation. The oracle is plain batch SQL
    over the identical join + tolerant-equality predicate — stream must
    equal batch exactly (counts only: cross-engine bit-parity)."""
    import shutil
    import uuid

    from datacompy_spark.streaming.drift import stream_compare

    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 7 != 0).select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.col("value") + F.lit(0.5))
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_id") % 13 == 0, F.lit("modified"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    tmp = f"/tmp/dcs_scmp_{uuid.uuid4().hex[:8]}"
    ev.coalesce(4).write.parquet(tmp)
    stream = spark.readStream.schema(ev.schema).parquet(tmp)
    out = stream_compare(
        stream,
        ref,
        join_columns=["event_id"],
        ts_col="ts",
        compare_columns=["value", "event_type"],
        window="1 hour",
        rel_tol=0.05,
    )
    name = f"scmp_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    _drain_stream(q, 300)
    shutil.rmtree(tmp, ignore_errors=True)  # results live in the memory sink
    return spark.table(name).select(
        F.col("win.start").alias("window_start"),
        "n_rows",
        "n_missing_in_ref",
        "value_match_cnt",
        "event_type_match_cnt",
    )


# the tolerant-equality predicate mirrors NumericComparator exactly: nulls
# null-safe, exact equality short-circuits, then |a-b| <= abs + rel*|b|
# (events.value has no NaN/inf at any SF, so those branches are vacuous)
SQL_STREAM_COMPARE = """
WITH ref AS (
  SELECT event_id,
    CASE WHEN event_id % 10 = 0 THEN value + 0.5 ELSE value END AS value,
    CASE WHEN event_id % 13 = 0 THEN 'modified' ELSE event_type END AS event_type
  FROM events WHERE event_id % 7 <> 0
)
SELECT date_trunc('hour', s.ts) AS window_start,
  count(*) AS n_rows,
  sum(CASE WHEN r.event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing_in_ref,
  sum(CASE WHEN r.event_id IS NOT NULL AND (
        s.value IS NOT DISTINCT FROM r.value
        OR (s.value IS NOT NULL AND r.value IS NOT NULL
            AND abs(s.value - r.value) <= 0.05::DOUBLE * abs(r.value))
      ) THEN 1 ELSE 0 END)::BIGINT AS value_match_cnt,
  sum(CASE WHEN r.event_id IS NOT NULL
        AND s.event_type IS NOT DISTINCT FROM r.event_type
      THEN 1 ELSE 0 END)::BIGINT AS event_type_match_cnt
FROM events s LEFT JOIN ref r USING (event_id)
GROUP BY 1"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through its REAL execution path: documents become
    synthetic media blobs (utf-8 bytes), flow through metadata attachment and
    the Arrow-batched ``mapInPandas`` feature extractor, and the (id,
    feat_idx, feat_value, decoded, size_bytes) contract is verified against
    DuckDB reproducing the deterministic fallback features
    (md5-seeded values in [-1, 1))."""
    from datacompy_spark.operators.multimodal import (
        attach_media_metadata,
        image_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    blobs = attach_media_metadata(
        docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("blob")),
        "blob",
        "image",
        "png",
    )
    # metadata rides THROUGH the Arrow stage as a carry column — re-attaching
    # it afterwards would cost a 1:1 shuffle join at scale
    staged = blobs.select(
        "doc_id", "blob", F.col("media_meta.size_bytes").alias("size_bytes")
    )
    feats = image_features(
        staged, "doc_id", "blob", dim=8, carry_cols=("size_bytes",)
    )
    return feats.select(
        F.col("id").alias("doc_id"),
        F.posexplode("features").alias("feat_idx", "feat_value"),
        "decoded",
        "size_bytes",
    )


SQL_MEDIA_FEATURES = """
SELECT doc_id, i AS feat_idx,
  ('0x' || substr(md5(text || '#' || i), 1, 15))::BIGINT::DOUBLE
    / 1152921504606846976.0 * 2.0 - 1.0 AS feat_value,
  false AS decoded,
  strlen(text)::BIGINT AS size_bytes
FROM documents, generate_series(0, 7) AS t(i)"""


# ------------------------------------------------------ corpus curation ops

def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition fractions (top word / top bigram / duplicated
    trigram share) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.repetition_metrics(docs, "doc_id", "text")


SQL_REPETITION_METRICS = TO.repetition_metrics_sql("documents", "doc_id", "text")


def q_ngram_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-n-gram fraction per document (the
    C4/RefinedWeb boilerplate-share quality signal). NULLs PLANTED: every
    53rd doc's text is nulled so the NULL-text path (zero grams, NULL
    dup_frac, document retained) is oracle-exercised cross-engine — the
    testdata itself is NULL-free."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 53 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TO.ngram_duplication_profile(docs, "doc_id", "text", n=5)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-corpus novelty attribution per document (first-occurrence
    ownership of each distinct 5-gram, by id order) — the drop-priority
    complement to ngram_dup_profile's symmetric dup_frac. To guarantee
    the metric discriminates (the raw testdata is near-boilerplate-free),
    every 7th document is REPLACED by a copy of the text of the largest
    smaller non-7th doc id: those copies arrive strictly LATER in id
    order than their source, so the source keeps novelty 1.0 and the
    copy scores ~0. Every 53rd doc's text is nulled for the NULL spine
    path."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "text").alias("s")
    tgt = docs.select("doc_id").alias("t")
    # copy source: the largest non-multiple-of-7 doc_id strictly below —
    # expressible identically in both engines as a max() over an
    # inequality self-join on the tiny (doc_id) projection
    from datacompy_spark.plans.barrier import lineage_barrier

    copies = lineage_barrier(
        tgt.filter((F.col("t.doc_id") % 7 == 0) & (F.col("t.doc_id") % 53 != 0))
        .join(
            src.filter((F.col("s.doc_id") % 7 != 0) & (F.col("s.doc_id") % 53 != 0)),
            F.col("s.doc_id") < F.col("t.doc_id"),
        )
        .groupBy(F.col("t.doc_id").alias("doc_id"))
        .agg(F.max_by(F.col("s.text"), F.col("s.doc_id")).alias("text")),
        eager=False,
    )
    # the perturbed corpus feeds the operator's two scans (grams + the
    # doc spine); barrier it too or the copies anti-join/union re-plans
    # per consumer — the planted SCENARIO must not dominate the plan the
    # audit attributes to the operator
    base = lineage_barrier(
        docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 53 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .join(copies, "doc_id", "left_anti")
        .unionByName(copies),
        eager=False,
    )
    return TO.ngram_novelty(base, "doc_id", "text", n=5)


def _sql_ngram_novelty() -> str:
    from datacompy_spark.operators.textops import ngram_novelty_sql

    base = """
(WITH copies AS (
  SELECT t.doc_id,
    arg_max(s.text, s.doc_id) AS text
  FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0 AND doc_id % 53 != 0) t
  JOIN (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0 AND doc_id % 53 != 0) s
    ON s.doc_id < t.doc_id
  GROUP BY t.doc_id)
SELECT d.doc_id,
  CASE WHEN d.doc_id % 53 = 0 THEN NULL ELSE d.text END AS text
FROM documents d ANTI JOIN copies c ON d.doc_id = c.doc_id
UNION ALL
SELECT doc_id, text FROM copies)"""
    return ngram_novelty_sql(base, "doc_id", "text", n=5)


SQL_NGRAM_NOVELTY = _sql_ngram_novelty()


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span REMOVAL (Lee et al. "Deduplicating Training
    Data" rewrite): a 5-token window shared verbatim across documents
    survives only at its globally first occurrence; every later copy's
    tokens are cut and documents reassembled. NULLs PLANTED (every 53rd
    doc) so the NULL-text spine path is oracle-exercised."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 53 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TO.remove_dup_spans(docs, "doc_id", "text", n=5)


SQL_DUP_SPAN_REMOVAL = TO.remove_dup_spans_sql(
    "(SELECT doc_id, CASE WHEN doc_id % 53 = 0 THEN NULL ELSE text END AS text"
    " FROM documents)",
    "doc_id",
    "text",
    n=5,
)


_FK_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # negative control: overlapping integer ranges but NOT a foreign key —
    # the profile must report partial containment, not crash or claim 1.0
    ("orders", "o_custkey", "supplier", "s_suppkey"),
]


def q_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the whole TPC-H-ish schema: one
    containment/coverage row per FK candidate (six real FKs plus a
    deliberately-wrong pair as a negative control). The first query a
    data-contract review runs against an unfamiliar lake."""
    from datacompy_spark.operators.analytics import fk_discovery

    tables = {
        name: load_table(spark, sf_dir, name)
        for name in {t for c in _FK_CANDIDATES for t in (c[0], c[2])}
    }
    return fk_discovery(
        [
            (ct, tables[ct], cc, pt, tables[pt], pc)
            for ct, cc, pt, pc in _FK_CANDIDATES
        ]
    )


def _sql_fk_discovery() -> str:
    from datacompy_spark.operators.analytics import key_containment_sql

    return "\nUNION ALL\n".join(
        key_containment_sql(ct, cc, pt, pc) for ct, cc, pt, pc in _FK_CANDIDATES
    )


SQL_FK_DISCOVERY = _sql_fk_discovery()


def q_fuzzy_key_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fuzzy key matching on part names: the right catalog
    drops the first word of every (3rd AND 13th)-key name — a realistic
    key-drift scenario — and the mapping recovers (key_left, key_right,
    jaccard ≥ 0.65) pairs over the DISTINCT key domains. The p_name
    domain is small (the generator reuses ~10² names), so
    ``direct_block_cap=50`` forces the PPJoin prefix-filter route — the
    100 TB path — and the oracle (a plain all-pairs scan) cross-checks
    that the prefix machinery loses nothing."""
    part = load_table(spark, sf_dir, "part")
    left = part.filter(F.col("p_partkey") % 11 == 0).select("p_name")
    right = part.filter(F.col("p_partkey") % 13 == 0).select(
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.expr("substring(p_name, instr(p_name, ' ') + 1)"),
        )
        .otherwise(F.col("p_name"))
        .alias("p_name2")
    )
    return D.fuzzy_key_match(
        left, right, "p_name", "p_name2", threshold=0.65, direct_block_cap=50
    )


def _sql_fuzzy_key_match() -> str:
    grams = (
        f"list_transform({H.char_ngrams_sql(TX.normalize_sql('k'), 3)},"
        f" g -> {H.md5_long_sql('g')})"
    )
    return f"""
WITH lk AS (
  SELECT DISTINCT p_name::VARCHAR AS k FROM part WHERE p_partkey % 11 = 0),
rk AS (
  SELECT DISTINCT CASE WHEN p_partkey % 3 = 0
           THEN substr(p_name, instr(p_name, ' ') + 1) ELSE p_name END AS k
  FROM part WHERE p_partkey % 13 = 0),
ga AS (SELECT k, {grams} AS grams FROM lk),
gb AS (SELECT k, {grams} AS grams FROM rk),
j AS (
  SELECT a.k AS key_left, b.k AS key_right,
    len(list_intersect(a.grams, b.grams))::DOUBLE /
    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE
      AS jaccard
  FROM ga a JOIN gb b ON TRUE)
SELECT key_left, key_right, jaccard FROM j WHERE jaccard >= 0.65::DOUBLE"""


SQL_FUZZY_KEY_MATCH = _sql_fuzzy_key_match()


SQL_NGRAM_DUP_PROFILE = TO.ngram_duplication_profile_sql(
    "(SELECT doc_id, CASE WHEN doc_id % 53 = 0 THEN NULL ELSE text END AS text"
    " FROM documents)",
    "doc_id",
    "text",
    n=5,
)

#: eval-set membership for the decontamination scenario: a deterministic
#: 2% doc_id carve-out plays the held-out benchmark suite.
_DECON_EVAL_PRED = "doc_id % 50 = 0"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-overlap contamination check of the training split against the
    deterministic eval carve-out."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.expr(_DECON_EVAL_PRED))
    train_df = docs.filter(~F.expr(_DECON_EVAL_PRED))
    return TO.decontaminate(train_df, "doc_id", "text", eval_df, k=5, threshold=0.2)


SQL_DECONTAMINATE = TO.decontaminate_sql(
    "documents",
    "doc_id",
    "text",
    eval_pred=_DECON_EVAL_PRED,
    train_pred=f"NOT ({_DECON_EVAL_PRED})",
    k=5,
    threshold=0.2,
)


def q_dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline end-to-end: near-dup pairs → components → per-document
    survivor verdict with cluster sizes."""
    comp = q_dedup_components(spark, sf_dir)
    return D.dedup_verdict(comp)


SQL_DEDUP_COLLAPSE = f"""
WITH comp AS ({SQL_DEDUP_COMPONENTS.strip()})
SELECT doc_id, component, (doc_id = component) AS is_survivor,
  count(*) OVER (PARTITION BY component) AS n_docs
FROM comp"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embeddings table (quantized exact sums)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.label_centroids(emb, "label", "embedding")


SQL_EMBEDDING_CENTROIDS = """
WITH ex AS (
  SELECT label,
    unnest(generate_series(1, len(embedding))) - 1 AS dim_idx,
    unnest(embedding) AS val
  FROM embeddings)
SELECT label, dim_idx,
  (sum(round(val::DOUBLE * 1000000)::BIGINT)::DOUBLE / 1000000.0)
    / count(*) AS centroid_val
FROM ex GROUP BY label, dim_idx"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict over the training candidates (non-eval
    docs): quality → exact-dup survivor → decontamination → split."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.expr(_DECON_EVAL_PRED))
    train_df = docs.filter(~F.expr(_DECON_EVAL_PRED))
    return TO.curate_corpus(train_df, "doc_id", "text", eval_df)


def _sql_curate_corpus() -> str:
    q = TO.quality_filter_sql("text")
    norm = TX.normalize_sql("text")
    shingles = H.word_shingles_sql(TX.tokens_sql("text"), 5)
    bucket = f"({H.md5_long_sql('f.doc_id::VARCHAR', 'split#1')} % 100)"
    verdict = """CASE WHEN NOT q_keep THEN 'quality'
       WHEN NOT surv THEN 'duplicate'
       WHEN coalesce(c.contaminated, FALSE) THEN 'contaminated'
       ELSE 'kept' END"""
    return f"""
WITH base AS (
  SELECT doc_id, text, {q['keep']} AS q_keep, md5({norm}) AS chash
  FROM documents WHERE NOT ({_DECON_EVAL_PRED})),
flagged AS (
  SELECT *, (q_keep AND doc_id = min(CASE WHEN q_keep THEN doc_id END)
             OVER (PARTITION BY chash)) AS surv
  FROM base),
eval_sh AS (
  SELECT DISTINCT unnest(list_distinct({shingles})) AS sh
  FROM documents WHERE {_DECON_EVAL_PRED}),
tr_sh AS (
  SELECT doc_id, unnest(list_distinct({shingles})) AS sh
  FROM flagged WHERE surv),
contam AS (
  SELECT t.doc_id,
    (coalesce(sum(CASE WHEN e.sh IS NOT NULL THEN 1 END), 0)::DOUBLE
      >= 0.2::DOUBLE * count(*)::DOUBLE) AS contaminated
  FROM tr_sh t LEFT JOIN eval_sh e USING (sh) GROUP BY t.doc_id)
SELECT f.doc_id AS doc_id,
  {verdict} AS verdict,
  ({verdict} = 'kept') AS keep,
  CASE WHEN {verdict} = 'kept' THEN
    CASE WHEN {bucket} < 80 THEN 'train'
         WHEN {bucket} < 90 THEN 'val'
         ELSE 'test' END
  END AS split
FROM flagged f LEFT JOIN contam c ON f.doc_id = c.doc_id"""


SQL_CURATE_CORPUS = _sql_curate_corpus()


_FUNNEL_STAGES = ["view", "click", "purchase"]
_FUNNEL_GAP_MS = 3_600_000


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase conversion funnel, 1-hour stage gap, one shuffle
    (chained cumulative windows over the same (user, ts) ordering)."""
    from datacompy_spark.operators.joins import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(
        ev, "user_id", "ts", "event_type",
        stages=_FUNNEL_STAGES, max_gap_ms=_FUNNEL_GAP_MS, tiebreak_col="event_id",
    )


def _sql_events_funnel() -> str:
    gap = _FUNNEL_GAP_MS
    stages = _FUNNEL_STAGES
    ctes = [
        "e AS (SELECT user_id, event_type AS t, epoch_ms(ts) AS ms, event_id FROM events)"
    ]
    prev_cte = "e"
    for i, st in enumerate(stages):
        if i == 0:
            qual = f"t = '{st}'"
        else:
            qual = (
                f"t = '{st}' AND r{i-1} IS NOT NULL AND ms >= r{i-1} "
                f"AND ms <= r{i-1} + {gap}"
            )
        ctes.append(
            f"s{i} AS (SELECT *, min(CASE WHEN {qual} THEN ms END) OVER "
            f"(PARTITION BY user_id ORDER BY ms, event_id "
            f"ROWS UNBOUNDED PRECEDING) AS r{i} FROM {prev_cte})"
        )
        prev_cte = f"s{i}"
    mins = ", ".join(f"min(r{i}) AS r{i}" for i in range(len(stages)))
    cnts = ", ".join(f"count(r{i}) AS n{i}" for i in range(len(stages)))
    ctes.append(f"pu AS (SELECT user_id, {mins} FROM {prev_cte} GROUP BY user_id)")
    ctes.append(f"c AS (SELECT {cnts} FROM pu)")
    selects = "\nUNION ALL ".join(
        f"SELECT {i} AS stage_idx, '{st}' AS stage, n{i}::BIGINT AS n_users FROM c"
        for i, st in enumerate(stages)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


SQL_EVENTS_FUNNEL = _sql_events_funnel()


#: unnormalized per-source weight for the mixing scenario: 5-char source
#: names (src10..src19) get double weight — same expression both engines.
_MIX_WEIGHT_SPARK = 1.0  # placeholder; built in q_corpus_mix
_MIX_WEIGHT_SQL = "1.0 + (length(source) % 2)"
_MIX_BUDGET = 5000


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted token-budget corpus mixing: per-source acceptance rates
    derived in-plan, membership by stable id hash."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.lit(1.0) + (F.length(F.col("source")) % 2).cast("double")
    return TO.corpus_mix_sample(
        docs, "doc_id", "source", "text", token_budget=_MIX_BUDGET, weight_expr=w
    )


SQL_CORPUS_MIX = TO.corpus_mix_sample_sql(
    "documents",
    "doc_id",
    "source",
    "text",
    token_budget=_MIX_BUDGET,
    weight_sql=_MIX_WEIGHT_SQL,
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source top-5 sample of the documents corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.stratified_sample(docs, ["source"], "doc_id", k=5)


SQL_STRATIFIED_SAMPLE = TO.stratified_sample_sql(
    "documents", ["source"], "doc_id", k=5
)


# ------------------------------------------------------- snapshot CDC

#: deterministic "v2" perturbation of orders shared by Spark and SQL:
#: deletes (key % 101 = 0), price/priority updates, and inserts with
#: negated keys (guaranteed absent from v1).
#: NULL planting (the testdata itself is 100% NULL-free, which would leave
#: the engines' IS DISTINCT FROM / null-safe-merge logic oracle-untested):
#: v1 nulls o_orderpriority at keys %13 ∈ {6,8}; v2 nulls it at %13 ∈ {6,7}.
#: Covers all three NULL transitions — NULL↔NULL (unchanged, %13=6),
#: value→NULL (update, %13=7), NULL→value (update, %13=8).
_ORDERS_V1_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
  CASE WHEN o_orderkey % 13 IN (6, 8) THEN NULL ELSE o_orderpriority END AS o_orderpriority
FROM orders"""

_ORDERS_V2_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
  CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 1.0::DOUBLE ELSE o_totalprice END AS o_totalprice,
  o_orderdate,
  CASE WHEN o_orderkey % 13 IN (6, 7) THEN NULL
       WHEN o_orderkey % 11 = 4 THEN 'RECHECK'
       ELSE o_orderpriority END AS o_orderpriority
FROM orders WHERE o_orderkey % 101 <> 0
UNION ALL
SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 97 = 5"""

_ORDERS_CMP_COLS = [
    "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
]


def _orders_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLD snapshot with planted NULLs (see _ORDERS_V1_SQL note)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.when(
            (F.col("o_orderkey") % 13).isin(6, 8), F.lit(None).cast("string")
        )
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )


def _orders_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mutated = o.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 3, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderdate",
        F.when(
            (F.col("o_orderkey") % 13).isin(6, 7), F.lit(None).cast("string")
        )
        .when(F.col("o_orderkey") % 11 == 4, F.lit("RECHECK"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    inserted = o.filter(F.col("o_orderkey") % 97 == 5).select(
        (-F.col("o_orderkey")).alias("o_orderkey"), *_ORDERS_CMP_COLS
    )
    return mutated.unionByName(inserted)


def q_cdc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture feed between two snapshots of orders: one
    null-safe full-outer key join, change classification + changed-column
    set in the same stage (operators/cdc.py). Both snapshots carry planted
    NULLs so the IS DISTINCT FROM change detection is oracle-exercised
    across all three NULL transitions (the raw testdata is NULL-free).

    The operator's ``changed_cols`` array is serialized to a CSV string in
    the query wrapper only: the driver's pandas canonicalizer cannot sort
    array-typed columns, and the driver gate is the contract (queries()
    entries must emit atomic columns only — tests/test_entry.py)."""
    from datacompy_spark.operators.cdc import snapshot_cdc

    old = _orders_v1(spark, sf_dir)
    feed = snapshot_cdc(old, _orders_v2(spark, sf_dir), keys=["o_orderkey"])
    # array is already sorted by the operator; join preserves that order
    return feed.withColumn("changed_cols", F.array_join("changed_cols", ","))


def _sql_cdc_delta() -> str:
    pairs = ",\n    ".join(
        f"o.{c} AS {c}_old, n.{c} AS {c}_new" for c in _ORDERS_CMP_COLS
    )
    changed_items = ", ".join(
        f"CASE WHEN o.{c} IS DISTINCT FROM n.{c} THEN '{c}' END"
        for c in _ORDERS_CMP_COLS
    )
    return f"""
WITH v1 AS ({_ORDERS_V1_SQL}),
v2 AS ({_ORDERS_V2_SQL}),
j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
    (o.o_orderkey IS NOT NULL) AS in_old, (n.o_orderkey IS NOT NULL) AS in_new,
    CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
         THEN list_sort(list_filter([{changed_items}], x -> x IS NOT NULL))
         ELSE []::VARCHAR[] END AS changed_cols,
    {pairs}
  FROM v1 o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
  CASE WHEN NOT in_old THEN 'insert'
       WHEN NOT in_new THEN 'delete'
       ELSE 'update' END AS change_type,
  -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's array_join is ''
  coalesce(array_to_string(changed_cols, ','), '') AS changed_cols,
  {", ".join(f"{c}_old" for c in _ORDERS_CMP_COLS)},
  {", ".join(f"{c}_new" for c in _ORDERS_CMP_COLS)}
FROM j
WHERE NOT in_old OR NOT in_new OR len(changed_cols) > 0"""


SQL_CDC_DELTA = _sql_cdc_delta()


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round trip, oracle-checked end to end: replay the change feed
    onto the OLD snapshot and return the rebuilt table; the oracle is the
    independently-derived v2 snapshot itself. A hash match here proves
    diff + replay compose to the identity across engines."""
    from datacompy_spark.operators.cdc import apply_changes, snapshot_cdc
    from datacompy_spark.plans.barrier import lineage_barrier

    old = _orders_v1(spark, sf_dir)
    new = _orders_v2(spark, sf_dir)
    # barrier the feed: apply_changes consumes it twice (delete/update
    # keys for the anti-join, insert/update rows for the append), and an
    # unbarriered inline feed re-executes the full v1⋈v2 CDC join per
    # consumer (6 exchanges / 3 SMJ / 7 scans). Materializing it once is
    # also the production contract — a real pipeline stores the feed and
    # replays it later.
    feed = lineage_barrier(
        snapshot_cdc(old, new, keys=["o_orderkey"]), eager=False
    )
    return apply_changes(old, feed, ["o_orderkey"], _ORDERS_CMP_COLS)


SQL_CDC_APPLY = f"""
SELECT o_orderkey, {", ".join(_ORDERS_CMP_COLS)} FROM ({_ORDERS_V2_SQL})"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history materialization (operators/cdc.py::scd2_build): fold
    the two planted order snapshots into one type-2 dimension table —
    close-at-version + reopen on update, closed span on delete, open span
    on insert/unchanged. Exercises the same NULL transitions as cdc_delta
    through the IS DISTINCT FROM change predicate."""
    from datacompy_spark.operators.cdc import scd2_build

    hist = scd2_build(
        [(1, _orders_v1(spark, sf_dir)), (2, _orders_v2(spark, sf_dir))],
        ["o_orderkey"],
    )
    return hist


def _sql_scd2_history() -> str:
    old_cols = ", ".join(f"{c}_old AS {c}" for c in _ORDERS_CMP_COLS)
    new_cols = ", ".join(f"{c}_new AS {c}" for c in _ORDERS_CMP_COLS)
    pairs = ",\n    ".join(
        f"a.{c} AS {c}_old, b.{c} AS {c}_new" for c in _ORDERS_CMP_COLS
    )
    changed = " OR ".join(
        f"a.{c} IS DISTINCT FROM b.{c}" for c in _ORDERS_CMP_COLS
    )
    return f"""
WITH v1 AS ({_ORDERS_V1_SQL}),
v2 AS ({_ORDERS_V2_SQL}),
j AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
    a.o_orderkey IS NOT NULL AS in_old,
    b.o_orderkey IS NOT NULL AS in_new,
    ({changed}) AS changed,
    {pairs}
  FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey)
SELECT o_orderkey, {old_cols},
  1::BIGINT AS valid_from, 2::BIGINT AS valid_to, FALSE AS is_current
FROM j WHERE in_old AND (NOT in_new OR changed)
UNION ALL
SELECT o_orderkey, {old_cols},
  1::BIGINT AS valid_from, NULL::BIGINT AS valid_to, TRUE AS is_current
FROM j WHERE in_old AND in_new AND NOT changed
UNION ALL
SELECT o_orderkey, {new_cols},
  2::BIGINT AS valid_from, NULL::BIGINT AS valid_to, TRUE AS is_current
FROM j WHERE in_new AND (NOT in_old OR changed)"""


SQL_SCD2_HISTORY = _sql_scd2_history()


def q_sales_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: lineitem ⋈ supplier ⋈ nation ⋈ region, revenue
    per region/nation — the canonical 100 TB shape where every dimension is
    broadcast (fact table never shuffles for the joins; the only Exchange
    is the final small-key aggregation). Revenue sums exact DECIMAL and
    casts to double once at the end (order-independent, oracle-safe)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dims = F.broadcast(
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_qty"),
        )
    )


SQL_SALES_BY_NATION = """
SELECT r.r_name, n.n_name,
       count(*) AS n_items,
       sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS revenue,
       sum(CAST(l.l_quantity AS DECIMAL(18,2)))::DOUBLE AS total_qty
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic: the 10 hottest l_orderkey values with row
    counts and table share (operators/analytics.py::key_skew_profile —
    TakeOrdered global top-k, never a single-task window)."""
    from datacompy_spark.operators.analytics import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, ["l_orderkey"], top_k=10)


SQL_KEY_SKEW_PROFILE = """
WITH counts AS (
  SELECT l_orderkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
total AS (SELECT count(*) AS t FROM lineitem),
top AS (
  SELECT l_orderkey, n_rows
  FROM counts ORDER BY n_rows DESC, l_orderkey::VARCHAR ASC LIMIT 10)
SELECT l_orderkey, n_rows,
       n_rows::DOUBLE / t::DOUBLE AS share,
       row_number() OVER (ORDER BY n_rows DESC, l_orderkey::VARCHAR ASC)::INT AS rank
FROM top CROSS JOIN total"""


def q_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: latest event per user by (ts, event_id) — the
    feed→state direction (operators/cdc.py::latest_by_key, WindowGroupLimit
    O(1) state per key)."""
    from datacompy_spark.operators.cdc import latest_by_key

    ev = load_table(spark, sf_dir, "events")
    return latest_by_key(
        ev.select("user_id", "ts", "event_id", "event_type", "value"),
        ["user_id"],
        "ts",
        tiebreak=["event_id"],
    )


SQL_EVENTS_LATEST = """
SELECT user_id, ts, event_id, event_type, value
FROM (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id ASC) AS rn
  FROM events)
WHERE rn = 1"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events stream
    (operators/analytics.py — epoch-week buckets, two partial-agg shuffles)."""
    from datacompy_spark.operators.analytics import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", period_seconds=604_800)


SQL_EVENTS_RETENTION = """
WITH pu AS (
  SELECT user_id, (floor(epoch(ts))::BIGINT // 604800) AS period FROM events),
first AS (
  SELECT user_id, min(period) AS cohort_period FROM pu GROUP BY 1)
SELECT f.cohort_period,
       p.period - f.cohort_period AS period_offset,
       count(DISTINCT p.user_id) AS n_users
FROM pu p JOIN first f USING (user_id)
GROUP BY 1, 2"""


def q_top_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per supplier by shipped quantity — the generic windowed
    top-k-per-group operator (rank pushed into the sort, O(k) per group).
    Quantities are summed as DECIMAL (exact, order-independent) and cast to
    double only at the end."""
    from datacompy_spark.operators.analytics import top_k_per_group

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty")
    )
    return top_k_per_group(
        per_part, ["l_suppkey"], "total_qty", k=3, tiebreak=["l_partkey"]
    )


SQL_TOP_PARTS = """
WITH per_part AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS total_qty
  FROM lineitem GROUP BY 1, 2)
SELECT l_suppkey, l_partkey, total_qty,
       row_number() OVER (PARTITION BY l_suppkey
                          ORDER BY total_qty DESC, l_partkey ASC)::INT AS rank
FROM per_part
QUALIFY rank <= 3"""


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between l_quantity snapshots (same
    planted drift as drift_histogram: every 3rd part's quantity shifted
    +5, every 5th order dropped, NULLs planted on both sides and excluded
    by contract). Bin-free counterpart of the histogram TV/PSI scores;
    ECDFs via the distributed two-phase prefix sum."""
    from datacompy_spark.operators.analytics import ks_drift

    li = load_table(spark, sf_dir, "lineitem")
    v1 = li.select(
        F.when(F.col("l_orderkey") % 13 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity")
    )
    v2 = li.filter(F.col("l_orderkey") % 5 != 0).select(
        F.when(F.col("l_partkey") % 11 == 1, F.lit(None).cast("double"))
        .when(F.col("l_partkey") % 3 == 0, F.col("l_quantity") + F.lit(5.0))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity")
    )
    return ks_drift(v1, v2, "l_quantity")


def _sql_drift_ks() -> str:
    from datacompy_spark.operators.analytics import ks_drift_sql

    v1 = (
        "(SELECT CASE WHEN l_orderkey % 13 = 0 THEN NULL"
        " ELSE l_quantity END AS l_quantity FROM lineitem)"
    )
    v2 = (
        "(SELECT CASE WHEN l_partkey % 11 = 1 THEN NULL"
        " WHEN l_partkey % 3 = 0 THEN l_quantity + 5.0"
        " ELSE l_quantity END AS l_quantity"
        " FROM lineitem WHERE l_orderkey % 5 <> 0)"
    )
    return ks_drift_sql(v1, v2, "l_quantity")


SQL_DRIFT_KS = _sql_drift_ks()


def q_drift_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin distribution drift of l_quantity between two lineitem
    snapshots (operators/analytics.py::histogram_drift). psi_term is
    excluded from the oracle projection only because its ln() is not
    bit-stable cross-engine; the per-bin counts/proportions/tv terms are
    exact arithmetic. Both snapshots carry planted NULLs (different
    masses) so the null-safe NULL-bin merge — one |p_old-p_new|/2 term,
    not one per side — is oracle-exercised (the testdata is NULL-free)."""
    from datacompy_spark.operators.analytics import histogram_drift

    li = load_table(spark, sf_dir, "lineitem")
    v1 = li.select(
        F.when(F.col("l_orderkey") % 13 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity")
    )
    v2 = li.filter(F.col("l_orderkey") % 5 != 0).select(
        F.when(F.col("l_partkey") % 11 == 1, F.lit(None).cast("double"))
        .when(F.col("l_partkey") % 3 == 0, F.col("l_quantity") + F.lit(5.0))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity")
    )
    hist = histogram_drift(v1, v2, "l_quantity", lo=0.0, hi=50.0, bins=10)
    return hist.select(
        "bin", "lo_edge", "hi_edge", "n_old", "n_new", "p_old", "p_new", "tv_term"
    )


SQL_DRIFT_HISTOGRAM = """
WITH v1 AS (
  SELECT CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_quantity END AS l_quantity
  FROM lineitem),
v2 AS (
  SELECT CASE WHEN l_partkey % 11 = 1 THEN NULL
              WHEN l_partkey % 3 = 0 THEN l_quantity + 5.0::DOUBLE
              ELSE l_quantity END AS l_quantity
  FROM lineitem WHERE l_orderkey % 5 <> 0),
binned_old AS (
  SELECT CASE WHEN l_quantity IS NULL THEN NULL
              WHEN l_quantity < 0.0 THEN -1
              WHEN l_quantity >= 50.0 THEN 10
              ELSE least(9, floor((l_quantity - 0.0) / 5.0)::INT) END AS bin,
         count(*) AS n_old
  FROM v1 GROUP BY 1),
binned_new AS (
  SELECT CASE WHEN l_quantity IS NULL THEN NULL
              WHEN l_quantity < 0.0 THEN -1
              WHEN l_quantity >= 50.0 THEN 10
              ELSE least(9, floor((l_quantity - 0.0) / 5.0)::INT) END AS bin,
         count(*) AS n_new
  FROM v2 GROUP BY 1),
j AS (
  SELECT coalesce(o.bin, n.bin) AS bin,
         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
  FROM binned_old o FULL OUTER JOIN binned_new n ON o.bin IS NOT DISTINCT FROM n.bin),
t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM j)
SELECT bin,
  0.0::DOUBLE + bin * 5.0::DOUBLE AS lo_edge,
  0.0::DOUBLE + (bin + 1) * 5.0::DOUBLE AS hi_edge,
  n_old, n_new,
  n_old::DOUBLE / t_old::DOUBLE AS p_old,
  n_new::DOUBLE / t_new::DOUBLE AS p_new,
  abs(n_old::DOUBLE / t_old::DOUBLE - n_new::DOUBLE / t_new::DOUBLE) / 2 AS tv_term
FROM j CROSS JOIN t"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by linear-IDF TF-IDF
    (operators/textops.py::tfidf_top_terms)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.tfidf_top_terms(docs, "doc_id", "text", k=3)


SQL_TFIDF_TOP_TERMS = TO.tfidf_top_terms_sql("documents", "doc_id", "text", k=3)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token window, 48 stride) —
    shuffle-free per-row explode (operators/textops.py::chunk_documents)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.chunk_documents(docs, "doc_id", "text", window=64, stride=48)


SQL_CHUNK_DOCUMENTS = TO.chunk_documents_sql(
    "documents", "doc_id", "text", window=64, stride=48
)


def q_events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity event rollup in ONE pass via native ROLLUP
    grouping sets: (day, hour) / (day) / () subtotals from a single scan +
    single shuffle — the operator family the reference lacks entirely
    (SURVEY §2.4: no grouping sets/cube/rollup anywhere). At 100 TB this
    replaces three separate aggregation jobs with one; Spark expands the
    grouping sets BEFORE the exchange so partial aggregation still applies.
    ``gid`` (grouping_id) disambiguates subtotal rows from NULL-valued
    data rows, identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_id",
        "user_id",
    )
    return (
        base.rollup("day", "hour")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


SQL_EVENTS_MULTI_ROLLUP = """
SELECT date_trunc('day', ts) AS day,
       date_trunc('hour', ts) AS hour,
       (CASE WHEN GROUPING(date_trunc('day', ts)) = 1 THEN 2 ELSE 0 END
        + GROUPING(date_trunc('hour', ts)))::BIGINT AS gid,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS first_event_id,
       max(event_id) AS last_event_id
FROM events
GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))"""


def q_events_missing_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-completeness gaps: 5-minute periods inside each event type's
    active span with no events (operators/analytics.py::missing_periods —
    per-key sequence synthesis + left-anti join)."""
    from datacompy_spark.operators.analytics import missing_periods

    ev = load_table(spark, sf_dir, "events")
    return missing_periods(ev, ["event_type"], "ts", period_seconds=300)


SQL_EVENTS_MISSING_PERIODS = """
WITH observed AS (
  -- floor() before the cast: epoch() carries the microsecond fraction and
  -- ::BIGINT ROUNDS in DuckDB, while Spark's unix_timestamp truncates
  SELECT DISTINCT event_type, (floor(epoch(ts))::BIGINT // 300) AS period
  FROM events),
spans AS (
  SELECT event_type, min(period) AS lo, max(period) AS hi
  FROM observed GROUP BY 1),
expected AS (
  SELECT event_type, u.p AS period
  FROM spans, unnest(generate_series(lo, hi)) AS u(p))
SELECT e.event_type, e.period,
       make_timestamp(e.period * 300 * 1000000) AS period_start
FROM expected e
ANTI JOIN observed o ON e.event_type = o.event_type AND e.period = o.period"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embeddings table
    (operators/similarity.py::quantize_embeddings).

    The operator returns the raw ``qvec array<int>`` (that's its API —
    downstream int8 scoring consumes the array); the QUERY serializes it
    to a CSV string because the driver's pandas canonicalizer cannot sort
    array columns (queries() atomic-columns contract, tests/test_entry.py).
    int→string casting is exact and identical across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = S.quantize_embeddings(emb, "vec_id", "embedding", bits=8)
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec_csv"),
    )


SQL_EMBEDDING_QUANTIZE = f"""
SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec_csv
FROM ({S.quantize_embeddings_sql("embeddings", "vec_id", "embedding", bits=8)})
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the odd-id half of documents arrives as a
    new batch against the even-id half as the standing corpus
    (operators/dedup.py::incremental_dedup, exact mode). The corpus side
    is only ever streamed past a broadcast of the batch's distinct content
    hashes — per-ingest cost tracks the batch, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return D.incremental_dedup(batch, corpus, "doc_id", "text", method="exact")


def _sql_dedup_incremental() -> str:
    # NULL text → sentinel hash group, matching Spark's _content_hash
    norm = f"coalesce(md5({TX.normalize_sql('text')}), '__null_text__')"
    return f"""
WITH corpus AS (
  SELECT doc_id, {norm} AS chash FROM documents WHERE doc_id % 2 = 0),
batch AS (
  SELECT doc_id, {norm} AS chash FROM documents WHERE doc_id % 2 = 1),
bk AS (SELECT chash, min(doc_id) AS batch_keep FROM batch GROUP BY 1),
cm AS (SELECT chash, min(doc_id) AS corpus_match FROM corpus GROUP BY 1)
SELECT b.doc_id,
  CASE WHEN c.corpus_match IS NOT NULL THEN 'dup_corpus'
       WHEN b.doc_id <> k.batch_keep THEN 'dup_batch'
       ELSE 'new' END AS verdict,
  CASE WHEN c.corpus_match IS NOT NULL THEN c.corpus_match
       WHEN b.doc_id <> k.batch_keep THEN k.batch_keep END AS match_id
FROM batch b JOIN bk k USING (chash) LEFT JOIN cm c USING (chash)"""


SQL_DEDUP_INCREMENTAL = _sql_dedup_incremental()


def q_ledger_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-ingest + replay lifecycle of the exact-hash dedup ledger
    (operators/dedup.py::ledger_probe — the pure verdict core that
    incremental_dedup_with_ledger wraps with catalog state). Phase
    ``ingest_a`` probes an EMPTY ledger with the ``doc_id % 3 = 0`` third
    of documents; its ``new`` survivors become ledger state L1. Phase
    ``ingest_b`` probes L1 with the ``% 3 = 1`` third; survivors extend
    the state to L2. Phase ``replay_a`` re-ingests batch A against L2 —
    the at-least-once replay after later ingests have landed — and the
    idempotence contract requires EVERY replayed document to report
    ``dup_corpus`` (its hash is in the ledger, registered either by
    itself or by its batch keeper). The driver's hash compare pins all
    three phases' verdicts and match ids against the DuckDB replay of the
    same lifecycle."""
    docs = load_table(spark, sf_dir, "documents")
    batch_a = docs.filter(F.col("doc_id") % 3 == 0)
    batch_b = docs.filter(F.col("doc_id") % 3 == 1)
    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("chash", T.StringType()),
                T.StructField("corpus_id", T.LongType()),
            ]
        ),
    )
    va = D.ledger_probe(batch_a, empty, "doc_id", "text")
    l1 = va.filter(F.col("verdict") == "new").select(
        "chash", F.col("doc_id").alias("corpus_id")
    )
    vb = D.ledger_probe(batch_b, l1, "doc_id", "text")
    l2 = l1.unionByName(
        vb.filter(F.col("verdict") == "new").select(
            "chash", F.col("doc_id").alias("corpus_id")
        )
    )
    vr = D.ledger_probe(batch_a, l2, "doc_id", "text")

    def _phase(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("phase"), "doc_id", "verdict", "match_id"
        )

    return (
        _phase(va, "ingest_a")
        .unionByName(_phase(vb, "ingest_b"))
        .unionByName(_phase(vr, "replay_a"))
    )


def _sql_ledger_replay() -> str:
    # NULL text folds to the sentinel hash group exactly like Spark's
    # _content_hash — a bare md5 would go NULL and the inner JOIN on
    # chash would silently drop the row from every phase
    norm = f"coalesce(md5({TX.normalize_sql('text')}), '__null_text__')"
    return f"""
WITH batch_a AS (
  SELECT doc_id, {norm} AS chash FROM documents WHERE doc_id % 3 = 0),
batch_b AS (
  SELECT doc_id, {norm} AS chash FROM documents WHERE doc_id % 3 = 1),
bka AS (SELECT chash, min(doc_id) AS batch_keep FROM batch_a GROUP BY 1),
va AS (
  SELECT b.doc_id, b.chash,
    CASE WHEN b.doc_id <> k.batch_keep THEN 'dup_batch' ELSE 'new' END AS verdict,
    CASE WHEN b.doc_id <> k.batch_keep THEN k.batch_keep END AS match_id
  FROM batch_a b JOIN bka k USING (chash)),
l1 AS (SELECT chash, doc_id AS corpus_id FROM va WHERE verdict = 'new'),
bkb AS (SELECT chash, min(doc_id) AS batch_keep FROM batch_b GROUP BY 1),
cmb AS (SELECT chash, min(corpus_id) AS corpus_match FROM l1 GROUP BY 1),
vb AS (
  SELECT b.doc_id, b.chash,
    CASE WHEN c.corpus_match IS NOT NULL THEN 'dup_corpus'
         WHEN b.doc_id <> k.batch_keep THEN 'dup_batch'
         ELSE 'new' END AS verdict,
    CASE WHEN c.corpus_match IS NOT NULL THEN c.corpus_match
         WHEN b.doc_id <> k.batch_keep THEN k.batch_keep END AS match_id
  FROM batch_b b JOIN bkb k USING (chash) LEFT JOIN cmb c USING (chash)),
l2 AS (
  SELECT * FROM l1
  UNION ALL SELECT chash, doc_id AS corpus_id FROM vb WHERE verdict = 'new'),
cmr AS (SELECT chash, min(corpus_id) AS corpus_match FROM l2 GROUP BY 1),
vr AS (
  SELECT b.doc_id, b.chash,
    CASE WHEN c.corpus_match IS NOT NULL THEN 'dup_corpus'
         WHEN b.doc_id <> k.batch_keep THEN 'dup_batch'
         ELSE 'new' END AS verdict,
    CASE WHEN c.corpus_match IS NOT NULL THEN c.corpus_match
         WHEN b.doc_id <> k.batch_keep THEN k.batch_keep END AS match_id
  FROM batch_a b JOIN bka k USING (chash) LEFT JOIN cmr c USING (chash))
SELECT 'ingest_a' AS phase, doc_id, verdict, match_id FROM va
UNION ALL
SELECT 'ingest_b' AS phase, doc_id, verdict, match_id FROM vb
UNION ALL
SELECT 'replay_a' AS phase, doc_id, verdict, match_id FROM vr"""


SQL_LEDGER_REPLAY = _sql_ledger_replay()


def q_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored LSH candidate index (doc_id, band, bkey) — the
    precompute-once state table the incremental minhash paths probe
    (operators/dedup.py::minhash_index)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_index(docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3)


def _sql_minhash_index() -> str:
    toks = TX.tokens_sql("text")
    sh = f"list_distinct({H.word_shingles_sql(toks, 3)})"
    sig = H.minhash_signature_sql("shingles", 16)
    band_keys = H.lsh_band_keys_sql("signature", 4, 4)
    band_structs = ", ".join(
        f"{{'band': {b}, 'bkey': {k}}}" for b, k in enumerate(band_keys)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {sh} AS shingles FROM documents),
sigs AS (
  SELECT doc_id, {sig} AS signature FROM base)
SELECT doc_id, u.band AS band, u.bkey AS bkey
FROM sigs, unnest([{band_structs}]) AS t(u)"""


SQL_MINHASH_INDEX = _sql_minhash_index()


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher heuristic-rule bundle per document (word-count window,
    mean-word-length window, symbol ratio, alpha-word fraction, bullet /
    ellipsis line fractions, stopword floor) with verdict + reasons
    (operators/textops.py::gopher_quality). min_words lowered to 10: the
    synthetic docs are short and the default 50 would fail everything."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.gopher_quality(docs, "doc_id", "text", min_words=10)


def _sql_gopher_quality() -> str:
    m = TO.gopher_quality_sql("text", min_words=10)
    cols = ", ".join(f"{expr} AS {name}" for name, expr in m.items())
    return f"SELECT doc_id, {cols} FROM documents"


SQL_GOPHER_QUALITY = _sql_gopher_quality()


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication dashboard: docs, distinct exact contents,
    dup rate (operators/dedup.py::dup_rate_by_group)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dup_rate_by_group(docs, "text", "source")


SQL_DUP_RATE_BY_SOURCE = f"""
SELECT source AS grp, count(*)::BIGINT AS n_docs,
  count(DISTINCT coalesce(md5({TX.normalize_sql('text')}), '__null_text__'))::BIGINT
    AS n_distinct,
  (count(*) - count(DISTINCT coalesce(md5({TX.normalize_sql('text')}), '__null_text__')))::DOUBLE
    / count(*)::DOUBLE AS dup_rate
FROM documents GROUP BY source"""


#: tables digested by the dataset_checksum query (embeddings excluded:
#: array columns have no portable string form)
_CHECKSUM_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def q_dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content digest of every scalar testdata table
    (operators/profile.py::table_checksum): one (table, n_rows, checksum)
    row each — the replication/migration smoke gate, here hash-pinned
    against DuckDB computing the same digest over the same parquet, which
    doubles as proof that BOTH engines render every atomic type's string
    form identically (doubles, dates, timestamps included).

    The checksum crosses the driver boundary as a fixed-width decimal
    STRING, not DECIMAL(38,0): the internal sum exceeds 2⁶³ and wide
    decimals round-trip differently per engine in the driver's hasher
    (DuckDB's pandas path renders them as float64 — lossy above 2⁵³ —
    while Spark's Arrow path yields exact ``Decimal``; round-9
    post-mortem: values identical at 3 SFs, driver row still red).
    lpad to 39 digits keeps the string sortable as a number."""
    from datacompy_spark.operators.profile import table_checksum

    out = None
    for t in _CHECKSUM_TABLES:
        row = table_checksum(load_table(spark, sf_dir, t)).select(
            F.lit(t).alias("table"),
            "n_rows",
            F.lpad(F.col("checksum").cast("string"), 39, "0").alias("checksum"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_dataset_checksum() -> str:
    from datacompy_spark.operators.profile import table_checksum_sql

    # column lists must match the Spark side's load_table ordering — the
    # parquet schema order, which is what DuckDB's view exposes too; the
    # oracle checker registers views named after the tables
    # column lists in parquet schema order (TESTDATA.md); a drift here is
    # caught immediately by the hash gate because the Spark side digests
    # df.columns
    cols = {
        "region": ["r_regionkey", "r_name"],
        "nation": ["n_nationkey", "n_name", "n_regionkey"],
        "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        "orders": [
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
        "lineitem": [
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
        "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
        "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    }
    # checksum rendered as a 39-digit zero-padded string in BOTH twins —
    # DECIMAL(38,0) beyond 2⁵³ is lossy through DuckDB's pandas driver
    # path (see q_dataset_checksum docstring)
    selects = [
        f"SELECT '{t}' AS \"table\", n_rows, "
        f"lpad(checksum::VARCHAR, 39, '0') AS checksum "
        f"FROM ({table_checksum_sql(t, cols[t])})"
        for t in _CHECKSUM_TABLES
    ]
    return "\nUNION ALL\n".join(selects)


SQL_DATASET_CHECKSUM = _sql_dataset_checksum()


#: lineitem digest order for the grouped-checksum diff (parquet schema order)
_LI_CK_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate",
]


def q_checksum_diff_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-localized snapshot diff (operators/profile.py::
    checksum_diff_by): lineitem vs a perturbed twin, grouped by ship
    month. Months 3 and 7 get value corruption (l_quantity +1.0 on
    ~1/13 of orders → rows_match but NOT content_match), month 11 loses
    ~1% of its rows (rows_match false), every other month is clean —
    all three verdict shapes exercised in one result.

    This is dataset_diff's drill-down: the whole-table gate says
    "lineitem corrupted", this localizes WHICH slices, at the cost of
    one grouped digest scan per side + a join on the 12-row group
    domain. The follow-up row-level SparkCompare then reads only the
    bad slices."""
    from datacompy_spark.operators.profile import checksum_diff_by

    li = load_table(spark, sf_dir, "lineitem")
    m = F.month("l_shipdate")
    left = li.withColumn("ship_month", m)
    right = (
        li.filter(~((F.col("l_orderkey") % 101 == 0) & (m == 11)))
        .withColumn(
            "l_quantity",
            F.when(
                (F.col("l_orderkey") % 13 == 0) & m.isin(3, 7),
                F.col("l_quantity") + F.lit(1.0),
            ).otherwise(F.col("l_quantity")),
        )
        .withColumn("ship_month", F.month("l_shipdate"))
    )
    # digest the 11 real columns only — ship_month is the grouping axis,
    # not content (the SQL twin digests the same list)
    return checksum_diff_by(left, right, ["ship_month"], columns=_LI_CK_COLS)


def _sql_checksum_diff_by_month() -> str:
    from datacompy_spark.operators.profile import table_checksum_by_sql

    perturbed_cols = ", ".join(
        "CASE WHEN l_orderkey % 13 = 0 AND month(l_shipdate) IN (3, 7) "
        "THEN l_quantity + 1.0::DOUBLE ELSE l_quantity END AS l_quantity"
        if c == "l_quantity"
        else c
        for c in _LI_CK_COLS
    )
    lft = table_checksum_by_sql(
        "(SELECT *, month(l_shipdate) AS ship_month FROM lineitem)",
        ["ship_month"],
        _LI_CK_COLS,
    )
    rgt = table_checksum_by_sql(
        f"(SELECT {perturbed_cols}, month(l_shipdate) AS ship_month FROM lineitem "
        f"WHERE NOT (l_orderkey % 101 = 0 AND month(l_shipdate) = 11))",
        ["ship_month"],
        _LI_CK_COLS,
    )
    return f"""
WITH lft AS ({lft}), rgt AS ({rgt})
SELECT coalesce(lft.ship_month, rgt.ship_month) AS ship_month,
  coalesce(lft.n_rows, 0)::BIGINT AS n_rows_left,
  coalesce(rgt.n_rows, 0)::BIGINT AS n_rows_right,
  (lft.n_rows IS NOT DISTINCT FROM rgt.n_rows) AS rows_match,
  ((lft.n_rows IS NOT DISTINCT FROM rgt.n_rows)
   AND (lft.checksum IS NOT DISTINCT FROM rgt.checksum)) AS content_match
FROM lft FULL OUTER JOIN rgt
  ON lft.ship_month IS NOT DISTINCT FROM rgt.ship_month"""


SQL_CHECKSUM_DIFF_BY_MONTH = _sql_checksum_diff_by_month()


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction + rollup: parse the events table's JSON
    ``props`` column once per row (operators/analytics.py::
    parse_json_fields, from_json single-pass — NOT per-field
    get_json_object re-parses) and aggregate the extracted value per
    event type. Determinism: int sums cast to BIGINT both engines, one
    double division for the mean."""
    from datacompy_spark.operators.analytics import parse_json_fields

    ev = load_table(spark, sf_dir, "events")
    parsed = parse_json_fields(ev, "props", [("k", "bigint")])
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0)).alias("n_high"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_k",
            "min_k",
            "max_k",
            "n_high",
            (F.col("sum_k").cast("double") / F.col("n_events").cast("double")).alias(
                "avg_k"
            ),
        )
    )


SQL_EVENTS_JSON_PROPS = """
WITH parsed AS (
  SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events)
SELECT event_type,
  count(*) AS n_events,
  sum(k)::BIGINT AS sum_k,
  min(k) AS min_k,
  max(k) AS max_k,
  sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END)::BIGINT AS n_high,
  sum(k)::DOUBLE / count(*)::DOUBLE AS avg_k
FROM parsed GROUP BY event_type"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling volume-anomaly scores per event type (operators/
    analytics.py::rolling_anomaly): hourly buckets, 24-bucket trailing
    window, z-score from exact integer sums only — the window carries
    (count, Σx, Σx²) and the score derives per row, so the hash is
    partition-layout-invariant despite the floating-point output."""
    from datacompy_spark.operators.analytics import rolling_anomaly

    ev = load_table(spark, sf_dir, "events")
    return rolling_anomaly(
        ev, "ts", ["event_type"], bucket_seconds=3600, trailing=24, min_history=6
    )


SQL_EVENTS_ANOMALY = """
WITH counts AS (
  -- floor() before the cast: epoch() carries fractional seconds and
  -- ::BIGINT ROUNDS in DuckDB while Spark's unix_timestamp truncates
  SELECT event_type, (floor(epoch(ts))::BIGINT // 3600) AS bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2),
hist AS (
  SELECT event_type, bucket, n_events,
         count(n_events) OVER w AS n_history,
         sum(n_events) OVER w AS hist_sum,
         sum(n_events * n_events) OVER w AS hist_sumsq
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, bucket, n_events,
  n_history::BIGINT AS n_history,
  hist_sum::BIGINT AS hist_sum,
  hist_sumsq::BIGINT AS hist_sumsq,
  CASE WHEN n_history >= 6
        AND (n_history * hist_sumsq - hist_sum * hist_sum) > 0
       THEN (n_history::DOUBLE * n_events::DOUBLE - hist_sum::DOUBLE)
            / sqrt((n_history * hist_sumsq - hist_sum * hist_sum)::DOUBLE)
       END AS zscore
FROM hist"""


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix over user event paths
    (operators/analytics.py::transition_matrix). event_id tiebreaks equal
    timestamps so the per-user order is total — without it, which event
    "follows" which under a ts tie is engine-dependent and the hash gate
    would flap."""
    from datacompy_spark.operators.analytics import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", "event_type", "ts", tiebreak="event_id"
    )


SQL_EVENTS_TRANSITIONS = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events),
counts AS (
  SELECT from_type, to_type, count(*) AS n_steps
  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n_steps,
  sum(n_steps) OVER wf::BIGINT AS n_from,
  n_steps::DOUBLE / (sum(n_steps) OVER wf)::DOUBLE AS p_transition
FROM counts
WINDOW wf AS (PARTITION BY from_type)"""


def q_json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema discovery over the events JSON props
    (operators/analytics.py::json_key_profile). A third of the rows get a
    second key spliced into the JSON text (identical string surgery in
    both engines), so the profile exercises per-key presence counts that
    differ from the row count, not just the single-key testdata shape."""
    from datacompy_spark.operators.analytics import json_key_profile

    ev = load_table(spark, sf_dir, "events")
    enriched = ev.select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit('{"type": "'),
                F.col("event_type"),
                F.lit('", '),
                F.expr("substring(props, 2)"),
            ),
        )
        .otherwise(F.col("props"))
        .alias("props")
    )
    return json_key_profile(enriched, "props")


SQL_JSON_KEY_PROFILE = """
WITH src AS (
  SELECT CASE WHEN event_id % 3 = 0
              THEN '{"type": "' || event_type || '", ' || substr(props, 2)
              ELSE props END AS props
  FROM events),
kv AS (
  SELECT u.k AS key, json_extract_string(props, '$.' || u.k) AS value
  FROM src, unnest(json_keys(props)) AS u(k))
SELECT key, count(*) AS n_rows, count(DISTINCT value) AS n_values,
       min(value) AS min_value, max(value) AS max_value
FROM kv GROUP BY key"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup (C4/RefinedWeb boilerplate rule,
    operators/textops.py::line_dedup). The flat documents table carries no
    newlines, so the query synthesizes multi-line documents first — five
    consecutive docs fold into one 5-line document — giving the operator
    real repeated lines to drop. Every document also gets the same banner
    first line and footer last line (the testdata's texts are all
    distinct, so without planted boilerplate the dedup path would never
    fire): the first document keeps them, every later document loses
    both — both the keep and the drop paths are oracle-exercised, as is
    reassembly order around removed lines."""
    docs = load_table(spark, sf_dir, "documents")
    synth = (
        docs.select(
            (F.col("doc_id") / 5).cast("long").alias("doc_id"),
            F.struct((F.col("doc_id") % 5).alias("pos"), "text").alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\nACCEPT COOKIES TO CONTINUE\n",
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["text"]),
            ).alias("body")
        )
        .select(
            "doc_id",
            F.concat(
                F.lit("ACCEPT COOKIES TO CONTINUE\n"),
                F.col("body"),
                F.lit("\nsubscribe to our newsletter"),
            ).alias("text"),
        )
    )
    return TO.line_dedup(synth, "doc_id", "text")


SQL_LINE_DEDUP = TO.line_dedup_sql(
    """(
  SELECT doc_id,
         'ACCEPT COOKIES TO CONTINUE' || chr(10) || body || chr(10) ||
         'subscribe to our newsletter' AS text
  FROM (
    SELECT (doc_id // 5) AS doc_id,
           string_agg(text, chr(10) || 'ACCEPT COOKIES TO CONTINUE' || chr(10)
                      ORDER BY doc_id % 5) AS body
    FROM documents GROUP BY 1))""",
    "doc_id",
    "text",
)


def q_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-shuffle + sharding of documents into 8 training
    shards (operators/textops.py::shard_corpus): reproducible training
    order with no RNG state, one shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.shard_corpus(docs, "doc_id", n_shards=8)


SQL_SHARD_CORPUS = TO.shard_corpus_sql("documents", "doc_id", n_shards=8)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup over the embeddings table (operators/dedup.py::
    semantic_dedup): deterministic IVF-style clustering, then in-cluster
    cosine pruning against lower-id mates. Threshold 0.3 because the
    synthetic embeddings are isotropic (neighbor cos ≈ 0.32) — the
    published 1-eps ≈ 0.95 would mark nothing here."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.semantic_dedup(emb, "vec_id", "embedding", pivot_mod=37, threshold=0.3)


SQL_DEDUP_SEMANTIC = D.semantic_dedup_sql(
    "embeddings", "vec_id", "embedding", dim=64, pivot_mod=37, threshold=0.3
)


def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QA (operators/profile.py::embedding_health). The
    test embeddings are clean, so the query PLANTS every pathology the
    gate exists for — NULL vector, truncated dim, NaN component, all-zero,
    10x norm blow-up — by vec_id % 7, identically in the DuckDB twin
    (double-cast before planting: float32*10 would round differently than
    float64*10)."""
    from datacompy_spark.operators.profile import embedding_health

    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    m = F.col("vec_id") % 7
    planted = (
        F.when(m == 1, F.lit(None).cast("array<double>"))
        .when(m == 2, F.slice(vd, 1, 10))
        .when(
            m == 3,
            F.concat(F.array(F.lit(float("nan"))), F.slice(vd, 2, 63)),
        )
        .when(m == 4, F.transform(vd, lambda x: x * F.lit(0.0)))
        .when(m == 5, F.transform(vd, lambda x: x * F.lit(10)))
        .otherwise(vd)
    )
    messy = emb.select("vec_id", planted.alias("vec"))
    return embedding_health(messy, "vec_id", "vec", dim=64)


_PLANTED_EMB = """(
  SELECT vec_id,
         CASE vec_id % 7
           WHEN 1 THEN NULL
           WHEN 2 THEN vd[1:10]
           WHEN 3 THEN list_concat(['NaN'::DOUBLE], vd[2:64])
           WHEN 4 THEN list_transform(vd, x -> x * 0.0)
           WHEN 5 THEN list_transform(vd, x -> x * 10)
           ELSE vd END AS vec
  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd
        FROM embeddings))"""

SQL_EMBEDDING_HEALTH = PR.embedding_health_sql(
    _PLANTED_EMB, "vec_id", "vec", dim=64
)


def q_leakage_split_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-aware split: MinHash pairs → connected components → one
    md5-lottery split decision per component (operators/textops.py::
    split_by_group), so fuzzy duplicates — not just byte-identical ones —
    can never straddle train and test. The fuzzy capstone of the leakage
    story (exact version: leakage_split)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3, threshold=0.3
    )
    comp = D.assign_components(docs, "doc_id", pairs)
    return TO.split_by_group(comp, "doc_id", "component")


SQL_LEAKAGE_SPLIT_FUZZY = TO.split_by_group_sql(
    f"({_sql_dedup_components()})", "doc_id", "component"
)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embeddings table (operators/
    similarity.py::kmeans_lloyd): k=8 min-id seeds, 2 iterations, all
    arithmetic exact BIGINT on the 1e-4 grid — the full per-vector
    assignment AND integer distance hash-pin the entire trajectory
    (seeding, argmin tiebreaks, requantized means) across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_lloyd(emb, "vec_id", "embedding", k=8, iters=2)


SQL_KMEANS_ASSIGN = S.kmeans_lloyd_sql(
    "embeddings", "vec_id", "embedding", k=8, iters=2
)


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling capstone: kmeans_lloyd assigns every
    embedding to one of 8 deterministic clusters, then cap_per_group's md5
    lottery keeps at most 40 per cluster — the 'sample evenly across the
    embedding space, not the crawl distribution' curation step. Composes
    two already-pinned operators; the hash pins the composition."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign = S.kmeans_lloyd(emb, "vec_id", "embedding", k=8, iters=2)
    return TO.cap_per_group(
        assign.select("vec_id", "cluster_id"), "vec_id", "cluster_id", cap=40
    ).select("cluster_id", "vec_id", "cap_rank")


SQL_CLUSTER_SAMPLE = f"""
SELECT cluster_id, vec_id, cap_rank FROM (
  {TO.cap_per_group_sql(
    f'''(SELECT vec_id, cluster_id FROM ({S.kmeans_lloyd_sql(
        "embeddings", "vec_id", "embedding", k=8, iters=2)}))''',
    'vec_id', 'cluster_id', cap=40)}
)"""


def q_corpus_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode corpus cleaning (operators/textops.py::normalize_corpus).
    The test corpus is ASCII-lowercase, so the query PLANTS the mess the
    operator exists for — decomposed accents (e + U+0301), fullwidth CJK
    compatibility forms, uppercase runs, tab/double-space runs — by
    doc_id % 4, identically in the DuckDB twin, then pins that Python's
    ``unicodedata`` NFC + Spark's JVM lowercase equal DuckDB's utf8proc
    byte-for-byte on the cleaned output. (Turkish dotted-I, where JVM and
    utf8proc genuinely disagree, is deliberately not planted — see the
    operator docstring.)"""
    docs = load_table(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 4
    messy = (
        F.when(mod == 0, F.upper(F.col("text")))
        .when(
            mod == 1,
            F.concat(
                # decomposed e + U+0301: a no-op NFC would hash-mismatch
                F.lit("Café  "),
                F.col("text"),
                F.lit("\t du Monde"),
            ),
        )
        .when(
            mod == 2,
            F.concat(F.col("text"), F.lit(" École ＡＢＣ ﬁn")),
        )
        .otherwise(F.col("text"))
    )
    out = TO.normalize_corpus(
        docs.select("doc_id", messy.alias("messy")), "messy", "norm_text"
    )
    return out.select(
        "doc_id",
        "norm_text",
        F.length("norm_text").alias("n_norm_chars"),
    )


SQL_CORPUS_NORMALIZE = f"""
WITH planted AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN upper(text)
           WHEN 1 THEN 'Cafe' || chr(769) || '  ' || text || chr(9) || ' du Monde'
           WHEN 2 THEN text || ' ' || chr(201) || 'cole ＡＢＣ ﬁn'
           ELSE text END AS messy
  FROM documents),
cleaned AS (
  {TO.normalize_corpus_sql('planted', 'messy', 'norm_text')})
SELECT doc_id, norm_text, length(norm_text)::INT AS n_norm_chars
FROM cleaned"""


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split (operators/textops.py::
    leakage_safe_split): exact-content duplicate groups get ONE split
    decision keyed by the group's min doc_id, so duplicates never straddle
    train and test. The documents table carries real exact-dup groups
    (same ones dedup_exact collapses), so the leakage property is
    exercised, not vacuous."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.leakage_safe_split(docs, "doc_id", "text")


SQL_LEAKAGE_SPLIT = TO.leakage_safe_split_sql("documents", "doc_id", "text")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text search over the documents corpus
    (operators/textops.py::bm25_search): top-20 documents for a
    multi-term query drawn from the testdata vocabulary. Exercises the
    saturation/length-normalization core, the fixed-point per-term
    quantization, and the distributed TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.bm25_search(docs, "doc_id", "text", "spark window merge vector stream", k=20)


SQL_BM25_SEARCH = TO.bm25_search_sql(
    "documents", "doc_id", "text", "spark window merge vector stream", k=20
)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram-LM quality score per document
    (operators/textops.py::lm_score) — the CCNet-style perplexity filter,
    emitted as integer milli-bits-per-token."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.lm_score(docs, "doc_id", "text")


SQL_LM_SCORE = TO.lm_score_sql("documents", "doc_id", "text")


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over orders
    (operators/layout.py::zorder_key): customer key x order day
    interleaved at 8 bits each — the multi-dimensional lake-layout key
    behind ``zorder_write``. Pure int64 bit arithmetic plus one
    mirrored floor-double quantizing division."""
    from datacompy_spark.operators.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("o_day"),
    )
    return zorder_key(orders, ["o_custkey", "o_day"], bits=8)


def _sql_zorder_key() -> str:
    from datacompy_spark.operators.layout import zorder_key_sql

    sub = (
        "(SELECT o_orderkey, o_custkey, "
        "date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS o_day "
        "FROM orders)"
    )
    return zorder_key_sql(
        sub,
        ["o_custkey", "o_day"],
        bits=8,
        select_cols=["o_orderkey", "o_custkey", "o_day"],
    )


SQL_ZORDER_KEY = _sql_zorder_key()


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the customer↔supplier transaction network
    (operators/graph.py::pagerank): edges are (customer, supplier) pairs
    weighted by line-item count from the orders⋈lineitem join,
    symmetrized so the walk bounces across the bipartite graph. Fixed
    3-iteration unroll on the int64 1e-9 rank grid."""
    from datacompy_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # both union branches read this aggregate; persist so the big
    # orders⋈lineitem join runs once, not twice
    g = tracked_persist(
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # r14 (guide §2.3, narrower shuffle keys): the walk runs on LONG node
    # ids — customer c → 2c, supplier s → 2s+1, a bijection onto the
    # "c:<c>"/"s:<s>" string domain — so all three iterations' joins and
    # aggregations hash/shuffle 8-byte longs instead of variable-width
    # strings. The output projection maps back to the exact same strings;
    # rank_q depends only on graph structure + weights, so values are
    # bit-identical (oracle-checked against the unchanged string-keyed
    # DuckDB twin).
    cust = (F.col("o_custkey").cast("long") * 2).alias("src")
    supp = (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst")
    edges = g.select(cust, supp, "w").unionByName(
        g.select(
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("src"),
            (F.col("o_custkey").cast("long") * 2).alias("dst"),
            "w",
        )
    )
    ranks = pagerank(edges, weight_col="w", iterations=3)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c:"), F.expr("node div 2").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s:"), F.expr("(node - 1) div 2").cast("string"))
        )
        .alias("node"),
        "rank_q",
    )


def _sql_graph_pagerank() -> str:
    from datacompy_spark.operators.graph import pagerank_sql

    edges = (
        "(WITH g AS (SELECT o_custkey, l_suppkey, count(*)::BIGINT AS w"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2)"
        " SELECT 'c:' || o_custkey::VARCHAR AS src, 's:' || l_suppkey::VARCHAR AS dst, w FROM g"
        " UNION ALL"
        " SELECT 's:' || l_suppkey::VARCHAR, 'c:' || o_custkey::VARCHAR, w FROM g)"
    )
    return pagerank_sql(edges, weight_col="w", iterations=3)


SQL_GRAPH_PAGERANK = _sql_graph_pagerank()

#: the data-contract rule set the expectations query checks over orders —
#: a passing core plus two deliberately tight rules so the violations>0
#: path is oracle-exercised
_EXPECT_RULES = [
    {"rule": "not_null", "col": "o_custkey"},
    {"rule": "unique", "cols": ["o_orderkey"]},
    {"rule": "unique", "cols": ["o_custkey", "o_orderdate"]},
    {"rule": "accepted_values", "col": "o_orderstatus", "values": ["O", "F", "P"]},
    {"rule": "accepted_values", "col": "o_orderpriority", "values": ["1-URGENT", "2-HIGH", "3-MEDIUM"]},
    {"rule": "in_range", "col": "o_totalprice", "lo": 0.0, "hi": 400000.0},
    {"rule": "matches_regex", "col": "o_orderpriority", "pattern": "^[1-5]-[A-Z ]+$"},
]


def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract check over orders
    (operators/expectations.py::expect): seven dbt-style rules — null,
    uniqueness (single and composite key), accepted values, range, regex —
    evaluated in ONE aggregation pass, two of them deliberately failing."""
    from datacompy_spark.operators.expectations import expect

    return expect(load_table(spark, sf_dir, "orders"), _EXPECT_RULES)


def _sql_data_expectations() -> str:
    from datacompy_spark.operators.expectations import expect_sql

    return expect_sql("orders", _EXPECT_RULES)


SQL_DATA_EXPECTATIONS = _sql_data_expectations()


# deterministic typo'd twin of documents.text — the record-linkage scenario
# for the edit-distance join: ids offset by 1_000_000, one raw character
# substituted (doc_id%3==1) or deleted (doc_id%3==2) at position 30, a third
# left verbatim. `||` / F.concat are BOTH null-propagating (DuckDB's
# variadic concat() ignores NULLs and would diverge on a NULL text).
def _corrupted_docs(docs: DataFrame) -> DataFrame:
    head = F.expr("substring(text, 1, 29)")
    tail = F.expr("substring(text, 31)")
    return docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 1, F.concat(head, F.lit("q"), tail))
        .when(F.col("doc_id") % 3 == 2, F.concat(head, tail))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (PassJoin pigeonhole blocking +
    exact levenshtein verify, operators/dedup.py::edit_distance_pairs):
    originals pooled with a deterministically typo'd copy, every pair of
    normalized 64-char key prefixes within distance 2. The oracle is the
    naive all-pairs scan — the blocking must be lossless to hash-match."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pooled = docs.unionAll(_corrupted_docs(docs))
    return D.edit_distance_pairs(pooled, "doc_id", "text", max_dist=2, prefix_len=64)


def _sql_dedup_editdist() -> str:
    key = f"coalesce(substring({TX.normalize_sql('text')}, 1, 64), '')"
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
    CASE WHEN doc_id % 3 = 1
           THEN substring(text, 1, 29) || 'q' || substring(text, 31)
         WHEN doc_id % 3 = 2
           THEN substring(text, 1, 29) || substring(text, 31)
         ELSE text END AS text
  FROM documents),
k AS (SELECT doc_id, {key} AS s FROM src)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  levenshtein(a.s, b.s)::BIGINT AS dist
FROM k a JOIN k b
  ON a.doc_id < b.doc_id AND abs(length(a.s) - length(b.s)) <= 2
WHERE levenshtein(a.s, b.s) <= 2"""


SQL_DEDUP_EDITDIST = _sql_dedup_editdist()


def q_rolling_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day PSI / total-variation drift of events.value
    (operators/analytics.py::rolling_drift): fixed 10-bin [0,500)
    histogram per day, each day scored against the previous calendar day."""
    from datacompy_spark.operators.analytics import rolling_drift

    return rolling_drift(
        load_table(spark, sf_dir, "events"), "ts", "value", lo=0.0, hi=500.0, bins=10
    )


def _sql_rolling_drift() -> str:
    from datacompy_spark.operators.analytics import rolling_drift_sql

    return rolling_drift_sql("events", "ts", "value", lo=0.0, hi=500.0, bins=10)


SQL_ROLLING_DRIFT = _sql_rolling_drift()


def q_fuzzy_key_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_key_match's edit-distance route: the right part catalog has
    one character substituted in every (3rd AND 13th)-key name — the
    character-level drift (typos/OCR) that rewrites every n-gram it
    touches but is exactly Levenshtein 1. Oracle = naive all-pairs scan
    over the two distinct key domains; the PassJoin blocking must be
    lossless to hash-match."""
    part = load_table(spark, sf_dir, "part")
    left = part.filter(F.col("p_partkey") % 11 == 0).select("p_name")
    right = part.filter(F.col("p_partkey") % 13 == 0).select(
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.expr("substring(p_name, 1, 5)"),
                F.lit("q"),
                F.expr("substring(p_name, 7)"),
            ),
        )
        .otherwise(F.col("p_name"))
        .alias("p_name2")
    )
    return D.fuzzy_key_match(
        left, right, "p_name", "p_name2", method="editdist", max_dist=1
    )


def _sql_fuzzy_key_editdist() -> str:
    key = f"coalesce(substring({TX.normalize_sql('k')}, 1, 64), '')"
    return f"""
WITH lk AS (
  SELECT DISTINCT p_name AS k FROM part
  WHERE p_partkey % 11 = 0 AND p_name IS NOT NULL),
rk AS (
  SELECT DISTINCT CASE WHEN p_partkey % 3 = 0
      THEN substring(p_name, 1, 5) || 'q' || substring(p_name, 7)
      ELSE p_name END AS k
  FROM part WHERE p_partkey % 13 = 0),
nl AS (SELECT k, {key} AS s FROM lk),
nr AS (SELECT k, {key} AS s FROM rk WHERE k IS NOT NULL)
SELECT a.k AS key_left, b.k AS key_right,
  levenshtein(a.s, b.s)::BIGINT AS dist
FROM nl a JOIN nr b ON abs(length(a.s) - length(b.s)) <= 1
WHERE levenshtein(a.s, b.s) <= 1"""


SQL_FUZZY_KEY_EDITDIST = _sql_fuzzy_key_editdist()


_QDIST_PROBS = [0.01, 0.25, 0.5, 0.75, 0.99]


def q_decontaminate_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level decontamination of the training split against the
    deterministic eval carve-out (operators/textops.py::
    decontaminate_editdist): training docs whose normalized 64-char key
    is within distance 1 of any eval doc's are flagged with the
    lexicographically minimal (dist, eval id) witness."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.expr(_DECON_EVAL_PRED))
    train_df = docs.filter(~F.expr(_DECON_EVAL_PRED))
    return TO.decontaminate_editdist(
        train_df, "doc_id", "text", eval_df, max_dist=1
    )


def _sql_decontaminate_editdist() -> str:
    key = f"coalesce(substring({TX.normalize_sql('text')}, 1, 64), '')"
    return f"""
WITH ev AS (SELECT doc_id, {key} AS s FROM documents WHERE {_DECON_EVAL_PRED}),
tr AS (SELECT doc_id, {key} AS s FROM documents WHERE NOT ({_DECON_EVAL_PRED})),
pairs AS (
  SELECT t.doc_id AS did, e.doc_id AS eid, levenshtein(t.s, e.s) AS d
  FROM tr t JOIN ev e ON abs(length(t.s) - length(e.s)) <= 1
  WHERE levenshtein(t.s, e.s) <= 1),
best AS (SELECT did, min(d) AS dist FROM pairs GROUP BY did),
m AS (
  SELECT p.did, b.dist, min(p.eid) AS eval_match
  FROM pairs p JOIN best b ON p.did = b.did AND p.d = b.dist
  GROUP BY p.did, b.dist)
SELECT tr.doc_id, m.did IS NOT NULL AS contaminated,
  m.eval_match, m.dist
FROM tr LEFT JOIN m ON tr.doc_id = m.did"""


SQL_DECONTAMINATE_EDITDIST = _sql_decontaminate_editdist()


def q_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles of events.value via the distributed ECDF
    (operators/profile.py::exact_quantiles_distributed) — NO per-partition
    value buffering, unlike Spark's exact ``percentile`` aggregate. The
    oracle is DuckDB's ``quantile_cont``; the interpolation must be
    bit-identical (symmetric weighted form) for the hash to match."""
    from datacompy_spark.operators.profile import exact_quantiles_distributed

    return exact_quantiles_distributed(
        load_table(spark, sf_dir, "events"), "value", _QDIST_PROBS
    )


# WHERE + HAVING mirror the Spark contract exactly: NULL values never
# enter the ECDF, and an empty/all-NULL column yields ZERO rows (a bare
# aggregate query would emit one NULL-quantile row Spark never produces)
SQL_QUANTILES_DISTRIBUTED = "\nUNION ALL\n".join(
    f"SELECT {p}::DOUBLE AS prob, quantile_cont(value, {p}) AS quantile"
    f" FROM events WHERE value IS NOT NULL HAVING count(*) > 0"
    for p in _QDIST_PROBS
)


_GQ_PROBS = [0.25, 0.5, 0.9]


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact quantiles of events.value via the grouped
    distributed ECDF (operators/profile.py::group_quantiles_distributed):
    the prefix sum range-partitions by (group, value), so a hot group
    spreads over many tasks — the hazard of percentile(...) GROUP BY's
    per-group value buffer."""
    from datacompy_spark.operators.profile import group_quantiles_distributed

    return group_quantiles_distributed(
        load_table(spark, sf_dir, "events"), ["event_type"], "value", _GQ_PROBS
    )


# WHERE value IS NOT NULL: an all-NULL group must vanish (the Spark side
# filters before grouping, so such a group yields no rows, not NULL)
SQL_GROUP_QUANTILES = "\nUNION ALL\n".join(
    f"SELECT event_type, {p}::DOUBLE AS prob,"
    f" quantile_cont(value, {p}) AS quantile FROM events"
    f" WHERE value IS NOT NULL GROUP BY event_type"
    for p in _GQ_PROBS
)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier capping: events.value clamped to its exact [p1, p99]
    quantiles (operators/profile.py::winsorize — distributed-ECDF bounds
    broadcast back over one clamp pass)."""
    from datacompy_spark.operators.profile import winsorize

    return winsorize(
        load_table(spark, sf_dir, "events"), "value", 0.01, 0.99
    ).select("event_id", "value", "value_w")


SQL_WINSORIZE = """
WITH b AS (SELECT quantile_cont(value, 0.01) AS q_lo,
                  quantile_cont(value, 0.99) AS q_hi FROM events)
SELECT event_id, value,
  CASE WHEN value IS NULL THEN NULL
       ELSE least(greatest(value, q_lo), q_hi) END AS value_w
FROM events, b"""


def q_winsorize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type outlier capping: events.value clamped to each
    type's own exact [p5, p95] quantiles
    (operators/profile.py::winsorize_by_group — grouped ECDF bounds
    broadcast back, null-safe on the group key)."""
    from datacompy_spark.operators.profile import winsorize_by_group

    return winsorize_by_group(
        load_table(spark, sf_dir, "events"), ["event_type"], "value", 0.05, 0.95
    ).select("event_id", "event_type", "value", "value_w")


SQL_WINSORIZE_BY_GROUP = """
WITH b AS (
  SELECT event_type, quantile_cont(value, 0.05) AS q_lo,
         quantile_cont(value, 0.95) AS q_hi
  FROM events WHERE value IS NOT NULL GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
  CASE WHEN e.value IS NULL THEN NULL
       WHEN b.q_lo IS NULL THEN e.value
       ELSE least(greatest(e.value, b.q_lo), b.q_hi) END AS value_w
FROM events e LEFT JOIN b ON e.event_type IS NOT DISTINCT FROM b.event_type"""


def q_npmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent word bigrams by quantized NPMI
    (operators/textops.py::npmi_collocations — min-count filter lands on
    the bigram aggregate BEFORE the vocabulary joins; top-k is
    TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.npmi_collocations(docs, "text", min_count=5, top_k=20)


SQL_NPMI_COLLOCATIONS = TO.npmi_collocations_sql(
    "documents", "text", min_count=5, top_k=20
)


#: folded in Python so both engines compare against the identical double
#: literal (3 "sigmas" on the MAD scale)
_MAD_K = 3.0


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier summary via median/MAD
    (operators/profile.py::mad_outlier_summary — two grouped distributed-
    ECDF quantile passes, |groups|-row broadcast join-backs, one rollup)."""
    from datacompy_spark.operators.profile import mad_outlier_summary

    return mad_outlier_summary(
        load_table(spark, sf_dir, "events"), ["event_type"], "value", k=_MAD_K
    )


SQL_MAD_OUTLIERS = f"""
WITH v AS (SELECT event_type AS g, value::DOUBLE AS v
           FROM events WHERE value IS NOT NULL),
m AS (SELECT g, quantile_cont(v, 0.5) AS med FROM v GROUP BY g),
d AS (SELECT v.g, m.med, abs(v.v - m.med) AS d
      FROM v JOIN m ON v.g IS NOT DISTINCT FROM m.g),
md AS (SELECT g, quantile_cont(d, 0.5) AS mad FROM d GROUP BY g)
SELECT d.g AS event_type, count(*)::BIGINT AS n, min(d.med) AS median,
       min(md.mad) AS mad,
       sum(CASE WHEN d.d > {_MAD_K * 1.4826!r} * md.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM d JOIN md ON d.g IS NOT DISTINCT FROM md.g
GROUP BY d.g"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution rollup
    (operators/analytics.py::attribution_rollup — union-merge single
    user-window pass, exact-integer value fold)."""
    from datacompy_spark.operators.analytics import attribution_rollup

    return attribution_rollup(
        load_table(spark, sf_dir, "events"),
        "user_id", "ts", "event_type", "value",
        conversion_type="purchase",
        touch_types=["click", "view", "signup"],
        tiebreak_col="event_id",
    )


SQL_EVENTS_ATTRIBUTION = """
WITH u AS (
  SELECT user_id AS u, ts AS t, 0 AS kind, event_id AS tb,
         event_type AS ttype, NULL::DOUBLE AS v
  FROM events WHERE event_type IN ('click', 'view', 'signup')
  UNION ALL
  SELECT user_id, ts, 1, event_id, NULL, value::DOUBLE
  FROM events WHERE event_type = 'purchase'),
w AS (
  SELECT kind, v,
    first_value(ttype IGNORE NULLS) OVER win AS first_touch,
    last_value(ttype IGNORE NULLS) OVER win AS last_touch
  FROM u
  WINDOW win AS (PARTITION BY u ORDER BY t, kind, tb
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (SELECT * FROM w WHERE kind = 1 AND first_touch IS NOT NULL),
mm AS (
  SELECT 'first_touch' AS model, first_touch AS touch_type, v FROM c
  UNION ALL
  SELECT 'last_touch' AS model, last_touch AS touch_type, v FROM c)
SELECT model, touch_type, count(*)::BIGINT AS conversions,
  (sum(round(v * 1000000)::BIGINT)::DOUBLE / 1000000.0) AS total_value
FROM mm GROUP BY 1, 2"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.3) token-budget corpus mixing
    (operators/textops.py::corpus_temperature_mix — rates derived on the
    |sources|-row aggregate, broadcast back; reported rate quantized)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.corpus_temperature_mix(
        docs, "doc_id", "source", "text", token_budget=_MIX_BUDGET, alpha=0.3
    )


SQL_TEMPERATURE_MIX = TO.corpus_temperature_mix_sql(
    "documents", "doc_id", "source", "text",
    token_budget=_MIX_BUDGET, alpha=0.3,
)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection: per training doc,
    the smoothed unigram log-likelihood ratio target-vs-source, in exact
    1e-9 integer units (operators/textops.py::dsir_weights — per-vocab-word
    ratio quantized BEFORE the per-doc fold so the sum is an exact integer,
    never an order-dependent float). Target = the deterministic eval
    carve-out, same split as decontaminate."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.expr(_DECON_EVAL_PRED))
    train_df = docs.filter(~F.expr(_DECON_EVAL_PRED))
    return TO.dsir_weights(train_df, eval_df, "doc_id", "text")


SQL_DSIR_WEIGHTS = TO.dsir_weights_sql(
    "documents", "doc_id", "text",
    eval_pred=_DECON_EVAL_PRED,
    train_pred=f"NOT ({_DECON_EVAL_PRED})",
)


_QDRIFT_PROBS = [0.5, 0.9, 0.99]


def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile drift between two lineitem snapshots — the tail-shift
    monitor (operators/profile.py::quantile_drift: two exact
    distributed-ECDF passes joined on the len(probs)-row probe axis).
    The new snapshot plants a +5.0 shift on l_partkey%3=0 rows and drops
    l_orderkey%5=0 rows, so every probe shows a real delta."""
    from datacompy_spark.operators.profile import quantile_drift

    li = load_table(spark, sf_dir, "lineitem")
    v_old = li.select(F.col("l_quantity").cast("double").alias("v"))
    v_new = li.filter(F.col("l_orderkey") % 5 != 0).select(
        F.when(F.col("l_partkey") % 3 == 0, F.col("l_quantity") + F.lit(5.0))
        .otherwise(F.col("l_quantity"))
        .cast("double")
        .alias("v")
    )
    return quantile_drift(v_old, v_new, "v", _QDRIFT_PROBS)


SQL_QUANTILE_DRIFT = (
    "WITH o AS (SELECT l_quantity::DOUBLE AS v FROM lineitem),\n"
    "n AS (SELECT (CASE WHEN l_partkey % 3 = 0 THEN l_quantity + 5.0"
    " ELSE l_quantity END)::DOUBLE AS v"
    " FROM lineitem WHERE l_orderkey % 5 <> 0),\n"
    "qo AS ("
    + " UNION ALL ".join(
        f"SELECT {p}::DOUBLE AS prob, quantile_cont(v, {p}) AS q_old FROM o"
        for p in _QDRIFT_PROBS
    )
    + "),\nqn AS ("
    + " UNION ALL ".join(
        f"SELECT {p}::DOUBLE AS prob, quantile_cont(v, {p}) AS q_new FROM n"
        for p in _QDRIFT_PROBS
    )
    + ")\nSELECT prob, q_old, q_new, q_new - q_old AS delta"
    " FROM qo FULL JOIN qn USING (prob)"
    # r10 advice: quantile_cont over an EMPTY side still emits one row per
    # probe (all-NULL), but the Spark operator emits no group rows for an
    # empty side — when BOTH sides are empty the engines would diverge
    # (len(probs) all-NULL rows vs zero rows). Drop the all-NULL spine so
    # the twins agree at every scale, including degenerate ones.
    " WHERE q_old IS NOT NULL OR q_new IS NOT NULL"
)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit: customer quasi-identifier groups — nation ×
    segment × a zip-code-like bucket — violating k-anonymity (n < 10) or
    l-diversity on account balance (< 8 distinct)
    (operators/profile.py::k_anonymity_audit — two-level count fold, no
    count_distinct aggregation buffers; only violations emit, so output
    stays bounded at any input scale; at sf0.1 the filter discriminates
    both ways: 2740 of 2862 groups violate, 122 pass)."""
    from datacompy_spark.operators.profile import k_anonymity_audit

    cu = load_table(spark, sf_dir, "customer").withColumn(
        "c_zip_bucket", F.col("c_custkey") % 23
    )
    return k_anonymity_audit(
        cu,
        ["c_nationkey", "c_mktsegment", "c_zip_bucket"],
        k=10,
        sensitive_col="c_acctbal",
        l=8,
    )


SQL_K_ANONYMITY = """
WITH fine AS (
  SELECT c_nationkey, c_mktsegment, c_custkey % 23 AS c_zip_bucket,
         c_acctbal AS s, count(*) AS c
  FROM customer GROUP BY 1, 2, 3, 4),
groups AS (
  SELECT c_nationkey, c_mktsegment, c_zip_bucket,
    sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct_sensitive
  FROM fine GROUP BY 1, 2, 3)
SELECT c_nationkey, c_mktsegment, c_zip_bucket, n_rows,
  n_distinct_sensitive,
  n_rows < 10 AS k_violation, n_distinct_sensitive < 8 AS l_violation
FROM groups WHERE n_rows < 10 OR n_distinct_sensitive < 8"""


def q_knn_jaccard_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document kNN graph: top-3 neighbors per doc by exact char-3-gram
    Jaccard ≥ 0.2 within (lang, length/50) blocks
    (operators/dedup.py::knn_jaccard_graph — ngram_jaccard_pairs' adaptive
    direct/PPJoin pair stage + a WindowGroupLimit top-k, O(k) memory per
    task)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "block", F.concat_ws("#", F.col("lang"), F.expr("n_chars div 50"))
    )
    return D.knn_jaccard_graph(
        docs, "doc_id", "text", "block", k=3, n=3, threshold=0.2
    )


def _sql_knn_jaccard_graph() -> str:
    grams = (
        f"list_transform({H.char_ngrams_sql(TX.normalize_sql('text'), 3)},"
        f" g -> {H.md5_long_sql('g')})"
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang || '#' || (n_chars // 50)::VARCHAR AS block, {grams} AS grams
  FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_intersect(a.grams, b.grams))::DOUBLE /
    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE
      AS jaccard
  FROM base a JOIN base b ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE
      >= 0.2::DOUBLE),
sym AS (
  SELECT id_a AS src, id_b AS dst, jaccard FROM pairs
  UNION ALL
  SELECT id_b, id_a, jaccard FROM pairs),
ranked AS (
  SELECT src, dst, jaccard,
    row_number() OVER (PARTITION BY src
                       ORDER BY jaccard DESC, dst ASC)::INT AS knn_rank
  FROM sym)
SELECT src, dst, jaccard, knn_rank FROM ranked WHERE knn_rank <= 3"""


SQL_KNN_JACCARD_GRAPH = _sql_knn_jaccard_graph()


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy over the normalized
    alphabet (operators/textops.py::char_entropy — per-(doc,char) term
    quantized to 1e-9 ints before the per-doc fold, so the sum is exact
    under any partitioning; the gibberish/binary-spill quality gate)."""
    docs = load_table(spark, sf_dir, "documents")
    return TO.char_entropy(docs, "doc_id", "text")


SQL_CHAR_ENTROPY = TO.char_entropy_sql("documents", "doc_id", "text")


PIPELINE_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "knn_cosine_bruteforce": q_knn_bruteforce,
    "knn_lsh": q_knn_lsh,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "events_hourly_rollup": q_events_hourly_rollup,
    "events_sessionize": q_events_sessionize,
    "cmp_ignore_flags": q_cmp_ignore_flags,
    "stream_hourly_profile": q_stream_hourly_profile,
    "knn_ivf": q_knn_ivf,
    "knn_pq": q_knn_pq,
    "cmp_rel_tol": q_cmp_rel_tol,
    "cmp_decimal": q_cmp_decimal,
    "word_frequencies": q_word_frequencies,
    "events_asof_join": q_events_asof_join,
    "events_range_join": q_events_range_join,
    "dedup_components": q_dedup_components,
    "pii_scrub": q_pii_scrub,
    "quality_filter": q_quality_filter,
    "hash_split": q_hash_split,
    "pack_sequences": q_pack_sequences,
    "table_profile": q_table_profile,
    "profile_compare": q_profile_compare,
    "stream_compare": q_stream_compare,
    "media_features": q_media_features,
    "profile_quantiles": q_profile_quantiles,
    "schema_compare": q_schema_compare,
    "repetition_metrics": q_repetition_metrics,
    "decontaminate": q_decontaminate,
    "stratified_sample": q_stratified_sample,
    "dedup_collapse": q_dedup_collapse,
    "embedding_centroids": q_embedding_centroids,
    "corpus_mix": q_corpus_mix,
    "events_funnel": q_events_funnel,
    "curate_corpus": q_curate_corpus,
    "cdc_delta": q_cdc_delta,
    "cdc_apply": q_cdc_apply,
    "scd2_history": q_scd2_history,
    "events_latest_per_user": q_events_latest_per_user,
    "key_skew_profile": q_key_skew_profile,
    "sales_by_nation": q_sales_by_nation,
    "events_retention": q_events_retention,
    "top_parts_per_supplier": q_top_parts_per_supplier,
    "drift_histogram": q_drift_histogram,
    "tfidf_top_terms": q_tfidf_top_terms,
    "chunk_documents": q_chunk_documents,
    "embedding_quantize": q_embedding_quantize,
    "events_multi_rollup": q_events_multi_rollup,
    "events_missing_periods": q_events_missing_periods,
    "knn_int8": q_knn_int8,
    "knn_recall": q_knn_recall,
    "source_cap": q_source_cap,
    "join_cardinality": q_join_cardinality,
    # appended LAST on purpose: the driver's correctness sweep reads the
    # registry front-to-back and has truncated before — never displace a
    # not-yet-swept query by inserting ahead of it mid-round
    "ngram_dup_profile": q_ngram_dup_profile,
    "ngram_novelty": q_ngram_novelty,
    "fuzzy_key_match": q_fuzzy_key_match,
    "dedup_incremental": q_dedup_incremental,
    "ledger_replay": q_ledger_replay,
    "minhash_index": q_minhash_index,
    "gopher_quality": q_gopher_quality,
    "dup_rate_by_source": q_dup_rate_by_source,
    "dataset_checksum": q_dataset_checksum,
    "checksum_diff_by_month": q_checksum_diff_by_month,
    "dedup_editdist": q_dedup_editdist,
    "rolling_drift": q_rolling_drift,
    "quantiles_distributed": q_quantiles_distributed,
    "winsorize": q_winsorize,
    "fuzzy_key_editdist": q_fuzzy_key_editdist,
    "group_quantiles": q_group_quantiles,
    "winsorize_by_group": q_winsorize_by_group,
    "decontaminate_editdist": q_decontaminate_editdist,
    "shard_corpus": q_shard_corpus,
    "dedup_semantic": q_dedup_semantic,
    "line_dedup": q_line_dedup,
    "events_json_props": q_events_json_props,
    "json_key_profile": q_json_key_profile,
    "events_anomaly": q_events_anomaly,
    "events_transitions": q_events_transitions,
    "corpus_normalize": q_corpus_normalize,
    "leakage_split": q_leakage_split,
    "kmeans_assign": q_kmeans_assign,
    "cluster_sample": q_cluster_sample,
    "leakage_split_fuzzy": q_leakage_split_fuzzy,
    "embedding_health": q_embedding_health,
    "bm25_search": q_bm25_search,
    "lm_score": q_lm_score,
    "zorder_key": q_zorder_key,
    "graph_pagerank": q_graph_pagerank,
    "data_expectations": q_data_expectations,
    "dup_span_removal": q_dup_span_removal,
    "fk_discovery": q_fk_discovery,
    "semantic_decontaminate": q_semantic_decontaminate,
    "vocab_coverage": q_vocab_coverage,
    "html_extract": q_html_extract,
    "drift_ks": q_drift_ks,
    "npmi_collocations": q_npmi_collocations,
    "mad_outliers": q_mad_outliers,
    "events_attribution": q_events_attribution,
    "temperature_mix": q_temperature_mix,
    "dsir_weights": q_dsir_weights,
    "quantile_drift": q_quantile_drift,
    "k_anonymity": q_k_anonymity,
    "knn_jaccard_graph": q_knn_jaccard_graph,
    "char_entropy": q_char_entropy,
}

PIPELINE_ORACLES: Dict[str, str] = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_pairs": SQL_DEDUP_MINHASH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "dedup_embedding_cosine": SQL_DEDUP_EMBEDDING,
    "knn_cosine_bruteforce": SQL_KNN_BRUTEFORCE,
    "knn_lsh": SQL_KNN_LSH,
    "text_stats": SQL_TEXT_STATS,
    "lang_id": SQL_LANG_ID,
    "token_count": SQL_TOKEN_COUNT,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "events_hourly_rollup": SQL_EVENTS_HOURLY,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "cmp_ignore_flags": SQL_CMP_IGNORE_FLAGS,
    "stream_hourly_profile": SQL_STREAM_HOURLY_PROFILE,
    "knn_ivf": SQL_KNN_IVF,
    "knn_pq": SQL_KNN_PQ,
    "cmp_rel_tol": SQL_CMP_REL_TOL,
    "cmp_decimal": SQL_CMP_DECIMAL,
    "word_frequencies": SQL_WORD_FREQUENCIES,
    "events_asof_join": SQL_EVENTS_ASOF,
    "events_range_join": SQL_EVENTS_RANGE_JOIN,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "pii_scrub": SQL_PII_SCRUB,
    "quality_filter": SQL_QUALITY_FILTER,
    "hash_split": SQL_HASH_SPLIT,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "table_profile": SQL_TABLE_PROFILE,
    "profile_compare": SQL_PROFILE_COMPARE,
    "stream_compare": SQL_STREAM_COMPARE,
    "media_features": SQL_MEDIA_FEATURES,
    "profile_quantiles": SQL_PROFILE_QUANTILES,
    "schema_compare": SQL_SCHEMA_COMPARE,
    "repetition_metrics": SQL_REPETITION_METRICS,
    "decontaminate": SQL_DECONTAMINATE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "dedup_collapse": SQL_DEDUP_COLLAPSE,
    "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
    "corpus_mix": SQL_CORPUS_MIX,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "curate_corpus": SQL_CURATE_CORPUS,
    "cdc_delta": SQL_CDC_DELTA,
    "cdc_apply": SQL_CDC_APPLY,
    "scd2_history": SQL_SCD2_HISTORY,
    "events_latest_per_user": SQL_EVENTS_LATEST,
    "key_skew_profile": SQL_KEY_SKEW_PROFILE,
    "sales_by_nation": SQL_SALES_BY_NATION,
    "events_retention": SQL_EVENTS_RETENTION,
    "top_parts_per_supplier": SQL_TOP_PARTS,
    "drift_histogram": SQL_DRIFT_HISTOGRAM,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "events_multi_rollup": SQL_EVENTS_MULTI_ROLLUP,
    "events_missing_periods": SQL_EVENTS_MISSING_PERIODS,
    "knn_int8": SQL_KNN_INT8,
    "knn_recall": SQL_KNN_RECALL,
    "source_cap": SQL_SOURCE_CAP,
    "join_cardinality": SQL_JOIN_CARDINALITY,
    "ngram_dup_profile": SQL_NGRAM_DUP_PROFILE,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "fuzzy_key_match": SQL_FUZZY_KEY_MATCH,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "ledger_replay": SQL_LEDGER_REPLAY,
    "minhash_index": SQL_MINHASH_INDEX,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "dup_rate_by_source": SQL_DUP_RATE_BY_SOURCE,
    "dataset_checksum": SQL_DATASET_CHECKSUM,
    "checksum_diff_by_month": SQL_CHECKSUM_DIFF_BY_MONTH,
    "dedup_editdist": SQL_DEDUP_EDITDIST,
    "rolling_drift": SQL_ROLLING_DRIFT,
    "quantiles_distributed": SQL_QUANTILES_DISTRIBUTED,
    "winsorize": SQL_WINSORIZE,
    "fuzzy_key_editdist": SQL_FUZZY_KEY_EDITDIST,
    "group_quantiles": SQL_GROUP_QUANTILES,
    "winsorize_by_group": SQL_WINSORIZE_BY_GROUP,
    "decontaminate_editdist": SQL_DECONTAMINATE_EDITDIST,
    "shard_corpus": SQL_SHARD_CORPUS,
    "dedup_semantic": SQL_DEDUP_SEMANTIC,
    "line_dedup": SQL_LINE_DEDUP,
    "events_json_props": SQL_EVENTS_JSON_PROPS,
    "json_key_profile": SQL_JSON_KEY_PROFILE,
    "events_anomaly": SQL_EVENTS_ANOMALY,
    "events_transitions": SQL_EVENTS_TRANSITIONS,
    "corpus_normalize": SQL_CORPUS_NORMALIZE,
    "leakage_split": SQL_LEAKAGE_SPLIT,
    "kmeans_assign": SQL_KMEANS_ASSIGN,
    "cluster_sample": SQL_CLUSTER_SAMPLE,
    "leakage_split_fuzzy": SQL_LEAKAGE_SPLIT_FUZZY,
    "embedding_health": SQL_EMBEDDING_HEALTH,
    "bm25_search": SQL_BM25_SEARCH,
    "lm_score": SQL_LM_SCORE,
    "zorder_key": SQL_ZORDER_KEY,
    "graph_pagerank": SQL_GRAPH_PAGERANK,
    "data_expectations": SQL_DATA_EXPECTATIONS,
    "dup_span_removal": SQL_DUP_SPAN_REMOVAL,
    "fk_discovery": SQL_FK_DISCOVERY,
    "semantic_decontaminate": SQL_SEMANTIC_DECONTAMINATE,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
    "html_extract": SQL_HTML_EXTRACT,
    "drift_ks": SQL_DRIFT_KS,
    "npmi_collocations": SQL_NPMI_COLLOCATIONS,
    "mad_outliers": SQL_MAD_OUTLIERS,
    "events_attribution": SQL_EVENTS_ATTRIBUTION,
    "temperature_mix": SQL_TEMPERATURE_MIX,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "quantile_drift": SQL_QUANTILE_DRIFT,
    "k_anonymity": SQL_K_ANONYMITY,
    "knn_jaccard_graph": SQL_KNN_JACCARD_GRAPH,
    "char_entropy": SQL_CHAR_ENTROPY,
}
