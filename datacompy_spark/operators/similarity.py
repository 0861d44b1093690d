"""Similarity search over embedding columns.

* ``knn_bruteforce`` — exact top-k cosine: broadcast the (small) query set,
  score every corpus vector JVM-side, rank per query with a window. The
  baseline and the verifier for approximate paths.
* ``knn_lsh`` — random-hyperplane LSH: corpus and queries are bucketed by
  sign-bit keys; candidates come only from matching buckets (multi-probe via
  several independent tables), then exact cosine ranks them. The scale path:
  the corpus side is shuffled once per table on uniform keys, queries stay
  broadcast-sized.

Hyperplanes are derived deterministically from md5 (see
``hyperplanes_from_seed``) so results — and the DuckDB oracle — are exactly
reproducible with no RNG state.
"""

from __future__ import annotations

import hashlib
from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacompy_spark.functions.vector import (
    dot,
    dot_arrow,
    dot_int_arrow,
    norm,
    norm_int,
)
from datacompy_spark.plans.partitioning import fan_out


def _rank_top_k(scored: DataFrame, k: int) -> DataFrame:
    """Shared deterministic top-k tail of every knn variant: rank scored
    (query_id, neighbor_id, cos_sim) pairs per query by descending cosine
    with ascending-id tiebreak."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_assign(
    corpus: DataFrame,
    pivots: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign every vector to its nearest pivot (IVF coarse quantizer).

    ``pivots`` is a small DataFrame (pivot_id, pivot vector) — broadcast to
    every executor; assignment is one narrow pass over the corpus, output
    (id, cell, cell_sim). Pivots can come from anywhere (k-means, random
    sample); :func:`ivf_knn` uses a deterministic id-based sample so results
    are reproducible without iterative training."""
    p = F.broadcast(
        pivots.select(
            F.col(id_col).alias("pivot_id"),
            F.col(vec_col).alias("pv"),
            norm(F.col(vec_col)).alias("pn"),
        )
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("vn"),
    )
    scored = c.join(p).select(
        "vid",
        "v",
        "vn",
        "pivot_id",
        F.try_divide(dot_arrow(F.col("v"), F.col("pv")), F.col("vn") * F.col("pn")).alias("sim"),
    )
    w = Window.partitionBy("vid").orderBy(F.col("sim").desc(), F.col("pivot_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vid", "v", "vn", F.col("pivot_id").alias("cell"), F.col("sim").alias("cell_sim"))
    )


def _probe_cells(
    queries: DataFrame,
    pivots: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells: (query_id, qv, qn, cell).
    Pivots broadcast; one window per query — shared by the in-memory IVF
    path and the persistent-index path so probing can never drift between
    them."""
    p = F.broadcast(
        pivots.select(
            F.col(id_col).alias("pivot_id"),
            F.col(vec_col).alias("pv"),
            norm(F.col(vec_col)).alias("pn"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    qcells = q.join(p).select(
        "query_id",
        "qv",
        "qn",
        "pivot_id",
        F.try_divide(dot_arrow(F.col("qv"), F.col("pv")), F.col("qn") * F.col("pn")).alias("sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("pivot_id").asc()
    )
    return (
        qcells.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= nprobe)
        .select("query_id", "qv", "qn", F.col("pivot_id").alias("cell"))
    )


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    pivot_mod: int = 37,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k cosine: corpus vectors are bucketed by
    nearest pivot (inverted file); each query scans only its ``nprobe``
    nearest cells.

    Pivots are the vectors whose id ≡ 0 (mod ``pivot_mod``) — a
    deterministic coarse quantizer needing no iterative training, so the
    whole operator is reproducible and SQL-expressible. At scale: the
    assignment pass is narrow (pivots broadcast), the inverted file is one
    shuffle on cell id, and each query touches nprobe/|cells| of the data."""
    pivots = corpus.filter(F.col(id_col) % pivot_mod == 0)
    inv = ivf_assign(corpus, pivots, id_col, vec_col).withColumnsRenamed(
        {"vid": "neighbor_id", "v": "cv", "vn": "cn"}
    )

    probes = _probe_cells(queries, pivots, id_col, vec_col, nprobe)
    cand = probes.join(inv, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.try_divide(dot_arrow(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")).alias("cos_sim"),
    )
    return _rank_top_k(scored, k)


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    pivot_mod: int = 37,
    pivots: DataFrame | None = None,
) -> dict:
    """Persist an IVF-flat ANN index as a HIVE-PARTITIONED table: one
    directory per inverted-file cell (plus the pivot table the queries
    re-quantize against). The on-disk twin of :func:`ivf_knn`'s in-memory
    inverted file — build once, probe forever.

    Why this layout matters at 100 TB: a probe touches ``nprobe`` cells,
    and with cells as partition directories the filter becomes partition
    PRUNING — the scan literally never opens the other |cells| - nprobe
    directories. Norms are precomputed at build time, so queries pay no
    per-vector norm pass. Writes go through ``write_partitioned`` (rebalance
    on cell, no small-file explosion). Returns a summary dict.

    Pivot scaling: the default id-mod quantizer grows pivots LINEARLY with
    the corpus, which makes the (corpus × pivots) assignment pass go
    quadratic — measured in SCALING.md. Fine at test scale; at real scale
    pass ``pivots`` explicitly and size it ~sqrt(n) (e.g. quantized
    ``kmeans_fit`` centroids, or a coarser id sample) so build stays
    ~n·sqrt(n) and cells stay probe-sized."""
    from datacompy_spark.sources.loaders import write_partitioned

    if pivots is None:
        pivots = df.filter(F.col(id_col) % pivot_mod == 0).select(
            id_col, vec_col
        )
    else:
        pivots = pivots.select(
            F.col(pivots.columns[0]).alias(id_col),
            F.col(pivots.columns[1]).alias(vec_col),
        )
    inv = ivf_assign(df, pivots, id_col, vec_col)
    write_partitioned(
        inv.select(
            "vid", "v", "vn", "cell", F.lit(0).alias("ingest")
        ),
        f"{path}/cells",
        ["cell", "ingest"],
    )
    pivots.write.mode("overwrite").parquet(f"{path}/pivots")
    spark = df.sparkSession
    cells = spark.read.parquet(f"{path}/cells")
    agg = cells.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cell").alias("n_cells"),
    ).collect()[0]
    return {
        "path": path,
        "n_rows": agg["n_rows"],
        "n_cells": agg["n_cells"],
        "pivot_mod": pivot_mod,
        "id_col": id_col,
        "vec_col": vec_col,
    }


# Streaming ingests write at this base offset (streaming/drift.py::
# streaming_ivf_ingest uses STREAM_INGEST_BASE + batch_id) so they can
# never collide with manual ``ann --append`` ingest ids, which
# auto-increment from max(ingest)+1 BELOW the base.  Without the split
# namespace, a manual append (ingest 1, 2, …) followed by a stream
# (batch 0 → ingest 1) would dynamic-partition-OVERWRITE the earlier
# append's (cell, ingest) leaves — silent data loss.
STREAM_INGEST_BASE = 1 << 40


def append_to_ivf_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    ingest_id: int | None = None,
) -> dict:
    """Incremental index maintenance: assign an ingest batch against the
    index's STORED pivot table and append the new rows under a fresh
    ``ingest=N`` sub-partition — the standing corpus is never re-assigned,
    re-normed, or rewritten (the same per-ingest contract as the minhash
    ledger). Because the quantizer is frozen at build time, an index built
    incrementally is row-identical to one built from the pooled corpus in
    one shot (pinned by test).

    Idempotence: the write is a DYNAMIC partition overwrite of exactly the
    (cell, ingest) directories this batch produces, so replaying the same
    ``ingest_id`` (crash-retry, at-least-once streaming) rewrites its own
    leaves instead of double-appending. When ``ingest_id`` is None the
    next id is read from the partition values (metadata-sized scan) —
    callers with a natural id (stream batch id, pipeline run id) should
    pass it for replay safety. The auto-increment only considers ingests
    below ``STREAM_INGEST_BASE``: streaming ingests live in their own id
    namespace above it, so manual appends and a stream can share an index
    without overwriting each other's leaves."""
    from datacompy_spark.sources.loaders import write_partitioned

    pivots = spark.read.parquet(f"{path}/pivots")
    if ingest_id is None:
        prev = (
            spark.read.parquet(f"{path}/cells")
            .filter(F.col("ingest") < F.lit(STREAM_INGEST_BASE))
            .agg(F.max("ingest"))
            .collect()[0][0]
        )
        ingest_id = int(prev or 0) + 1
    inv = ivf_assign(batch, pivots, id_col, vec_col)
    write_partitioned(
        inv.select(
            "vid", "v", "vn", "cell", F.lit(int(ingest_id)).alias("ingest")
        ),
        f"{path}/cells",
        ["cell", "ingest"],
        mode="overwrite_dynamic",
    )
    n = batch.count()
    return {"path": path, "appended": n, "ingest": int(ingest_id)}


def compact_ivf_index(spark, path: str) -> dict:
    """Collapse accumulated ingest generations back to a single
    ``ingest=0`` layout — the maintenance step after many small appends
    (each ingest adds a leaf directory per touched cell; a year of hourly
    micro-batches is a small-file problem). Row content is untouched:
    compaction changes only the physical layout, so queries before and
    after are identical (pinned by test).

    The rewrite stages to a sibling temp directory and swaps via rename —
    readers never observe a half-written index. Local-FS rename here; on
    a cluster store the same two-step pattern runs through the
    FileSystem API (rename is atomic on HDFS, copy+delete on object
    stores — use a manifest/catalog there)."""
    import shutil
    import uuid

    from datacompy_spark.sources.loaders import write_partitioned

    cells_dir = f"{path}/cells"
    before = spark.read.parquet(cells_dir)
    n_rows = before.count()
    tmp = f"{path}/cells_compact_{uuid.uuid4().hex[:8]}"
    write_partitioned(
        before.select(
            "vid", "v", "vn", "cell", F.lit(0).alias("ingest")
        ),
        tmp,
        ["cell", "ingest"],
    )
    old = f"{path}/cells_old_{uuid.uuid4().hex[:8]}"
    shutil.move(cells_dir, old)
    shutil.move(tmp, cells_dir)
    shutil.rmtree(old, ignore_errors=True)
    return {"path": path, "n_rows": n_rows}


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k cosine against a PERSISTED IVF index
    (:func:`build_ivf_index`) — identical results to :func:`ivf_knn` over
    the same corpus and parameters (same quantizer, same probe stage, same
    tie-breaks; pinned by the equivalence test).

    Scale shape: queries re-quantize against the broadcast pivot table,
    the probed cell set (≤ |queries|·nprobe values, collected driver-side
    — bounded by the probe fan-out, never the corpus) is pushed into the
    index scan as a partition filter (``PartitionFilters`` in the plan —
    asserted by a test), and only those directories are read. The corpus
    itself is never re-assigned, re-normed, or re-shuffled."""
    pivots = spark.read.parquet(f"{path}/pivots")
    probes = _probe_cells(queries, pivots, id_col, vec_col, nprobe)
    needed = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    inv = (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("cell").isin(needed))
        .withColumnsRenamed({"vid": "neighbor_id", "v": "cv", "vn": "cn"})
    )
    cand = probes.join(inv, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot_arrow(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
        ).alias("cos_sim"),
    )
    return _rank_top_k(scored, k)


def hyperplanes_from_seed(n_planes: int, dim: int, seed: str = "lsh") -> List[List[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component (p, i) is
    md5-derived, so any engine (or the SQL oracle) regenerates the exact same
    planes from the seed string."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}#{p}#{i}".encode()).hexdigest()
            v = int(h[:15], 16) / float(1 << 60)  # [0, 1)
            row.append(round(2.0 * v - 1.0, 9))
        planes.append(row)
    return planes


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, cos_sim), rank 1..k by descending
    cosine with ascending-id tiebreak (fully deterministic)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    )
    # corpus norms are computed once per corpus row, not once per (query, row);
    # fan_out first so the scoring pass isn't serialized by a 1-partition scan
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = c.join(q, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.try_divide(dot_arrow(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")).alias("cos_sim"),
    )
    return _rank_top_k(scored, k)


def _bucket_key_from_dots(dots_col, table: int, n_planes: int):
    """Packed sign-bit bucket id for one hyperplane table, read out of the
    precomputed per-plane dot-product array (1-based ``element_at``)."""
    key = F.lit(0).cast("long")
    for j in range(n_planes):
        key = key + F.when(
            F.element_at(dots_col, table * n_planes + j + 1) >= 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
    return key


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    seed: str = "lsh",
) -> DataFrame:
    """Approximate top-k cosine via random-hyperplane LSH.

    Each of ``n_tables`` independent tables buckets vectors by ``n_planes``
    sign bits; a query only scores corpus vectors sharing a bucket in at
    least one table. Recall rises with tables, cost falls with planes.

    All ``n_tables × n_planes`` projections are computed by ONE nested
    higher-order function over the plane matrix, which rides in as DATA: a
    one-row LocalRelation broadcast-joined onto each side. Encoding the
    matrix as expressions (a literal array per plane, or even ``F.lit`` of
    the nested list, which desugars to per-element literals) builds a
    multi-thousand-node tree whose DRIVER-SIDE ANALYSIS dominated this
    operator's wall-clock — measured ~4.3 s of analysis against ~2 s of
    execution; the LocalRelation plan analyzes in ~0.3 s with identical
    results and per-row work. The no-condition join is a deliberate
    one-row constant attach, not a data cross product."""
    tables = [
        hyperplanes_from_seed(n_planes, dim, f"{seed}#{t}") for t in range(n_tables)
    ]
    planes_df = corpus.sparkSession.createDataFrame(
        [([p for planes in tables for p in planes],)],
        "__planes array<array<double>>",
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )

    def banded(df: DataFrame, vec: str) -> DataFrame:
        # stage the dot array as a real column: HOF lambda bodies sit outside
        # codegen CSE, so the fold must not be re-inlined per bucket key
        staged = df.join(F.broadcast(planes_df)).select(
            "*",
            F.transform(F.col("__planes"), lambda p: dot(F.col(vec), p)).alias(
                "__dots"
            ),
        )
        return staged.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            _bucket_key_from_dots(
                                F.col("__dots"), t, n_planes
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("bk"),
        ).select(*df.columns, "bk.tbl", "bk.bucket")

    cb = banded(c, "cv")
    qb = F.broadcast(banded(q, "qv"))
    cand = cb.join(qb, ["tbl", "bucket"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # score INSIDE the broadcast join stage, then dedup multi-table
    # collisions on the three narrow output columns with a map-side
    # partial aggregate — never shuffle the 64-dim vectors themselves
    # (a pair's cos_sim is identical across tables, so max() dedups).
    # Re-scoring a pair once per shared table is cheap JVM fold work;
    # shuffling kilobyte rows is not.
    scored = (
        cand.select(
            "query_id",
            "neighbor_id",
            F.try_divide(dot_arrow(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")).alias(
                "cos_sim"
            ),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return _rank_top_k(scored, k)


def knn_int8_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    pool: int = 50,
    bits: int = 8,
) -> DataFrame:
    """Quantized-prefilter + exact-rerank top-k cosine — the scalar-
    quantization ANN pattern (FAISS SQ8 / ScaNN style) and this engine's
    RECOMMENDED approximate path.

    Two stages:
    1. prefilter: every corpus vector is scored against each (broadcast)
       query on ``bits``-bit integer codes — an EXACT BIGINT dot divided by
       the candidate code norm (query-side norm is constant per query, so
       it cannot change the ranking). The best ``pool`` candidates per
       query survive. This pass touches 4× less memory than float32 and
       runs on integer units, but still scores all N — it trades the
       recall cliff of bucketed methods for a constant-factor win.
    2. rerank: only pool×|queries| pairs are scored exactly in float
       (same cosine as :func:`knn_bruteforce`), restoring exact top-k
       whenever the true neighbors reach the pool.

    Why this is the blessed path here: measured on the synthetic test
    embeddings (isotropic — NO cluster structure), recall@5 is 1.00 at
    pool=50 while LSH/IVF cap at 0.03-0.8 for comparable work, because
    locality bucketing has no locality to exploit when neighbor cosine
    (~0.32) barely exceeds background (~0.0). On clustered real embedding
    corpora the bucketed paths recover; on adversarially uniform data this
    one keeps its recall guarantee. At 100 TB: codes live as a separate
    narrow column (4× scan saving), the pool join is tiny, and only pooled
    ids touch the float vectors.
    """
    codes = quantize_embeddings(corpus, id_col, vec_col, bits).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("c_code"),
    )
    qcodes = quantize_embeddings(queries, id_col, vec_col, bits).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_code"),
    )
    c = fan_out(codes).select(
        "neighbor_id", "c_code", norm_int(F.col("c_code")).alias("c_n")
    )
    scored = c.join(F.broadcast(qcodes), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.try_divide(
            dot_int_arrow(F.col("q_code"), F.col("c_code")).cast("double"),
            F.col("c_n"),
        ).alias("approx"),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc()
    )
    pooled = (
        scored.withColumn("prnk", F.row_number().over(wp))
        .filter(F.col("prnk") <= pool)
        .select("query_id", "neighbor_id")
    )
    # exact rerank: only the pooled pairs touch float vectors
    qf = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    )
    cf = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    exact = (
        pooled.join(qf, "query_id")
        .join(cf, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot_arrow(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
            ).alias("cos_sim"),
        )
    )
    return _rank_top_k(exact, k)


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    pivot_mod: int = 37,
) -> DataFrame:
    """Product-quantization encoder: split each vector into ``m`` subvectors
    and store, per subspace, the id of the nearest sub-codeword — ``m``
    small ints replace ``dim`` floats (the PQ memory compression, Jégou et
    al. 2011). Codebooks are deterministic: subspace ``j``'s codewords are
    the ``j``-th subvectors of the pivot rows (id ≡ 0 mod ``pivot_mod``) —
    no k-means loop, reproducible anywhere, SQL-expressible.

    Output: (vid, code_0 … code_{m-1}). Argmin ties (possible only on
    duplicate pivot subvectors) break to the lowest pivot id via a
    min-over-struct — deterministic in both engines.

    Scale: one narrow pass (pivots broadcast) + one groupBy shuffle on the
    vector id. The emitted code table is the ONLY thing the ADC scan phase
    reads — ``m`` ints per vector instead of the raw embedding."""
    from datacompy_spark.functions.vector import l2sq_slice

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    p = F.broadcast(
        corpus.filter(F.col(id_col) % pivot_mod == 0).select(
            F.col(id_col).alias("pivot_id"), F.col(vec_col).alias("pv")
        )
    )
    cross = fan_out(corpus).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).join(p)
    aggs = [
        F.min(
            F.struct(
                l2sq_slice(F.col("v"), F.col("pv"), j * sub + 1, sub).alias("d"),
                F.col("pivot_id").alias("p"),
            )
        )
        .getField("p")
        .alias(f"code_{j}")
        for j in range(m)
    ]
    return cross.groupBy("vid").agg(*aggs)


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    pivot_mod: int = 37,
    rerank: int = 32,
) -> DataFrame:
    """PQ + asymmetric-distance (ADC) approximate top-k cosine: corpus
    vectors are scanned as ``m``-int PQ codes, each query's distance to
    every codeword is a broadcast lookup table, and the approximate L2 of a
    (query, vector) pair is the fixed-order sum of ``m`` table entries —
    never a touch of the raw corpus vector. The best ``rerank`` candidates
    per query are then exactly re-scored with true cosine.

    Scale shape: the ADC scan streams the code table (m ints/vector — at
    100 TB of fp32 embeddings the codes are a ~32× smaller scan) against
    ``m`` broadcast-joined lookup tables of |queries|·|codewords| rows; one
    window ranks candidates; only |queries|·rerank raw vectors are ever
    fetched, via a broadcast semi-probe of the corpus. Output matches every
    other knn: (query_id, neighbor_id, rank, cos_sim)."""
    from datacompy_spark.functions.vector import l2sq_slice

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    codes = pq_encode(corpus, id_col, vec_col, dim, m, pivot_mod)
    pivots = corpus.filter(F.col(id_col) % pivot_mod == 0).select(
        F.col(id_col).alias("pivot_id"), F.col(vec_col).alias("pv")
    )
    # per-query ADC lookup table: distance from the query's j-th subvector
    # to every codeword of subspace j (|queries| × |codewords| rows, tiny)
    qtab = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .join(pivots)
        .select(
            "query_id",
            "pivot_id",
            *[
                l2sq_slice(F.col("qv"), F.col("pv"), j * sub + 1, sub).alias(f"qd_{j}")
                for j in range(m)
            ],
        )
    )
    # fold the lookup table into ONE broadcast map per query (pivot_id →
    # per-subspace distances): the ADC scan is then a single broadcast
    # join with m codegen map lookups per row, not m join stages
    lut = qtab.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    "pivot_id",
                    F.struct(*[F.col(f"qd_{j}") for j in range(m)]),
                )
            )
        ).alias("__lut")
    )
    scored = codes.join(F.broadcast(lut))
    # fixed left-to-right addition order — bit-identical to the SQL twin
    approx = F.col("__lut").getItem(F.col("code_0")).getField("qd_0")
    for j in range(1, m):
        approx = approx + F.col("__lut").getItem(F.col(f"code_{j}")).getField(
            f"qd_{j}"
        )
    cand = (
        scored.filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid", approx.alias("approx"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").asc(), F.col("vid").asc()
    )
    cand = (
        cand.withColumn("rr", F.row_number().over(w))
        .filter(F.col("rr") <= rerank)
        .select("query_id", "vid")
    )
    # exact rerank touches raw vectors for candidates only: the corpus
    # streams past a broadcast of |queries|·rerank ids
    cv = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    ).join(F.broadcast(cand), "vid")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    )
    rescored = cv.join(q, "query_id").select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.try_divide(
            dot_arrow(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
        ).alias("cos_sim"),
    )
    return _rank_top_k(rescored, k)


def knn_pq_sql(
    table: str,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    pivot_mod: int = 37,
    rerank: int = 32,
) -> str:
    """DuckDB twin of :func:`knn_pq` over ``table`` with the standard
    probe set (``id % probe_mod = 0``). Same codebooks, same fixed-order
    ADC sum, same tie-breaks.

    The ADC lookups are a chain of MATERIALIZED CTEs (s0…s{m-1}), one
    lookup table per step, NOT one m-way star join: DuckDB's join-order
    optimizer sees the qtab copies sharing only ``query_id`` and explores
    qtab×qtab orders whose intermediates are |codewords|^m-sized —
    the flat form never finished at 2000 rows. Materialization fences
    force the left-deep order (and keep the ``qd_0 + qd_1 + …``
    accumulation left-to-right, bit-identical to the Spark chain)."""
    from datacompy_spark.functions.vector import cosine_sql, l2sq_slice_sql

    sub = dim // m
    code_aggs = ",\n    ".join(
        f"(min({{'d': {l2sq_slice_sql('c.' + vec_col, 'p.pv', j * sub + 1, sub)},"
        f" 'p': p.pivot_id}})).p AS code_{j}"
        for j in range(m)
    )
    qd_cols = ",\n    ".join(
        f"{l2sq_slice_sql('q.' + vec_col, 'p.pv', j * sub + 1, sub)} AS qd_{j}"
        for j in range(m)
    )
    steps = []
    carry = ", ".join(f"c.code_{j}" for j in range(1, m))
    steps.append(
        f"""s0 AS MATERIALIZED (
  SELECT t.query_id, c.vid{", " + carry if carry else ""}, t.qd_0 AS acc
  FROM codes c JOIN qtab t ON t.pivot_id = c.code_0
  WHERE c.vid <> t.query_id)"""
    )
    for j in range(1, m):
        carry = ", ".join(f"s.code_{i}" for i in range(j + 1, m))
        steps.append(
            f"""s{j} AS MATERIALIZED (
  SELECT s.query_id, s.vid{", " + carry if carry else ""}, s.acc + t.qd_{j} AS acc
  FROM s{j - 1} s JOIN qtab t
    ON t.query_id = s.query_id AND t.pivot_id = s.code_{j})"""
        )
    steps_sql = ",\n".join(steps)
    return f"""
WITH pivots AS MATERIALIZED (
  SELECT {id_col} AS pivot_id, {vec_col} AS pv FROM {table}
  WHERE {id_col} % {pivot_mod} = 0),
codes AS MATERIALIZED (
  SELECT c.{id_col} AS vid,
    {code_aggs}
  FROM {table} c CROSS JOIN pivots p GROUP BY c.{id_col}),
qtab AS MATERIALIZED (
  SELECT q.{id_col} AS query_id, p.pivot_id,
    {qd_cols}
  FROM {table} q CROSS JOIN pivots p WHERE q.{id_col} % {probe_mod} = 0),
{steps_sql},
cand AS (
  SELECT query_id, vid,
    row_number() OVER (
      PARTITION BY query_id
      ORDER BY acc ASC, vid ASC) AS rr
  FROM s{m - 1}),
rescored AS (
  SELECT cand.query_id, cand.vid AS neighbor_id,
    {cosine_sql('q.' + vec_col, 'c.' + vec_col, dim)} AS cos_sim
  FROM cand
  JOIN {table} c ON c.{id_col} = cand.vid
  JOIN {table} q ON q.{id_col} = cand.query_id
  WHERE cand.rr <= {rerank})
SELECT query_id, neighbor_id, rank::INT AS rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (
      PARTITION BY query_id
      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM rescored)
WHERE rank <= {k}"""


def label_centroids(
    df: DataFrame, label_col: str, vec_col: str, quantum: int = 1_000_000
) -> DataFrame:
    """Per-label centroid in long form ``(label, dim_idx, centroid_val)`` —
    the k-means/IVF training step and the standard embedding-drift monitor.

    Determinism note: float summation is order-dependent, and a distributed
    sum visits rows in partition order while other engines pick their own —
    so the values are quantized to ``1/quantum`` integers first and summed
    as BIGINTs (exact, order-independent), then divided once. Centroids are
    reproducible bit-for-bit across engines/cluster layouts at the cost of
    1e-6 quantization, far below embedding noise. Shape: posexplode →
    one partial-agg shuffle on (label, dim) — scales linearly; no driver
    collection."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim_idx", "val"),
    )
    q = F.round(F.col("val").cast("double") * quantum).cast("long")
    return ex.groupBy("label", "dim_idx").agg(
        (
            F.sum(q).cast("double") / F.lit(float(quantum)) / F.count(F.lit(1))
        ).alias("centroid_val")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str, bits: int = 8
) -> DataFrame:
    """Symmetric per-vector integer quantization of an embedding column —
    the compression step before a memory-bound ANN index (int8 vectors are
    4x smaller than float32; dot products on them run in SIMD integer
    units). ``q_i = floor(x_i * scale + 0.5)`` with
    ``scale = (2^(bits-1) - 1) / max|x_i|``; the scale rides along for
    dequantization / asymmetric scoring.

    ``floor(x + 0.5)`` instead of round(): engines disagree on round()'s
    tie rule (HALF_UP vs banker's), floor is IEEE-exact everywhere — the
    same determinism rule the centroid operator uses. Zero vectors get
    scale 0 and an all-zero code. Pure per-row Column expressions: no
    shuffle, no UDF, embarrassingly parallel at any scale.
    """
    qmax = float(2 ** (bits - 1) - 1)
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x))).cast("double")
    scale = F.when(amax > 0.0, F.lit(qmax) / amax).otherwise(F.lit(0.0))
    out = df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.col(vec_col).alias("__v"),
    )
    return out.select(
        id_col,
        "scale",
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)).cast("int"),
        ).alias("qvec"),
    )


def quantize_embeddings_sql(
    table: str, id_col: str, vec_col: str, bits: int = 8
) -> str:
    """DuckDB twin of :func:`quantize_embeddings`."""
    qmax = float(2 ** (bits - 1) - 1)
    amax = f"list_max(list_transform({vec_col}, x -> abs(x)))::DOUBLE"
    scale = f"CASE WHEN {amax} > 0.0 THEN {qmax}::DOUBLE / {amax} ELSE 0.0::DOUBLE END"
    return f"""
WITH scaled AS (
  SELECT {id_col}, {scale} AS scale, {vec_col} AS v FROM {table})
SELECT {id_col}, scale,
  list_transform(v, x -> floor(x::DOUBLE * scale + 0.5)::INT) AS qvec
FROM scaled"""


def tune_ann(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    target_recall: float = 0.9,
    sample: int = 256,
    seed: str = "tune",
) -> dict:
    """Density-probe auto-tuner for the bucketed ANN paths.

    The bucketed methods (:func:`knn_lsh`, :func:`ivf_knn`) have a recall
    cliff whose location depends entirely on how clustered the corpus is:
    sign-bit buckets almost never collide for neighbors at cosine ~0.3
    (isotropic noise) and almost always collide at ~0.99 (tight clusters).
    Fixed defaults therefore cannot promise a recall floor. This probe
    measures the corpus's neighbor density once, cheaply, and returns
    parameters sized for ``target_recall`` on THIS corpus — or an honest
    recommendation to use :func:`knn_int8_rerank` when no bucketed
    parameterization can reach the target affordably.

    Cost (designed for 100 TB): ONE count aggregate plus ONE bounded
    collect of ~``sample`` rows chosen by a deterministic md5 lottery on
    the id (no full shuffle — the lottery filter is a narrow scan
    predicate, and the over-draw cap is a TakeOrdered top-k keyed by a
    second md5 draw, so the kept subset is a pure function of the ids,
    never of partition layout). All analysis is driver-side numpy on a
    ≤ sample×dim matrix (kilobytes).

    Model, per random-hyperplane theory (Charikar 2002): a neighbor at
    cosine c survives one hyperplane with probability
    ``rho = 1 - acos(c)/pi``; with p planes and T tables, recall is
    ``1 - (1 - rho^p)^T``.

    * ``est_neighbor_cos`` — the ``1 - target_recall`` quantile of each
      sample vector's cosine to its nearest OTHER sample vector: recall is
      governed by the HARDEST neighbors a caller still wants found, so the
      tuner sizes for the distribution's weak tail, not its median. Doubly
      conservative: any sample is also sparser than the full corpus.
    * ``n_planes`` — sized from the corpus count so RANDOM collisions per
      table stay bounded (~n/2^p candidates), clamped to [4, 16].
    * ``n_tables`` — smallest T with ``(1 - rho^p)^T <= 1 - target``;
      when that T exceeds 16, bucketing is judged unaffordable and
      ``path`` flips to ``int8_rerank`` (the engine's recall-guaranteed
      fallback for unclustered data).
    * ``nprobe`` / ``pivot_mod`` — IVF simulated on the sample with
      ~sqrt(s) pivots: for each vector, how many cells (ranked by pivot
      similarity) must be probed before its true sample-NN's cell
      appears. The ``target_recall`` quantile of that rank is taken as a
      FRACTION of the simulated cell count and rescaled to the real
      index's ~sqrt(n) cells (``ivf_probe_frac`` in the output) — the
      raw sim rank would under-probe by ~sqrt(n/sample²) at corpus
      scale. A large resulting fraction is itself diagnostic: probing a
      quarter of the cells means IVF is barely cheaper than brute force
      on this corpus.

    Returns a plain dict (diagnostics included) ready to splat into the
    knn calls:  ``tune = tune_ann(...)``, then
    ``knn_lsh(..., n_tables=tune["n_tables"], n_planes=tune["n_planes"])``
    and ``ivf_knn(..., nprobe=tune["nprobe"], pivot_mod=tune["pivot_mod"])``.
    """
    import math

    import numpy as np

    from datacompy_spark.functions.hashing import md5_long

    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    # count under the SAME isNotNull predicate the sample uses: planes and
    # pivot cells are sized for the indexable population, and a corpus with
    # many NULL/ragged embeddings must not inflate them
    n = corpus.filter(F.col(vec_col).isNotNull()).count()
    step = max(1, n // max(sample, 1))
    lottery = F.pmod(md5_long(F.col(id_col).cast("string"), seed), step)
    sampled = (
        corpus.select(F.col(id_col), F.col(vec_col), lottery.alias("__lot"))
        .filter(F.col(vec_col).isNotNull() & (F.col("__lot") == 0))
        # when the lottery passes more rows than the cap (binomial noise),
        # a bare limit() keeps a partition-order-dependent subset; ordering
        # by a second md5 draw keeps the kept subset a pure function of the
        # ids — deterministic across layouts, as the docstring promises.
        # Bounded rows (~2*sample), so the sort is driver-trivial.
        .orderBy(md5_long(F.col(id_col).cast("string"), seed + "|cap"), id_col)
        .limit(2 * sample)
        .drop("__lot")
        .toPandas()
    )
    # a corpus can carry stray NULL/ragged embeddings (the knn_* operators
    # tolerate them); the tuner must not die on one — keep only vectors of
    # the sample's modal length so the matrix below is rectangular
    vecs = [v for v in sampled[vec_col] if v is not None and len(v) > 0]
    if vecs:
        from collections import Counter

        modal_len = Counter(len(v) for v in vecs).most_common(1)[0][0]
        vecs = [v for v in vecs if len(v) == modal_len]
    X = (
        np.asarray([np.asarray(v, dtype="float64") for v in vecs])
        if vecs
        else np.zeros((0, 0))
    )
    s = len(X)
    out = {
        "n": int(n),
        "sample_size": int(s),
        "dim": int(X.shape[1]) if s else None,
        "target_recall": float(target_recall),
        # conservative fallbacks, overwritten below when the sample suffices
        "est_neighbor_cos": None,
        "rho": None,
        "n_planes": 8,
        "n_tables": 4,
        "required_tables": None,
        "nprobe": 2,
        "pivot_mod": 37,
        "ivf_probe_frac": None,
        "path": "int8_rerank",
    }
    if s < 8:
        # nothing to measure — recommend the recall-guaranteed path
        return out

    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0.0] = 1.0
    U = X / norms[:, None]
    S = U @ U.T
    np.fill_diagonal(S, -np.inf)
    nn_idx = S.argmax(axis=1)
    nn_cos = S[np.arange(s), nn_idx]
    est = float(
        np.clip(np.quantile(nn_cos, 1.0 - target_recall, method="lower"), -1.0, 1.0)
    )
    rho = 1.0 - math.acos(max(min(est, 1.0), -1.0)) / math.pi
    out["est_neighbor_cos"] = est
    out["rho"] = rho

    # planes from corpus size: background (cos~0) pairs collide per table
    # with prob 2^-p, so candidates/table ~ n/2^p; budget ~256
    p = min(16, max(4, math.ceil(math.log2(max(n, 2) / 256.0))))
    out["n_planes"] = int(p)
    hit = rho**p
    if hit >= 1.0:  # exact duplicates everywhere
        required = 1
    elif hit <= 0.0:
        required = math.inf
    else:
        required = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - hit))
    out["required_tables"] = None if required is math.inf else int(required)
    if required <= 16:
        out["n_tables"] = int(max(2, required))
        out["path"] = "lsh"
    else:
        # no affordable (p, T) reaches the target on this corpus —
        # bucketing has no locality to exploit; int8-prefilter + exact
        # rerank keeps its recall guarantee regardless of clustering
        out["path"] = "int8_rerank"

    # pivot_mod so the inverted file has ~sqrt(n) cells (classic IVF
    # sizing: probe cost and cell size balance at sqrt)
    out["pivot_mod"] = int(max(2, round(math.sqrt(max(n, 4)))))
    m_real = max(1, round(n / out["pivot_mod"]))

    # --- IVF simulation on the sample: ~sqrt(s) pivots ------------------
    stride = max(1, int(round(math.sqrt(s))))
    pivot_idx = np.arange(0, s, stride)
    if len(pivot_idx) >= 2:
        m_sim = len(pivot_idx)
        P = U[pivot_idx]                         # (m_sim, d) unit pivots
        sim_to_pivots = U @ P.T                  # (s, m_sim)
        own_cell = sim_to_pivots.argmax(axis=1)
        # rank (1-based) of the true NN's cell in each vector's
        # pivot-similarity order = probes needed to reach that neighbor
        # IN THE SIMULATED index
        order = np.argsort(-sim_to_pivots, axis=1)
        nn_cell = own_cell[nn_idx]
        ranks = (order == nn_cell[:, None]).argmax(axis=1) + 1
        # the sim has only m_sim (~sqrt(sample)) cells while the real
        # index has m_real (~sqrt(n)): the neighbor's cell rank counts
        # pivots closer to the query than the neighbor's pivot, i.e. a
        # FRACTION of the pivot population inside a fixed angular cap —
        # that fraction is what transfers between pivot densities, so the
        # real nprobe is the fraction times the real cell count, not the
        # raw sim rank (which would silently under-probe whenever
        # n >> sample², the exact cliff this tuner exists to remove)
        frac = float(
            np.quantile(ranks / float(m_sim), target_recall, method="higher")
        )
        out["ivf_probe_frac"] = frac
        out["nprobe"] = int(min(max(math.ceil(frac * m_real), 1), m_real))
    else:
        out["ivf_probe_frac"] = None
    return out


def knn_auto(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    target_recall: float = 0.9,
    sample: int = 256,
    seed: str = "tune",
    stats_out: dict | None = None,
) -> DataFrame:
    """Approximate top-k cosine with automatically chosen method and
    parameters: run :func:`tune_ann` once, then dispatch —
    :func:`knn_lsh` with the tuned (tables, planes) when the corpus has
    enough cluster structure for bucketing to hit ``target_recall``
    affordably, :func:`knn_int8_rerank` otherwise (the recall-guaranteed
    path on unclustered data). The ``int8_rerank`` pool is sized so the
    prefilter keeps ~``max(50, 10k)`` candidates per query.

    One extra count + one bounded sample collect over just calling a knn
    function directly — negligible against any real ANN query, and it
    removes the silent recall cliff of fixed parameters.

    ``stats_out`` (observability, same convention as
    ``connected_components``): when a dict is passed it receives the full
    tuner output plus ``method`` — callers log WHY a path was chosen.
    """
    t = tune_ann(
        corpus, id_col, vec_col,
        target_recall=target_recall, sample=sample, seed=seed,
    )
    if t["path"] == "lsh":
        out = knn_lsh(
            corpus, queries, id_col, vec_col, k=k,
            n_tables=t["n_tables"], n_planes=t["n_planes"],
            dim=t["dim"], seed=seed,
        )
        method = "lsh"
    else:
        out = knn_int8_rerank(
            corpus, queries, id_col, vec_col, k=k, pool=max(50, 10 * k)
        )
        method = "int8_rerank"
    if stats_out is not None:
        stats_out.update(t)
        stats_out["method"] = method
    return out


def _km_quantize(df: DataFrame, id_col: str, vec_col: str, quantum: int) -> DataFrame:
    """(vid, vq): embedding snapped to the 1/quantum integer grid with
    floor(x·Q + 0.5) — the cross-engine rounding rule. All k-means
    arithmetic downstream is exact BIGINT, so results are bit-identical
    under any partition layout and on any engine."""
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * quantum + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("vq"),
    )


def _km_assign(vq: DataFrame, cents: DataFrame, carry_vec: bool = False) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffles: the k centroids fold
    into ONE broadcast row of array<struct(cid, cq)>, and each vector picks
    its argmin as a narrow projection — integer squared-L2 via a zip_with
    fold (associative), ``array_min`` over (dist, cid) structs so the
    centroid id is the deterministic tiebreak. Per-row cost is k folds of
    dim integer ops; no groupBy state, which also makes the same helper
    legal on an unbounded STREAM in append mode."""
    one = F.broadcast(cents.agg(F.collect_list(F.struct("cid", "cq")).alias("__cents")))

    def scored(c):
        d = F.aggregate(
            F.zip_with(F.col("vq"), c["cq"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.struct(d.alias("dist"), c["cid"].alias("cid"))

    pick = F.array_min(F.transform(F.col("__cents"), scored))
    # carry_vec (r14): emit the quantized vector alongside the assignment so
    # the centroid-update step can posexplode it directly — without this,
    # kmeans_fit joined the assignment BACK onto vq by vid every iteration
    # (a full shuffle of both sides per iteration, for data the projection
    # already had in hand)
    extra = [F.col("vq")] if carry_vec else []
    return vq.crossJoin(one).select(
        "vid",
        pick["cid"].alias("cid"),
        pick["dist"].alias("dist"),
        *extra,
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    quantum: int = 10_000,
) -> DataFrame:
    """Lloyd k-means over an embedding column, EXACT on a 1/quantum integer
    grid — the corpus-clustering primitive under SemDedup-style pruning,
    domain discovery, and cluster-balanced sampling.

    Why not MLlib KMeans: random init + float accumulation make its
    assignments irreproducible across layouts; a data pipeline wants the
    same clusters on every backfill. Here init is the ``k`` smallest ids,
    distances are BIGINT squared-L2 on the quantized grid (associative —
    partition-order-proof), and centroid updates requantize the exact
    integer mean back onto the grid with floor(x+0.5), so every engine
    walks the identical trajectory (pinned cross-engine by the
    ``kmeans_assign`` oracle).

    Scale shape per iteration: the assignment is a SHUFFLE-FREE narrow
    projection against one broadcast row of centroids (see ``_km_assign``)
    + one (cid,dim) partial-agg shuffle for the update; centroids are
    collected to the driver (k×dim ints, bounded) and re-broadcast, which
    also CUTS LINEAGE — the standard Spark iterative pattern, no unbounded
    plan growth. Fixed-length vectors only (like knn_pq); empty clusters
    drop (classic Lloyd degeneracy), deterministically on both engines."""
    # share ONE persisted quantized-vector frame between training and the
    # final assignment (r14): fit alone evaluated its own vq 2x per
    # iteration + once for seeding, and lloyd's final assign re-derived it
    # again — at scale each evaluation is a full corpus scan + quantize.
    # tracked (r15): the RETURNED assignment consumes this cache lazily, so
    # this function cannot unpersist it — its owner (a scope() exit or
    # datacompy_spark.release_caches()) reclaims the corpus-width frame
    # once the caller has materialized (the r14 leak: a bare persist
    # pinned it for the session lifetime).
    from datacompy_spark.plans.cache import tracked_persist

    vq = tracked_persist(_km_quantize(df, id_col, vec_col, quantum))
    cents = kmeans_fit(df, id_col, vec_col, k, iters, quantum, _vq=vq)
    return _km_assign(vq, cents).select(
        F.col("vid").alias(id_col),
        F.col("cid").alias("cluster_id"),
        F.col("dist").alias("dist_q"),
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    quantum: int = 10_000,
    _vq: DataFrame | None = None,
) -> DataFrame:
    """The training half of :func:`kmeans_lloyd`: returns the final
    centroid table ``(cid, cq array<bigint>)`` on the quantized grid —
    hand it to :func:`streaming.drift.streaming_cluster_assign` to score
    an unbounded stream against a batch-trained model, or persist it as
    the reusable quantizer for recurring ingests."""
    spark = df.sparkSession
    # `_vq` (internal): kmeans_lloyd hands in its persisted quantized frame
    # so training + final assignment share one materialization (r14).
    # Standalone fit OWNS its persist and can release it before returning:
    # the returned centroid table is a driver-local createDataFrame, so
    # nothing downstream reads vq (r15 — the leak fix's standalone half).
    owns_vq = _vq is None
    vq = _km_quantize(df, id_col, vec_col, quantum).persist() if _vq is None else _vq
    cents = (
        vq.orderBy("vid")
        .limit(k)
        .select(F.col("vid").alias("cid"), F.col("vq").alias("cq"))
    )
    for _ in range(iters):
        # carry_vec: the update step reads the quantized vector straight off
        # the assignment projection — the old form joined assign back onto
        # vq by vid, a per-iteration shuffle of both sides (r14)
        ex = _km_assign(vq, cents, carry_vec=True).select(
            "cid", F.posexplode("vq").alias("dim_idx", "q")
        )
        upd = ex.groupBy("cid", "dim_idx").agg(
            F.floor(
                F.sum("q").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
            )
            .cast("long")
            .alias("q")
        )
        new_cents = (
            upd.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim_idx", "q"))),
                    lambda s: s["q"],
                ).alias("cq")
            )
            .collect()
        )
        cents = spark.createDataFrame(
            [(r["cid"], r["cq"]) for r in new_cents],
            "cid long, cq array<bigint>",
        )
    if owns_vq:
        # blocking: the frame is dead to this function — deterministic
        # release beats a lingering async drop (and keeps the leak test
        # race-free)
        vq.unpersist(blocking=True)
    return cents


def kmeans_lloyd_sql(
    table: str,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    quantum: int = 10_000,
) -> str:
    """DuckDB twin of :func:`kmeans_lloyd`: the same trajectory as a CTE
    chain — long-form integer distances (associative, so the engines'
    different aggregation orders cannot diverge), min-over-struct argmin,
    floor(x+0.5) requantized means."""
    argmin = "(min({'d': d, 'c': cid})).c"
    ctes = [
        f"""vq AS (
  SELECT {id_col} AS vid,
         list_transform({vec_col},
                        x -> floor(x::DOUBLE * {quantum} + 0.5)::BIGINT) AS vq
  FROM {table} WHERE {vec_col} IS NOT NULL)""",
        """vql AS (
  SELECT vid, unnest(generate_series(1, len(vq))) - 1 AS dim_idx,
         unnest(vq) AS q
  FROM vq)""",
        f"""c0 AS (
  SELECT cid, unnest(generate_series(1, len(cq))) - 1 AS dim_idx,
         unnest(cq) AS q
  FROM (SELECT vid AS cid, vq AS cq FROM vq ORDER BY vid LIMIT {k}))""",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT v.vid, c.cid, sum((v.q - c.q) * (v.q - c.q))::BIGINT AS d
  FROM vql v JOIN {prev} c USING (dim_idx)
  GROUP BY v.vid, c.cid)"""
        )
        ctes.append(f"a{i} AS (SELECT vid, {argmin} AS cid FROM d{i} GROUP BY vid)")
        ctes.append(
            f"""c{i} AS (
  SELECT cid, dim_idx,
         floor(sum(q)::DOUBLE / count(*) + 0.5)::BIGINT AS q
  FROM a{i} JOIN vql USING (vid)
  GROUP BY cid, dim_idx)"""
        )
        prev = f"c{i}"
    ctes.append(
        f"""df AS (
  SELECT v.vid, c.cid, sum((v.q - c.q) * (v.q - c.q))::BIGINT AS d
  FROM vql v JOIN {prev} c USING (dim_idx)
  GROUP BY v.vid, c.cid)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
af AS (
  SELECT vid, (min({{'d': d, 'c': cid}})).c AS cid,
         (min({{'d': d, 'c': cid}})).d AS d
  FROM df GROUP BY vid)
SELECT vid AS {id_col}, cid AS cluster_id, d AS dist_q FROM af"""
    )


def semantic_decontaminate(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    eval_df: DataFrame,
    eval_vec_col: str | None = None,
    threshold: float = 0.9,
) -> DataFrame:
    """EMBEDDING-space benchmark decontamination: per corpus document, the
    maximum cosine similarity to ANY held-out evaluation vector, plus a
    ``contaminated`` verdict at ``threshold``. The semantic complement of
    the n-gram overlap check (``textops.decontaminate``): paraphrased or
    lightly-edited benchmark leaks share no k-gram but sit at high cosine.

    Returns ``(id_col, max_eval_cosine, contaminated)`` — one row per
    corpus row; ``max_eval_cosine`` is NULL (and ``contaminated`` false)
    when the corpus vector is NULL/zero-norm or the eval set is empty.

    Scale shape: the eval side is SMALL by construction (benchmark suites
    are thousands of vectors, the corpus is billions), so it is collected
    to the driver ONCE at build time (bounded exactly like the previous
    broadcast-row form — same 100-200M-vector practical ceiling) and
    shipped to executors once as a broadcast matrix that every
    ``mapInArrow`` task reads. Each corpus batch
    scores against the whole eval matrix in numpy with the engine's exact
    sequential fold order (guide §4.2 — the interpreted |eval|×dim HOF
    fold per row was the dominant cost of this operator: every add is now
    vectorized across the batch×eval plane while each (row, eval) pair
    still sees the fold ``((0 + x0·y0) + x1·y1) + …`` in IEEE double, so
    results are bit-identical to the Column-expression form and to the
    DuckDB twin — the :func:`~datacompy_spark.functions.vector.dot_arrow`
    precedent). Only (id, vector) enter the Python boundary; ZERO
    shuffles, no groupBy state, so the operator stays legal on an
    unbounded stream in append mode. Fixed-length vectors only
    (embeddings): an eval or corpus vector of another length, or with a
    null element, raises ``ValueError``. For very large eval sets,
    prefilter candidates with the int8 route (:func:`knn_int8_rerank`)
    before the exact pass."""
    evc = eval_vec_col or vec_col
    ev_rows = (
        eval_df.filter(F.col(evc).isNotNull()).select(F.col(evc)).collect()
    )
    null_out = [
        F.col(id_col),
        F.lit(None).cast("double").alias("max_eval_cosine"),
        F.lit(False).alias("contaminated"),
    ]
    if not ev_rows:
        # empty eval set: every row is NULL / not contaminated (matches the
        # old broadcast-row form: array_max over an empty array)
        return corpus.select(*null_out)

    import numpy as np

    ev = [list(r[0]) for r in ev_rows]
    dim = len(ev[0])
    if any(len(v) != dim or None in v for v in ev):
        raise ValueError(
            "semantic_decontaminate: eval vectors must share one length and "
            f"hold no null elements; found lengths {sorted({len(v) for v in ev})}, "
            f"{sum(None in v for v in ev)} vector(s) with null elements"
        )
    bE = corpus.sparkSession.sparkContext.broadcast(np.array(ev, dtype=np.float64))

    def score_batches(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        E = bE.value
        # eval norms once per task, engine fold order (column-at-a-time:
        # each eval's norm accumulates its squared dims in index order)
        en_acc = np.zeros(E.shape[0], dtype=np.float64)
        for j in range(E.shape[1]):
            en_acc += E[:, j] * E[:, j]
        en = np.sqrt(en_acc)
        for batch in it:
            ids, vecs = batch.column(0), batch.column(1)
            # a ragged vector or a null element would fail inside np.stack
            # (or read as NaN); name the rows instead
            bad = pc.fill_null(pc.list_value_length(vecs), dim).to_numpy() != dim
            if vecs.flatten().null_count:
                bad |= np.array([v is not None and None in v for v in vecs.to_pylist()])
            if bad.any():
                raise ValueError(
                    f"semantic_decontaminate: corpus vectors must have {dim} "
                    f"non-null elements (the eval dimension); first offending "
                    f"{id_col} values: {ids.filter(pa.array(bad)).to_pylist()[:5]}"
                )
            va = vecs.to_numpy(zero_copy_only=False)
            n = len(va)
            vals = np.full(n, np.nan, dtype=np.float64)
            isnull = np.ones(n, dtype=bool)
            live = np.fromiter(
                (x is not None for x in va), dtype=bool, count=n
            )
            if live.any():
                V = np.stack(va[live]).astype(np.float64)
                # dots: column-at-a-time accumulation = the sequential
                # left-to-right double fold of functions.vector.dot, per
                # (row, eval) pair, vectorized across the batch×eval plane
                acc = np.zeros((V.shape[0], E.shape[0]), dtype=np.float64)
                for j in range(V.shape[1]):
                    acc += V[:, j : j + 1] * E[:, j]
                vn_acc = np.zeros(V.shape[0], dtype=np.float64)
                for j in range(V.shape[1]):
                    vn_acc += V[:, j] * V[:, j]
                vn = np.sqrt(vn_acc)
                den = vn[:, None] * en[None, :]
                ok = den != 0.0  # try_divide: zero denominator -> NULL
                cos = np.where(ok, acc / np.where(ok, den, 1.0), np.nan)
                # array_max semantics: NULL entries skipped, NaN entries
                # (possible only from NaN inputs) rank above everything,
                # all-NULL -> NULL
                has_nan = (ok & np.isnan(cos)).any(axis=1)
                masked = np.where(ok & ~np.isnan(cos), cos, -np.inf)
                mx = masked.max(axis=1)
                any_ok = ok.any(axis=1)
                # genuine NaN results stay NaN (not NULL): only rows whose
                # entries were ALL null (den == 0 everywhere) are null
                vals[live] = np.where(has_nan, np.nan, mx)
                isnull[live] = ~any_ok
            yield pa.record_batch(
                [ids, pa.array(vals, type=pa.float64(), mask=isnull)],
                names=[id_col, "max_eval_cosine"],
            )

    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        score_batches,
        T.StructType(
            [
                corpus.schema[id_col],
                T.StructField("max_eval_cosine", T.DoubleType()),
            ]
        ),
    )
    mx = F.col("max_eval_cosine")
    return scored.select(
        F.col(id_col),
        mx,
        F.coalesce(mx >= F.lit(threshold), F.lit(False)).alias("contaminated"),
    )


def semantic_decontaminate_sql(
    corpus_table: str,
    id_col: str,
    vec_col: str,
    eval_table: str,
    dim: int,
    eval_vec_col: str | None = None,
    threshold: float = 0.9,
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate` (all-pairs max of the
    same sequential-fold cosine; LEFT JOIN ON TRUE keeps every corpus row
    when the eval set is empty, matching the broadcast-row shape)."""
    from datacompy_spark.functions.vector import cosine_sql

    evc = eval_vec_col or vec_col
    cos = cosine_sql(f"c.{vec_col}", f"e.{evc}", dim)
    return f"""
SELECT c.{id_col},
  max({cos}) AS max_eval_cosine,
  coalesce(max({cos}) >= {threshold}::DOUBLE, false) AS contaminated
FROM {corpus_table} c
LEFT JOIN (SELECT * FROM {eval_table} WHERE {evc} IS NOT NULL) e ON TRUE
GROUP BY c.{id_col}"""
