"""Distributed graph analytics: weighted PageRank over an edge list.

Complements ``operators/dedup.py::connected_components`` (which finds the
graph's pieces) with an importance measure over one piece — e.g. ranking
customers/suppliers in a transaction network, hosts in a crawl link graph,
or documents in a citation graph when curating training corpora.

Cross-engine determinism is by construction: ranks live on an int64
``1/rank_scale`` fixed-point grid, every per-node reduction is an exact
integer sum (order-independent — float summation order never touches the
result), and the two divisions (contribution split, damping) are either
sub-2^52 floor-double expressions mirrored verbatim in the DuckDB twin or
exact integer arithmetic.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datacompy_spark.plans.cache import tracked_persist

RANK_SCALE = 1_000_000_000


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, unrolled for a fixed
    number of iterations. Returns ``(node, rank_q)`` with ranks on the
    int64 ``1/1e9`` grid (they sum to ~1e9, teleport-rounding aside).

    Every node that appears as a source or destination participates;
    dangling nodes (no out-edges) leak their mass to the teleport term —
    the standard simplification — so pass a symmetrized edge list when the
    walk should bounce back (the transaction-network query does).

    Scale shape: the rank frontier is one row per node; each iteration is
    an edges⋈ranks shuffle join on the source key followed by a
    destination-keyed partial-agg integer sum — the canonical distributed
    PageRank step (no broadcast of the node set, which at crawl scale is
    itself billions of rows; the node COUNT is one driver scalar, folded
    into the teleport/init literals instead of crossJoining a 1-row
    aggregate into every iteration). The per-edge contribution split
    ``floor(rank * w / out_w)`` keeps ``rank * w`` below 2^52 for edge
    weights up to ~4e6, so the floor-double division is bit-identical in
    both engines.

    Iterative-lineage discipline: the (edges, out-weights, nodes) working
    set is persisted once, and each iteration's rank frontier passes
    through a :func:`lineage_barrier` — without that, unrolled iteration
    ``i`` physically re-derives iterations ``0..i-1`` from the raw scans
    (the static plan grows multiplicatively).

    ``damping_pct`` is an integer percentage (default 85 ≈ the classic
    0.85) so the damping step stays in exact integer arithmetic.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be an integer percent in (0, 100)")
    from datacompy_spark.plans.barrier import lineage_barrier

    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    # NOT persisted: e is only scanned while DERIVING the persisted working
    # set (nodes, e_out) — pinning a second full edge copy next to e_out
    # would double cached edge memory at crawl scale for no reuse
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    nodes = tracked_persist(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # loop-INVARIANT: the per-edge (w, out_w) pairing never changes across
    # iterations — join it once and persist, so each iteration pays ONE
    # rank-frontier join instead of re-pairing every edge with its source's
    # out-weight every round
    e_out = tracked_persist(e.join(out_w, "src"))
    # n is ONE scalar: take it on the driver (r14 optimization). The former
    # form — a 1-row count aggregate crossJoin(broadcast(...))ed into the
    # rank frontier and into every iteration's damping step — re-planned and
    # re-broadcast that 1-row subtree 1 + iterations times (guide §2.4:
    # remove exchanges outright). One count() action (which also materializes
    # the persisted node set the loop reuses) folds n into literals; the
    # fixed-point arithmetic below is bit-identical because both operands are
    # exact sub-2^53 integers, so Python's IEEE double division and floor
    # match Spark's floor(cast(double)/cast(double)) exactly — and the DuckDB
    # twin keeps computing the same quantities from its own nn CTE.
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_q"))
    # r0 = floor(SCALE / n) per node; teleport term floor(SCALE*(100-d)/(100*n))
    import math

    r0_q = math.floor(float(RANK_SCALE) / float(n))
    ranks = nodes.select("node", F.lit(r0_q).cast("long").alias("rank_q"))
    teleport = F.lit(
        math.floor(float(RANK_SCALE * (100 - damping_pct)) / float(100 * n))
    ).cast("long")
    for _ in range(iterations):
        contrib = (
            e_out.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("rank_q") * F.col("w")).cast("double")
                    / F.col("out_w").cast("double")
                )
                .cast("long")
                .alias("c_q"),
            )
            .groupBy("node")
            .agg(F.sum("c_q").alias("in_q"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    teleport
                    + F.floor(
                        (F.lit(damping_pct) * F.coalesce(F.col("in_q"), F.lit(0).cast("long"))).cast(
                            "double"
                        )
                        / F.lit(100.0)
                    ).cast("long")
                ).alias("rank_q"),
            )
        )
        ranks = lineage_barrier(ranks, eager=False)
    return ranks


def pagerank_sql(
    edges_sql: str,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping_pct: int = 85,
) -> str:
    """DuckDB twin of :func:`pagerank`: the same unrolled iterations as a
    chain of CTEs with identical fixed-point arithmetic. ``edges_sql`` is
    any relation expression (table name or parenthesized subquery)."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be an integer percent in (0, 100)")
    w = f"{weight_col}::BIGINT" if weight_col else "1::BIGINT"
    parts = [
        f"WITH e AS (SELECT {src_col} AS src, {dst_col} AS dst, {w} AS w FROM {edges_sql}),",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "out_w AS (SELECT src, sum(w)::BIGINT AS out_w FROM e GROUP BY 1),",
        "nn AS (SELECT count(*)::BIGINT AS n FROM nodes),",
        f"r0 AS (SELECT node, floor({RANK_SCALE}::DOUBLE / nn.n::DOUBLE)::BIGINT AS rank_q"
        " FROM nodes CROSS JOIN nn),",
    ]
    tele = (
        f"floor(({RANK_SCALE}::BIGINT * {100 - damping_pct}::BIGINT)::DOUBLE"
        " / (100::BIGINT * nn.n)::DOUBLE)::BIGINT"
    )
    for i in range(iterations):
        parts.append(
            f"c{i + 1} AS (SELECT e.dst AS node,"
            f" sum(floor((r.rank_q * e.w)::DOUBLE / o.out_w::DOUBLE)::BIGINT)::BIGINT AS in_q"
            f" FROM e JOIN out_w o USING (src) JOIN r{i} r ON r.node = e.src GROUP BY 1),"
        )
        parts.append(
            f"r{i + 1} AS (SELECT nodes.node,"
            f" ({tele} + floor(({damping_pct}::BIGINT * coalesce(c.in_q, 0::BIGINT))::DOUBLE"
            f" / 100.0)::BIGINT)::BIGINT AS rank_q"
            f" FROM nodes LEFT JOIN c{i + 1} c USING (node) CROSS JOIN nn),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT node, rank_q FROM r{iterations}"
