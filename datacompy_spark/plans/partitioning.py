"""Partition-count guard for Python-heavy stages.

Local parquet files under ``spark.sql.files.maxPartitionBytes`` (128 MB
default) scan as a SINGLE partition, which serializes every downstream
Arrow/``mapInPandas``/interpreted-HOF stage onto one core — a 32x
slowdown on exactly the operators that pay per-row Python cost. At real
scale the scan already carries thousands of partitions and this guard is
a no-op; it only rescues the small-input case, so the round-robin shuffle
it introduces is bounded by the small input itself.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame


def shuffle_partition_count(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating the ``'auto'``
    value some AQE-managed platforms report (this build rejects setting it,
    but the engine must not crash where it is legal) — fall back to the
    cluster's default parallelism."""
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` round-robin ONLY if its current partition count is
    below the session's default parallelism (the core count in local
    mode). Safe before any partitioning-insensitive stage (per-row maps,
    blocked self-joins that shuffle on their own keys anyway)."""
    if not hasattr(df, "_jdf"):
        # Spark Connect exposes neither sparkContext nor .rdd, so the
        # partition-count probe is impossible there: the guard is skipped
        # rather than injecting a blind shuffle into every plan. No
        # exception swallowing: classic-Spark probe errors surface.
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # getNumPartitions builds the physical RDD plan but launches no job
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def skew_salted_join(
    left: DataFrame,
    right: DataFrame,
    keys,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with explicit hot-key salting: ``left`` rows get a
    per-row salt in ``[0, salt)``, ``right`` rows are replicated ``salt``
    times, and the join runs on ``keys + salt`` — each hot key's rows
    spread over ``salt`` reducers instead of one. Result is EXACTLY the
    plain join (the salt only refines the partitioning; every original
    key pair still meets exactly once).

    Reach for this only after AQE: Spark's adaptive skew-join split
    (``spark.sql.adaptive.skewJoin.enabled``, on by default with AQE)
    already splits oversized sort-merge partitions at runtime without the
    ``salt``× replication cost. Explicit salting remains necessary when
    (a) the join degenerates to a shuffled-hash join AQE won't split,
    (b) a single KEY (not partition) exceeds one task's memory so
    splitting the partition doesn't help, or (c) the skewed side feeds a
    downstream aggregation that must also avoid the hot reducer.
    Supported ``how``: inner / left / left_outer (the replicated side must
    be the one whose rows may duplicate — keep it on the right).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            "skew_salted_join supports inner/left joins only; for right/full "
            "outer, swap the sides or use AQE's skew-join split"
        )
    keys = [keys] if isinstance(keys, str) else list(keys)
    clash = sorted(
        c for c in set(left.columns) | set(right.columns) if c.lower() == "__salt"
    )
    if clash:
        # the salt column is attached to BOTH sides and dropped at the end —
        # a caller column of that (case-folded) name would be destroyed and
        # the join keys corrupted
        raise ValueError(
            f"skew_salted_join reserves the internal column name '__salt' "
            f"(input has {clash}) — rename it first"
        )
    from pyspark.sql import functions as F

    salted_l = left.withColumn(
        "__salt", (F.monotonically_increasing_id() % salt).cast("int")
    )
    salted_r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<int>"))
    )
    return salted_l.join(salted_r, on=keys + ["__salt"], how=how).drop("__salt")


class PrefixSum(NamedTuple):
    """Return contract of :func:`distributed_prefix_sum` — a static shape
    (r14 advice: the flag-dependent DataFrame-or-tuple arity was easy to
    misuse from new call sites)."""

    #: the input with one ``<col>_cum`` running-sum column per sum col
    result: DataFrame
    #: the barriered range-partitioned input frame — already materialized,
    #: so order-independent TOTALS (plain sums of ``sum_cols``) should be
    #: aggregated from here: aggregating ``result`` re-runs the offsets
    #: broadcast join + per-partition sort/window; aggregating the caller's
    #: original frame re-runs everything below the barrier (r14)
    ranged: DataFrame


def distributed_prefix_sum(
    df: DataFrame,
    order_cols,
    sum_cols,
    group_cols=(),
) -> "PrefixSum":
    """Inclusive running sums of ``sum_cols`` ordered by ``order_cols``
    (within ``group_cols``) as a DISTRIBUTED two-phase prefix sum — the
    shared machinery under ``pack_sequences`` (token budgets) and
    ``ks_drift`` (ECDFs). Returns :class:`PrefixSum` — ``result`` carries
    one ``<col>_cum`` column per sum col; ``ranged`` is the materialized
    middle frame for order-independent totals. The range partition count
    is the session's ``spark.sql.shuffle.partitions``.

    Why not a plain window: ``ORDER BY`` with no partition key (or one hot
    group) sorts EVERYTHING into one task. Here: range partition by
    (group, order) so each task owns a contiguous slice → per-partition
    subtotals (rows = n_partitions, trivially small) → exclusive running
    offsets over the subtotal frame → broadcast back → partition-LOCAL
    cumulative sums. No task ever scans more than one range slice.

    Invariants callers must not break: the ranged frame passes through a
    lineage barrier because BOTH the subtotal aggregate and the final
    projection reference it — range bounds are sampled and
    ``spark_partition_id`` is physical, so the two branches must read the
    SAME materialized partitioning (``eager=False``: the one checkpointed
    RDD is shared lazily). The offset window frame is EXCLUSIVE
    (``rowsBetween(unbounded, -1)``): a partition's own subtotal must not
    offset itself."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datacompy_spark.plans.barrier import lineage_barrier

    group_cols = list(group_cols)
    order_cols = list(order_cols)
    sum_cols = list(sum_cols)
    n_parts = shuffle_partition_count(df.sparkSession)
    ranged = lineage_barrier(
        df.repartitionByRange(n_parts, *group_cols, *order_cols).withColumn(
            "__psum_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    w_prior = (
        Window.partitionBy(*group_cols)
        .orderBy("__psum_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy(*group_cols, "__psum_pid")
        .agg(*[F.sum(c).alias(f"__sub_{c}") for c in sum_cols])
        .select(
            *group_cols,
            "__psum_pid",
            *[
                F.coalesce(F.sum(f"__sub_{c}").over(w_prior), F.lit(0)).alias(
                    f"__off_{c}"
                )
                for c in sum_cols
            ],
        )
    )
    w_local = (
        Window.partitionBy(*group_cols, "__psum_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the offsets join must be NULL-SAFE on the group keys: a name-list
    # join compiles to plain equality, which silently DROPS every row of a
    # NULL group (found via group_quantiles_distributed losing its NULL
    # group; windows above already treat NULL as a real partition value)
    offsets = offsets.select(
        *[F.col(g).alias(f"__offg_{g}") for g in group_cols],
        F.col("__psum_pid").alias("__off_pid"),
        *[f"__off_{c}" for c in sum_cols],
    )
    cond = F.col("__psum_pid") == F.col("__off_pid")
    for g in group_cols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__offg_{g}"))
    out = ranged.join(F.broadcast(offsets), cond)
    out = out.select(
        *df.columns,
        *[
            (F.sum(c).over(w_local) + F.col(f"__off_{c}")).alias(f"{c}_cum")
            for c in sum_cols
        ],
    )
    return PrefixSum(result=out, ranged=ranged)
