"""Cross-snapshot and grouped analytics: top-k per group, cohort
retention, histogram drift.

Extensions beyond the reference surface (its profile/report layer stops at
per-column scalar stats); these are the recurring questions a data-pipeline
owner asks of a 100 TB table between snapshots. All pure DataFrame API —
one shuffle each, no UDFs, no driver loops.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Top-k rows per group by ``order_col`` with a deterministic tiebreak.

    ``row_number`` over a window — at scale this is ONE hash shuffle on the
    group key plus an in-partition sort; Spark's window TopK pushes the
    limit into the sort (partial top-k per map task via
    ``WindowGroupLimit``), so no group ever materializes fully. Skewed
    groups therefore cost O(k) memory, not O(group size).

    ``tiebreak`` columns (ascending) make rank total and the result
    deterministic — required for the oracle gate and for reproducible
    pipelines generally.
    """
    # case-INsensitive: Spark's default resolver folds case, so a caller
    # column named 'Rank' would be silently replaced just like 'rank'
    clash = sorted(c for c in df.columns if c.lower() == "rank")
    if clash:
        raise ValueError(
            f"top_k_per_group reserves the output column name 'rank' "
            f"(input has {clash}) — rename it before ranking"
        )
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    for t in tiebreak or []:
        order.append(F.col(t).asc())
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 604_800,
) -> DataFrame:
    """Cohort retention: users bucketed by first-activity period, counted
    in each later period they return.

    Periods are epoch-based fixed windows (``floor(epoch/period)``) rather
    than calendar truncation — integer arithmetic, engine-portable, and
    immune to calendar-week locale differences. Two aggregations:

    1. per-user first period — partial-agg ``min`` shuffled on user (the
       natural pre-existing partitioning for event logs);
    2. distinct users per (cohort, offset) — shuffle on the tiny
       (cohort, offset) key space.

    At 100 TB the first agg dominates; it is a map-side-combinable min so
    the shuffle carries one row per user per map task, not one per event.
    Returns ``cohort_period, period_offset, n_users``.
    """
    if period_seconds <= 0:
        raise ValueError("period_seconds must be positive")
    period = F.floor(F.unix_timestamp(F.col(ts_col)) / period_seconds).alias("period")
    pu = events.select(F.col(user_col).alias("user"), period)
    first = pu.groupBy("user").agg(F.min("period").alias("cohort_period"))
    return (
        pu.join(first, on="user")
        .select(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("period_offset"),
            "user",
        )
        .groupBy("cohort_period", "period_offset")
        .agg(F.countDistinct("user").alias("n_users"))
    )


def histogram_drift(
    old: DataFrame,
    new: DataFrame,
    column: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Fixed-bin histogram comparison between two snapshots of a column —
    the distribution-drift primitive behind PSI / total-variation alerts.

    Returns one row per bin: ``bin, lo_edge, hi_edge, n_old, n_new,
    p_old, p_new, tv_term (=|p_old-p_new|/2), psi_term``. Aggregate
    ``sum(tv_term)`` for total-variation distance or ``sum(psi_term)`` for
    the population stability index — left to the caller (or
    :func:`drift_scores`) so per-bin detail stays inspectable.

    Bin edges are caller-fixed constants, NOT data-derived quantiles: at
    100 TB the two snapshots are scanned exactly once each (narrow
    projection, partial-agg count shuffle on a ≤``bins``-row key), with no
    preliminary min/max or quantile pass, and bins stay comparable across
    runs — drift time series need stable edges. Out-of-range values land
    in underflow/overflow bins -1 and ``bins``; NULLs land in their own
    NULL bin (edges NULL), merged null-safely across snapshots so null
    mass is compared once, exactly like the DuckDB twin's
    ``IS NOT DISTINCT FROM`` join.
    """
    if bins <= 0 or not hi > lo:
        raise ValueError("histogram_drift needs bins > 0 and hi > lo")
    width = (hi - lo) / bins

    def binned(df: DataFrame, alias: str) -> DataFrame:
        # the ONE binning definition every drift surface shares — a local
        # re-implementation here once diverged-by-construction risk
        return (
            df.select(fixed_bin(column, lo, hi, bins).alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias(alias))
        )

    h_old, h_new = binned(old, "n_old"), binned(new, "n_new")
    # tiny (≤ bins+3 rows per side) — joined with a broadcast-size outer
    # join. eqNullSafe, NOT plain equality: the NULL bin must merge across
    # snapshots or its mass is double-counted in tv/psi (one |p|/2 term
    # per side instead of |p_old-p_new|/2).
    j = h_old.join(
        h_new, h_old["bin"].eqNullSafe(h_new["bin"]), "full_outer"
    ).select(
        F.coalesce(h_old["bin"], h_new["bin"]).alias("bin"),
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    # snapshot totals as an unpartitioned window over the per-bin frame: the
    # whole frame is ≤ bins+2 rows, and the window REUSES the join output —
    # an agg+crossJoin here would re-execute both scan subtrees (Spark does
    # not share unpersisted subplans), doubling the 100 TB scans.
    w = Window.partitionBy()
    out = j.select(
        "*",
        F.sum("n_old").over(w).alias("t_old"),
        F.sum("n_new").over(w).alias("t_new"),
    )
    # an EMPTY snapshot (t=0) is the most important drift case of all — the
    # feed broke — and must yield p=0 rows, not an ANSI DIVIDE_BY_ZERO
    p_old = F.when(
        F.col("t_old") > 0,
        F.col("n_old").cast("double") / F.col("t_old").cast("double"),
    ).otherwise(F.lit(0.0))
    p_new = F.when(
        F.col("t_new") > 0,
        F.col("n_new").cast("double") / F.col("t_new").cast("double"),
    ).otherwise(F.lit(0.0))
    # psi needs ln of a ratio; smooth zeros so the term stays finite.
    eps = 1e-12
    p_old_s = F.greatest(p_old, F.lit(eps))
    p_new_s = F.greatest(p_new, F.lit(eps))
    return out.select(
        "bin",
        (F.lit(lo) + F.col("bin") * width).alias("lo_edge"),
        (F.lit(lo) + (F.col("bin") + 1) * width).alias("hi_edge"),
        "n_old",
        "n_new",
        p_old.alias("p_old"),
        p_new.alias("p_new"),
        (F.abs(p_old - p_new) / 2).alias("tv_term"),
        ((p_new_s - p_old_s) * F.log(p_new_s / p_old_s)).alias("psi_term"),
    )


def drift_scores(hist: DataFrame) -> DataFrame:
    """Collapse a :func:`histogram_drift` frame to scalar drift scores:
    ``tv_distance`` (total variation, ∈[0,1]) and ``psi``. One single-row
    agg over ≤ bins+2 rows."""
    return hist.agg(
        F.sum("tv_term").alias("tv_distance"), F.sum("psi_term").alias("psi")
    )


def missing_periods(
    events: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    period_seconds: int = 3600,
) -> DataFrame:
    """Completeness check for an event stream: for every key, the fixed
    periods between that key's first and last activity in which NO event
    arrived — the "which hours are missing from the feed" question asked
    before trusting any downstream rollup.

    Shape: one partial-agg min/max per key (the only pass over the raw
    events), per-key expected periods synthesized with ``sequence`` +
    ``explode`` (rows generated ∝ key's active span, never a global
    calendar cross-join), then a left-anti join against the observed
    distinct (key, period) pairs — both sides shuffle on the same
    composite key, and the observed side arrives pre-shrunk by its
    distinct. Returns ``key_cols..., period, period_start timestamp``.

    Keys whose span exceeds ``max_periods_guard`` (1M) raise rather than
    explode rows — a 100 TB safety: one corrupt 1970 timestamp would
    otherwise synthesize half a century of hourly rows for that key. The
    guard is ``raise_error`` INSIDE the plan (fails at execution, in the
    same pass that synthesizes the periods) — not a separate build-time
    probe job, which would double the operator's cost by re-running the
    span aggregation just to check it.

    .. versionchanged:: round 6
       The span guard moved from a build-time ``ValueError`` into the plan:
       it now surfaces at ACTION time as a Spark execution error
       (``USER_RAISED_EXCEPTION``, e.g. ``pyspark.errors.SparkRuntimeException``),
       not at construction. Callers that wrapped the build call in
       ``except ValueError`` must instead catch the Spark runtime error
       around the action that consumes the result.
    """
    if period_seconds <= 0:
        raise ValueError("period_seconds must be positive")
    keys = list(key_cols)
    max_periods_guard = 1_000_000
    # floor, not a truncating cast: pre-1970 (negative-epoch) timestamps
    # must round toward -inf to land in the same period as the SQL twin
    # and retention_cohorts.
    period = F.floor(F.unix_timestamp(F.col(ts_col)) / period_seconds).cast("long")
    observed = events.select(*keys, period.alias("period")).distinct()
    spans = observed.groupBy(*keys).agg(
        F.min("period").alias("__lo"), F.max("period").alias("__hi")
    )
    guarded_seq = F.when(
        (F.col("__hi") - F.col("__lo")) > max_periods_guard,
        F.raise_error(
            F.lit(
                f"a key spans more than {max_periods_guard} periods — "
                "timestamp outliers would explode the expected-period "
                "synthesis; clean or clamp the timestamp column first"
            )
        ).cast("array<bigint>"),
    ).otherwise(F.sequence(F.col("__lo"), F.col("__hi")))
    expected = spans.select(*keys, F.explode(guarded_seq).alias("period"))
    missing = expected.join(observed, on=keys + ["period"], how="left_anti")
    return missing.select(
        *keys,
        "period",
        F.timestamp_seconds(F.col("period") * period_seconds).alias("period_start"),
    )


def key_skew_profile(
    df: DataFrame, key_cols: Sequence[str], top_k: int = 10
) -> DataFrame:
    """Pre-join skew diagnostic: the ``top_k`` hottest key values with
    their row counts and share of the table — the question to ask BEFORE a
    100 TB join or aggregation ships ("does one key own 40% of the rows?"),
    paired with the mitigation (`plans/partitioning.py::skew_salted_join`
    or AQE's skew split) when the answer is yes.

    One partial-agg count shuffle on the key (the same shuffle the planned
    join would do, but emitting only counts), then a DISTRIBUTED global
    top-k via ``orderBy().limit()`` — Spark plans that as TakeOrdered,
    partial top-k per partition, so a billion-key count frame never
    funnels through one task (a global row_number window would). The
    table total comes from a second plain count scan of ``df`` (narrow,
    no shuffle) rather than re-executing the count-by-key subtree.
    ``share`` is an exact-int double division; count ties break by key
    string ascending for determinism.
    """
    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    # key rendered as one string so ranking ties break deterministically
    # regardless of key arity/type
    key_str = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    top = (
        counts.select(*keys, "n_rows", key_str.alias("__ks"))
        .orderBy(F.col("n_rows").desc(), F.col("__ks").asc())
        .limit(top_k)
    )
    total_df = df.agg(F.count(F.lit(1)).alias("__total"))
    w = Window.orderBy(F.col("n_rows").desc(), F.col("__ks").asc())
    return (
        top.crossJoin(F.broadcast(total_df))
        .select(
            *keys,
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("__total").cast("double")).alias(
                "share"
            ),
            F.row_number().over(w).alias("rank"),
        )
    )


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Pre-join output-size estimator: the number of rows an inner
    equi-join on ``key_cols`` would produce, per key, for the ``top_k``
    heaviest keys — the "will this 100 TB join explode?" question answered
    from two count aggregates instead of running the join. Counts are cast
    to DECIMAL(19,0); both Spark and DuckDB promote the product (and its
    sum) to DECIMAL(38,0), so products and the total are exact (presented
    as double): a pathological key pair can exceed int64, which would wrap
    negative and hide exactly the key this diagnostic exists to surface.

    Per key k present on both sides, the join emits
    ``n_left(k) × n_right(k)`` rows; a single key with 10⁵ rows on each
    side contributes 10¹⁰ output rows — this diagnostic surfaces exactly
    those keys (and their ``pair_share`` of the total) BEFORE the join
    ships, pairing with :func:`key_skew_profile` (input-side skew) and the
    mitigations (`skew_salted_join`, AQE skew split, pre-aggregation).

    Shape: one partial-agg count shuffle per side (strictly cheaper than
    the join's own shuffles — only counts move), an inner join of the two
    count frames on the same key partitioning, ONE total-pairs aggregate,
    and a distributed TakeOrdered top-k. Never materializes a single
    joined row.
    """
    keys = list(key_cols)
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_right"))
    # per-key products and their sum in DECIMAL(38,0): this diagnostic
    # exists precisely for keys whose product overflows — int64 would wrap
    # negative (non-ANSI) and sort the worst key LAST; double sums are
    # partition-order-dependent. Exact decimal arithmetic is neither; the
    # output casts to double once at the end (deterministic rounding).
    dec = "decimal(19,0)"
    pairs = lc.join(rc, keys).select(
        *keys,
        "n_left",
        "n_right",
        (F.col("n_left").cast(dec) * F.col("n_right").cast(dec)).alias("__pairs_dec"),
    )
    # total via agg + broadcast crossJoin, NOT an unpartitioned window over
    # `pairs`: the key count is unbounded (billions at 100 TB), and a
    # global window would ship every per-key row to ONE partition. The agg
    # references the same `pairs` subtree as the top-k branch; the
    # expensive parts — the two groupBy count shuffles — are deduplicated
    # by Spark's ReuseExchange rule (plan-asserted in
    # tests/test_plan_shapes.py), so only the cheap count-frame join and
    # partial sum replay.
    total = pairs.agg(F.sum("__pairs_dec").alias("__total_dec"))
    key_str = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    top = (
        pairs.select(*keys, "n_left", "n_right", "__pairs_dec", key_str.alias("__ks"))
        .orderBy(F.col("__pairs_dec").desc(), F.col("__ks").asc())
        .limit(top_k)
    )
    w = Window.orderBy(F.col("__pairs_dec").desc(), F.col("__ks").asc())
    return top.crossJoin(F.broadcast(total)).select(
        *keys,
        "n_left",
        "n_right",
        F.col("__pairs_dec").cast("double").alias("n_pairs"),
        F.col("__total_dec").cast("double").alias("total_pairs"),
        (
            F.col("__pairs_dec").cast("double") / F.col("__total_dec").cast("double")
        ).alias("pair_share"),
        F.row_number().over(w).alias("rank"),
    )


def parse_json_fields(
    df: DataFrame,
    json_col: str,
    fields: Sequence[tuple],
    keep_invalid: bool = True,
) -> DataFrame:
    """Semi-structured extraction: project typed columns out of a JSON
    string column. ``fields`` is a sequence of ``(out_name, ddl_type)``
    for TOP-LEVEL keys (the overwhelmingly common event-properties shape);
    each key parses to ``out_name`` of the given Spark DDL type, with
    malformed JSON / missing keys / type-mismatched values yielding NULL.
    Note ``from_json`` is strictly typed — a JSON STRING ``"12"`` under a
    ``bigint`` field is NULL, not coerced (unlike DuckDB's
    ``json_extract(...)::BIGINT``); declare the field ``string`` and cast
    downstream if the source mixes quoting styles.

    The whole record is parsed ONCE via ``from_json`` with an explicit
    schema — N ``get_json_object`` calls would re-parse the string N times
    per row (JsonPath evaluation per call); ``from_json`` is a single
    Jackson pass feeding all fields, stays inside whole-stage codegen, and
    needs no Python. Narrow projection: zero shuffles at any scale.

    ``keep_invalid=False`` additionally drops rows whose JSON failed to
    parse at all. Detection uses the parser's corrupt-record channel, not
    an all-fields-NULL heuristic (which would misclassify ``{}``):
    PERMISSIVE ``from_json`` fills ``columnNameOfCorruptRecord`` with the
    raw text exactly when parsing failed. NULL input stays NULL-extracted
    and is kept — absent is not malformed."""
    schema_ddl = (
        ", ".join(f"`{n}` {t}" for n, t in fields) + ", `__corrupt` string"
    )
    parsed = df.withColumn(
        "__j",
        F.from_json(
            F.col(json_col),
            schema_ddl,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "__corrupt"},
        ),
    )
    if not keep_invalid:
        parsed = parsed.filter(F.col("__j.__corrupt").isNull())
    return parsed.select(
        "*", *[F.col(f"__j.{n}").alias(n) for n, _ in fields]
    ).drop("__j")


def json_key_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Schema discovery over a semi-structured JSON column: one row per
    observed TOP-LEVEL key with its presence count, distinct-value count,
    and lexicographic min/max of the value text — the survey a pipeline
    owner runs BEFORE committing to a typed :func:`parse_json_fields`
    projection. Scalar JSON values profile as their literal text
    (``69`` → ``'69'``, ``true`` → ``'true'``); nested objects profile as
    their JSON text.

    Plan: ``from_json`` to ``map<string,string>`` (one parse per row) →
    ``explode`` → one partial-aggregated shuffle on the key. Key
    cardinality is the schema size, not the data size, so the result is
    driver-tiny at any scale; a pathologically hot key is exactly the
    partial-agg best case (map-side collapse to one row per partition)."""
    kv = df.select(
        F.explode(F.from_json(F.col(json_col), "map<string,string>")).alias(
            "key", "value"
        )
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("value").alias("n_values"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def rolling_anomaly(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    bucket_seconds: int = 3600,
    trailing: int = 24,
    min_history: int = 6,
) -> DataFrame:
    """Volume-anomaly detection per group: bucket events into fixed epoch
    windows, then score each bucket's count against its TRAILING window
    (the ``trailing`` buckets strictly before it) — the feed-monitoring
    primitive behind "did this source suddenly halve/spike?".

    Returns per (group, bucket): ``n_events``, the trailing window's
    ``n_history/hist_sum/hist_sumsq`` and a ``zscore`` (NULL until
    ``min_history`` buckets of history exist, and NULL when the history
    variance is zero — a constant feed has no scale for deviation).

    The trailing window is a TIME RANGE (``bucket − trailing ≤ b <
    bucket``), not a row frame: "the last 24 hours", with empty buckets
    simply absent from the history (they reduce ``n_history``, guarded by
    ``min_history``), never "the last 24 buckets we happened to observe"
    — a feed that was silent for a week must not be scored against
    week-old history as if it were adjacent.

    Cross-engine determinism: the window carries INTEGER sums only
    (count, Σx, Σx²) — exact in any accumulation order — and the z-score
    derives from them in a fixed scalar expression per row:
    ``(n·x − Σx) / sqrt(n·Σx² − (Σx)²)`` (the n-scaled z-score, algebra
    of ``(x−μ)/σ`` with population σ). Float accumulation across a
    window would hash differently per partition layout; integer
    accumulation cannot.

    Scale shape: one partial-agg shuffle to (group, bucket) — output
    cardinality is groups × time, tiny vs the event count — then a window
    per group ordered by bucket with a ``trailing``-row frame: bounded
    state, no skew exposure beyond the bucket agg's partial combine."""
    if bucket_seconds <= 0 or trailing <= 0:
        raise ValueError("bucket_seconds and trailing must be positive")
    gcols = list(group_cols)
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds)
    counts = (
        df.select(*gcols, bucket.alias("bucket"))
        .groupBy(*gcols, "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy(*gcols)
        .orderBy("bucket")
        .rangeBetween(-trailing, -1)
    )
    hist = counts.select(
        *gcols,
        "bucket",
        "n_events",
        F.count("n_events").over(w).alias("n_history"),
        F.sum("n_events").over(w).alias("hist_sum"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("hist_sumsq"),
    )
    n = F.col("n_history")
    s1 = F.col("hist_sum")
    s2 = F.col("hist_sumsq")
    var_num = n * s2 - s1 * s1  # n^2 * variance, exact integer
    z = F.when(
        (n >= F.lit(min_history)) & (var_num > 0),
        (n.cast("double") * F.col("n_events").cast("double") - s1.cast("double"))
        / F.sqrt(var_num.cast("double")),
    )
    return hist.select(
        *gcols, "bucket", "n_events", "n_history", "hist_sum", "hist_sumsq",
        z.alias("zscore"),
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: Optional[str] = None,
) -> DataFrame:
    """First-order behavioral transition counts: for each user's
    time-ordered event path, count every adjacent (from_type → to_type)
    step corpus-wide, with each from-state's total and the transition
    probability — the Markov matrix behind funnel design and
    next-action analysis.

    ``tiebreak`` (an extra ordering column, e.g. the event id) makes the
    per-user order total when timestamps collide — REQUIRED for
    cross-engine determinism whenever ts ties are possible; without a
    total order, which event "follows" which is engine-dependent.

    Scale shape: one shuffle partitioned by user for the ``lead`` window
    (per-user state only — the window frame is a single following row),
    then a partial-agg shuffle on the tiny (from, to) key space. The
    probability is the single allowed double division, from exact BIGINT
    counts; window state never exceeds one user's events."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy("u").orderBy(*order)
    steps = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("from_type"),
            *[F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else []),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_steps")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_steps",
        F.sum("n_steps").over(wf).alias("n_from"),
        (
            F.col("n_steps").cast("double")
            / F.sum("n_steps").over(wf).cast("double")
        ).alias("p_transition"),
    )


def key_containment(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
) -> DataFrame:
    """Value containment between two key columns — the foreign-key
    discovery primitive: of the child column's distinct non-NULL values,
    what fraction exists in the parent column? ``containment`` ≈ 1.0 means
    "child references parent" (an FK candidate); ``coverage`` is the
    reverse ratio (how much of the parent's key space the child actually
    uses). The reference's compare surface answers "do these two tables
    match"; this answers the upstream question "which columns JOIN these
    two tables at all" — the first thing a data-contract audit of an
    unfamiliar 100 TB lake runs.

    Returns ONE row:
    ``(child_distinct, parent_distinct, contained, containment, coverage)``.
    NULL keys are excluded on both sides (SQL FK semantics: NULL
    references nothing).

    Shape: each side collapses to its distinct key set first (partial-agg
    groupBy — a fact-table FK column with 10¹¹ rows but 10⁸ distinct keys
    shuffles only post-combine key counts), then one full outer join of
    the two DISTINCT sets (AQE broadcasts a small dimension side), then a
    single global count aggregate. No row data ever moves — only keys.
    """
    c = (
        child.select(F.col(child_col).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .distinct()
        .select("__k", F.lit(1).alias("__c"))
    )
    p = (
        parent.select(F.col(parent_col).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .distinct()
        .select("__k", F.lit(1).alias("__p"))
    )
    joined = c.join(p, "__k", "full_outer")
    return joined.agg(
        F.count("__c").alias("child_distinct"),
        F.count("__p").alias("parent_distinct"),
        F.count(F.when(F.col("__c").isNotNull() & F.col("__p").isNotNull(), 1)).alias(
            "contained"
        ),
    ).select(
        "child_distinct",
        "parent_distinct",
        "contained",
        F.when(
            F.col("child_distinct") > 0,
            F.col("contained").cast("double") / F.col("child_distinct").cast("double"),
        ).alias("containment"),
        F.when(
            F.col("parent_distinct") > 0,
            F.col("contained").cast("double") / F.col("parent_distinct").cast("double"),
        ).alias("coverage"),
    )


def _resolve_col(df: DataFrame, name: str) -> str:
    """Spark-style case-insensitive column resolution (the melt reads the
    schema directly, which is case-SENSITIVE — ``select`` would have
    resolved 'L_ORDERKEY' against 'l_orderkey' fine, so the melt must
    too)."""
    if name in df.columns:
        return name
    lowered = {c.lower(): c for c in df.columns}
    if name.lower() in lowered:
        return lowered[name.lower()]
    raise ValueError(f"column {name!r} not found in {df.columns}")


def _pair_key(col: F.Column, dtype, other_dtype) -> F.Column:
    """Injective string form for ONE candidate pair's melted keys. The
    string only needs to be consistent WITHIN the pair (the pair id is
    part of the group key), but both sides must land on the same form
    under the join-equality semantics the per-pair native join had:

    * same type → plain string cast (injective for every atomic type),
      binary through hex (UTF-8 decode can collapse byte strings);
    * numeric vs numeric of different types → both sides cast to the
      coerced common type FIRST (double if either side is fractional,
      else bigint), so a double child key 1.0 still matches a bigint
      parent key 1 exactly as the native join coerced it;
    * fractional zero normalizes -0.0 → 0.0 (the native join merges
      them; their strings differ);
    * binary vs non-binary → rejected: there is no sane key equality.
    """
    from pyspark.sql import types as _T

    fractional = (_T.FloatType, _T.DoubleType, _T.DecimalType)
    integral = (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
    numeric = fractional + integral
    if isinstance(dtype, _T.BinaryType) != isinstance(other_dtype, _T.BinaryType):
        raise ValueError(
            f"fk_discovery: binary key vs {other_dtype.simpleString()} key "
            "has no defined equality — cast one side explicitly"
        )
    if isinstance(dtype, _T.BinaryType):
        return F.hex(col)
    if dtype != other_dtype and isinstance(dtype, numeric) and isinstance(
        other_dtype, numeric
    ):
        common = (
            "double"
            if isinstance(dtype, fractional) or isinstance(other_dtype, fractional)
            else "bigint"
        )
        col = col.cast(common)
        dtype = _T.DoubleType() if common == "double" else _T.LongType()
    if isinstance(dtype, fractional):
        # -0.0 and 0.0 are join-equal but render differently; NaN needs no
        # care (both engines group NaN with NaN and render one 'NaN')
        zero = F.lit(0).cast(dtype.simpleString())
        col = F.when(col == 0, zero).otherwise(col)
    return col.cast("string")


def fk_discovery(
    pairs: Sequence[tuple],
) -> DataFrame:
    """Referential-integrity profile over a candidate list: one labeled
    :func:`key_containment` row per
    ``(child_name, child_df, child_col, parent_name, parent_df, parent_col)``
    candidate.

    SINGLE-PASS shape: all candidates' key columns melt into one
    ``(pair, key, side)`` stream (each source column is a pruned key-only
    scan), one partial-agg groupBy on ``(pair, key)`` collapses duplicates
    and marks side membership, and one tiny groupBy per pair folds the
    containment counts — TWO shuffles total for the whole audit instead of
    three per candidate (the per-pair full-outer-join formulation cost a
    10-pair lake audit 30 exchanges; this costs 2 plus one broadcast of
    the k-row label table). Map-side combine does the per-pair distinct
    work exactly where the separate distincts did, so shuffle volume is
    the union of the distinct key sets either way.

    Sort order is NOT imposed here — callers (and the oracle twin) order
    by the label columns."""
    pairs = list(pairs)
    if not pairs:
        raise ValueError("fk_discovery: empty candidate list")
    spark = pairs[0][1].sparkSession
    melted = None
    for i, (_, child, child_col, _, parent, parent_col) in enumerate(pairs):
        cc = _resolve_col(child, child_col)
        pc = _resolve_col(parent, parent_col)
        ct = child.schema[cc].dataType
        pt = parent.schema[pc].dataType
        c = (
            child.select(_pair_key(F.col(cc), ct, pt).alias("__k"))
            .filter(F.col("__k").isNotNull())
            .select(
                F.lit(i).alias("__pair"),
                "__k",
                F.lit(1).alias("__c"),
                F.lit(0).alias("__p"),
            )
        )
        p = (
            parent.select(_pair_key(F.col(pc), pt, ct).alias("__k"))
            .filter(F.col("__k").isNotNull())
            .select(
                F.lit(i).alias("__pair"),
                "__k",
                F.lit(0).alias("__c"),
                F.lit(1).alias("__p"),
            )
        )
        part = c.unionByName(p)
        melted = part if melted is None else melted.unionByName(part)
    per_key = melted.groupBy("__pair", "__k").agg(
        F.max("__c").alias("__in_c"), F.max("__p").alias("__in_p")
    )
    stats = per_key.groupBy("__pair").agg(
        F.sum("__in_c").cast("long").alias("child_distinct"),
        F.sum("__in_p").cast("long").alias("parent_distinct"),
        F.sum(F.col("__in_c") * F.col("__in_p")).cast("long").alias("contained"),
    )
    labels = spark.createDataFrame(
        [
            (i, cn, cc, pn, pc)
            for i, (cn, _, cc, pn, _, pc) in enumerate(pairs)
        ],
        "__pair int, child_table string, child_col string, "
        "parent_table string, parent_col string",
    )
    # LEFT join from the label table: a candidate whose key columns are
    # entirely NULL/empty contributes no melted rows but still owes its
    # (0, 0, 0, NULL, NULL) audit row. Both sides are ≤ len(pairs) rows.
    return (
        labels.join(stats, "__pair", "left")
        .select(
            "child_table",
            "child_col",
            "parent_table",
            "parent_col",
            F.coalesce("child_distinct", F.lit(0)).cast("long").alias("child_distinct"),
            F.coalesce("parent_distinct", F.lit(0)).cast("long").alias("parent_distinct"),
            F.coalesce("contained", F.lit(0)).cast("long").alias("contained"),
        )
        .select(
            "child_table",
            "child_col",
            "parent_table",
            "parent_col",
            "child_distinct",
            "parent_distinct",
            "contained",
            F.when(
                F.col("child_distinct") > 0,
                F.col("contained").cast("double")
                / F.col("child_distinct").cast("double"),
            ).alias("containment"),
            F.when(
                F.col("parent_distinct") > 0,
                F.col("contained").cast("double")
                / F.col("parent_distinct").cast("double"),
            ).alias("coverage"),
        )
    )


def ks_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between two snapshots
    of a numeric column — the classic distribution-drift test to sit next
    to :func:`histogram_drift`'s binned TV/PSI scores: KS needs no bin
    choice and catches shifts PSI's fixed bins smear out.

    Returns ONE row ``(n_old, n_new, ks_stat)`` — ``ks_stat`` is
    ``max |ECDF_old(v) - ECDF_new(v)|`` over every distinct value, NULL
    when either side is empty. NULLs are excluded (they have no position
    on the value axis).

    Scale shape: each side collapses to distinct-value counts first
    (partial-agg groupBy — the ECDF needs one row per DISTINCT value, not
    per row), the two count frames full-outer join on the value, and the
    cumulative sums come from the same DISTRIBUTED two-phase prefix sum
    as ``pack_sequences`` (range partition by value → per-partition
    subtotals → broadcast offsets → partition-local cumsum). A naive
    unpartitioned ``ORDER BY value`` window would sort every distinct
    value into ONE task — a billion-distinct double column at 100 TB
    makes that the job. The max itself is an ordinary partial-agg.
    Division is exact-int/exact-int once per distinct value, so the
    statistic is bit-identical under any partition layout."""
    from datacompy_spark.plans.partitioning import distributed_prefix_sum

    a = (
        old.select(F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        new.select(F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    pooled = (
        a.join(b, "v", "full_outer")
        .select(
            "v",
            F.coalesce(F.col("ca"), F.lit(0)).cast("long").alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).cast("long").alias("cb"),
        )
    )
    cum, ranged = distributed_prefix_sum(
        pooled, order_cols=["v"], sum_cols=["ca", "cb"]
    )
    cum = cum.select(F.col("ca_cum").alias("cum_a"), F.col("cb_cum").alias("cum_b"))
    # totals from the BARRIERED ranged frame (r14): aggregating the cumsum
    # output re-executed the offsets join + sort/window a second time, and
    # aggregating `pooled` would re-execute both distinct-count groupBys +
    # the full-outer join. Plain integer sums — identical from any frame.
    totals = ranged.agg(F.sum("ca").alias("n_old"), F.sum("cb").alias("n_new"))
    d = F.abs(
        F.try_divide(F.col("cum_a").cast("double"), F.col("n_old").cast("double"))
        - F.try_divide(F.col("cum_b").cast("double"), F.col("n_new").cast("double"))
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.first(F.col("n_old")).alias("n_old"),
            F.first(F.col("n_new")).alias("n_new"),
            F.max(d).alias("ks_stat"),
        )
        .select(
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            "ks_stat",
        )
    )


def ks_drift_sql(
    old_expr: str, new_expr: str, value_col: str
) -> str:
    """DuckDB twin of :func:`ks_drift` (single-node window cumsum over the
    same distinct-value counts; pooled values are unique per row, so ROWS
    vs RANGE framing cannot differ). Degenerate contract: an empty side
    divides by NULL (``nullif``) → NULL ks_stat like Spark's try_divide;
    a fully empty pooled set returns ZERO rows here vs Spark's one
    (0, 0, NULL) row — the Spark operator alone defines that edge, and
    the registered query never produces it."""
    return f"""
WITH a AS (SELECT {value_col} AS v, count(*) AS ca FROM {old_expr}
           WHERE {value_col} IS NOT NULL GROUP BY 1),
b AS (SELECT {value_col} AS v, count(*) AS cb FROM {new_expr}
      WHERE {value_col} IS NOT NULL GROUP BY 1),
pooled AS (
  SELECT coalesce(a.v, b.v) AS v,
         coalesce(ca, 0)::BIGINT AS ca, coalesce(cb, 0)::BIGINT AS cb
  FROM a FULL JOIN b ON a.v = b.v),
tot AS (SELECT sum(ca)::BIGINT AS n_old, sum(cb)::BIGINT AS n_new FROM pooled),
c AS (
  SELECT sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b FROM pooled
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT coalesce(t.n_old, 0)::BIGINT AS n_old,
       coalesce(t.n_new, 0)::BIGINT AS n_new,
  max(abs(c.cum_a::DOUBLE / nullif(t.n_old, 0)::DOUBLE
          - c.cum_b::DOUBLE / nullif(t.n_new, 0)::DOUBLE)) AS ks_stat
FROM c, tot t
GROUP BY t.n_old, t.n_new"""


def _key_base(col: str) -> str:
    """Canonical key-name base: TPC-H-style single/double-letter table
    prefixes strip (``o_custkey`` and ``c_custkey`` → ``custkey``); longer
    prefixes are part of the name (``event_id`` stays whole — 'id' alone
    would false-match every table)."""
    head, sep, tail = col.partition("_")
    if sep and len(head) <= 2:
        return tail
    return col


def fk_candidates(tables) -> list:
    """Schema-driven FK candidate enumeration over a ``{name: DataFrame}``
    mapping — the zero-knowledge first pass of a lake audit. A column is a
    candidate PRIMARY key when it is its table's FIRST column and its base
    name ends in ``key``/``id``; any same-typed column in ANOTHER table
    sharing the base name is a candidate child. Driver-side metadata only
    (no data touched); feed the result to :func:`fk_discovery` for the
    measured containment verdicts. Deterministically ordered."""
    pks = {}
    for tname in sorted(tables):
        f = tables[tname].schema.fields[0]
        base = _key_base(f.name)
        if base.endswith(("key", "id")):
            pks.setdefault(base, []).append((tname, f.name, f.dataType))
    out = []
    for tname in sorted(tables):
        for f in tables[tname].schema.fields:
            for pt, pc, ptype in pks.get(_key_base(f.name), []):
                if pt != tname and f.dataType == ptype:
                    out.append((tname, f.name, pt, pc))
    return sorted(out)


def fk_discovery_auto(tables) -> DataFrame:
    """:func:`fk_candidates` piped into :func:`fk_discovery`: one labeled
    containment/coverage row per schema-inferred candidate."""
    cands = fk_candidates(tables)
    if not cands:
        raise ValueError("fk_discovery_auto: no schema-inferred candidates")
    return fk_discovery(
        [(ct, tables[ct], cc, pt, tables[pt], pc) for ct, cc, pt, pc in cands]
    )


def key_containment_sql(
    child_table: str, child_col: str, parent_table: str, parent_col: str
) -> str:
    """DuckDB twin of one labeled :func:`key_containment` row (same
    NULL-excluding distinct sets, same full-outer count fold)."""
    return f"""
SELECT '{child_table}' AS child_table, '{child_col}' AS child_col,
  '{parent_table}' AS parent_table, '{parent_col}' AS parent_col,
  count(c.k)::BIGINT AS child_distinct,
  count(p.k)::BIGINT AS parent_distinct,
  count(CASE WHEN c.k IS NOT NULL AND p.k IS NOT NULL THEN 1 END)::BIGINT
    AS contained,
  CASE WHEN count(c.k) > 0
       THEN count(CASE WHEN c.k IS NOT NULL AND p.k IS NOT NULL THEN 1 END)::DOUBLE
            / count(c.k)::DOUBLE END AS containment,
  CASE WHEN count(p.k) > 0
       THEN count(CASE WHEN c.k IS NOT NULL AND p.k IS NOT NULL THEN 1 END)::DOUBLE
            / count(p.k)::DOUBLE END AS coverage
FROM (SELECT DISTINCT {child_col} AS k FROM {child_table}
      WHERE {child_col} IS NOT NULL) c
FULL JOIN (SELECT DISTINCT {parent_col} AS k FROM {parent_table}
           WHERE {parent_col} IS NOT NULL) p ON c.k = p.k"""


def rolling_drift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
    bucket: str = "day",
) -> DataFrame:
    """Period-over-period distribution drift of a numeric column: PSI and
    total-variation between each time bucket and the IMMEDIATELY PRECEDING
    calendar bucket — the batch twin of a streaming drift monitor, and the
    time-series view :func:`histogram_drift` gives for exactly two
    snapshots.

    Returns one row per period that has data AND whose previous calendar
    period also has data: ``(period, n_prev, n_cur, tv_distance, psi)``.
    A calendar gap breaks the chain (the period after a silent day is not
    compared against the stale last-seen day — silence is
    :func:`missing_periods`'s job); an empty side inside a compared pair
    cannot occur by construction.

    Binning is identical to :func:`histogram_drift`: caller-fixed edges
    (stable across runs, no preliminary quantile pass), underflow/overflow
    bins -1/``bins``, NULLs in their own bin merged null-safely.

    Scale shape: ONE narrow scan → partial-agg count shuffle keyed by
    (period, bin) — cardinality ``periods × (bins+3)``, tiny forever —
    then every join/window below runs on that pre-aggregated frame. The
    period-adjacency self-join and the per-period total windows never
    touch row data.
    """
    if bins <= 0 or not hi > lo:
        raise ValueError("rolling_drift needs bins > 0 and hi > lo")
    if bucket not in ("hour", "day"):
        raise ValueError("rolling_drift bucket must be 'hour' or 'day'")
    pb = (
        df.select(
            F.date_trunc(bucket, F.col(ts_col)).alias("period"),
            fixed_bin(value_col, lo, hi, bins).alias("bin"),
        )
        .filter(F.col("period").isNotNull())
        .groupBy("period", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return rolling_drift_from_counts(pb, bucket=bucket)


def fixed_bin(value_col: str, lo: float, hi: float, bins: int) -> "F.Column":
    """The fixed-edge bin id Column shared by :func:`rolling_drift` and the
    streaming histogram sink: underflow -1, overflow ``bins``, NULLs in a
    NULL bin — identical binning on every surface or the drift math lies."""
    width = (hi - lo) / bins
    return (
        F.when(F.col(value_col).isNull(), F.lit(None).cast("int"))
        .when(F.col(value_col) < lo, F.lit(-1))
        .when(F.col(value_col) >= hi, F.lit(bins))
        .otherwise(
            F.least(
                F.lit(bins - 1),
                F.floor((F.col(value_col) - lo) / width).cast("int"),
            )
        )
    )


def rolling_drift_from_counts(pb: DataFrame, bucket: str = "day") -> DataFrame:
    """:func:`rolling_drift`'s core over a PRE-AGGREGATED ``(period, bin,
    n)`` frame — the entry point the streaming histogram sink shares, so
    the always-on path scores drift with literally the same plan as the
    batch operator (see ``streaming/drift.py::rolling_drift_view``)."""
    if bucket not in ("hour", "day"):
        raise ValueError("rolling_drift bucket must be 'hour' or 'day'")
    # persisted: pb feeds the cur side, the shifted prev side, AND the
    # adjacency probe — unpersisted, Spark re-executes the full scan +
    # partial agg per reuse (plan audit showed 4 scans of the raw
    # table); cached, the 100 TB scan happens once and every reuse
    # reads the periods×(bins+3)-row aggregate. Tracked: the returned
    # plan is lazy, so datacompy_spark.release_caches() is the drop path
    # for long-lived sessions calling this repeatedly.
    from datacompy_spark.plans.cache import tracked_persist

    pb = tracked_persist(pb)
    step = F.expr(f"INTERVAL 1 {bucket.upper()}")
    cur = pb.alias("c")
    prv = pb.select(
        (F.col("period") + step).alias("period"), "bin", F.col("n").alias("n_prev")
    ).alias("p")
    # full outer on the bin axis so mass in a bin only one side populated
    # still contributes |p|/2 and a PSI term; the trailing semi-join then
    # keeps only periods where BOTH calendar sides actually had data
    # (cur-only rows at a gap boundary and the phantom last-period+1 row
    # from the shifted side drop out)
    m = cur.join(
        prv,
        (F.col("c.period") == F.col("p.period"))
        & F.col("c.bin").eqNullSafe(F.col("p.bin")),
        "full_outer",
    ).select(
        F.coalesce(F.col("c.period"), F.col("p.period")).alias("period"),
        F.coalesce(F.col("c.bin"), F.col("p.bin")).alias("bin"),
        F.coalesce(F.col("c.n"), F.lit(0)).alias("n_cur"),
        F.coalesce(F.col("p.n_prev"), F.lit(0)).alias("n_prev"),
    )
    present = pb.select("period").distinct()
    adjacent = present.join(
        present.select((F.col("period") + step).alias("period")), "period", "semi"
    )
    m = m.join(F.broadcast(adjacent), "period", "semi")
    w = Window.partitionBy("period")
    m = m.select(
        "*",
        F.sum("n_cur").over(w).alias("t_cur"),
        F.sum("n_prev").over(w).alias("t_prev"),
    )
    # both totals are > 0 on every surviving row (a period only survives
    # the semi-joins with data on both sides), so plain division is safe
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur").cast("double")
    p_prev = F.col("n_prev").cast("double") / F.col("t_prev").cast("double")
    eps = 1e-12
    p_cur_s = F.greatest(p_cur, F.lit(eps))
    p_prev_s = F.greatest(p_prev, F.lit(eps))
    return (
        m.groupBy("period")
        .agg(
            F.max("t_prev").cast("long").alias("n_prev"),
            F.max("t_cur").cast("long").alias("n_cur"),
            F.sum(F.abs(p_cur - p_prev) / 2).alias("tv_distance"),
            F.sum((p_cur_s - p_prev_s) * F.log(p_cur_s / p_prev_s)).alias("psi"),
        )
    )


def rolling_drift_sql(
    table: str, ts_col: str, value_col: str, lo: float, hi: float,
    bins: int = 10, bucket: str = "day",
) -> str:
    """DuckDB twin of :func:`rolling_drift` — same fixed-edge binning,
    same bin-axis full outer join, same both-sides-present period filter,
    same smoothed-log PSI arithmetic on doubles."""
    width = (hi - lo) / bins
    return f"""
WITH pb AS (
  SELECT date_trunc('{bucket}', {ts_col})::TIMESTAMP AS period,
    CASE WHEN {value_col} IS NULL THEN NULL
         WHEN {value_col} < {lo}::DOUBLE THEN -1
         WHEN {value_col} >= {hi}::DOUBLE THEN {bins}
         ELSE least({bins} - 1,
                    floor(({value_col} - {lo}::DOUBLE) / {width}::DOUBLE)::INT)
    END AS bin,
    count(*) AS n
  FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT coalesce(c.period, p.period) AS period,
    coalesce(c.n, 0) AS n_cur, coalesce(p.n, 0) AS n_prev
  FROM pb c FULL JOIN
    (SELECT period + INTERVAL 1 {bucket} AS period, bin, n FROM pb) p
    ON c.period = p.period AND c.bin IS NOT DISTINCT FROM p.bin),
adjacent AS (
  SELECT DISTINCT a.period FROM pb a
  JOIN pb b ON a.period = b.period + INTERVAL 1 {bucket}),
t AS (
  SELECT m.period, n_cur, n_prev,
    sum(n_cur) OVER (PARTITION BY m.period) AS t_cur,
    sum(n_prev) OVER (PARTITION BY m.period) AS t_prev
  FROM m JOIN adjacent USING (period))
SELECT period,
  max(t_prev)::BIGINT AS n_prev, max(t_cur)::BIGINT AS n_cur,
  sum(abs(n_cur::DOUBLE / t_cur::DOUBLE - n_prev::DOUBLE / t_prev::DOUBLE) / 2)
    AS tv_distance,
  sum((greatest(n_cur::DOUBLE / t_cur::DOUBLE, 1e-12)
       - greatest(n_prev::DOUBLE / t_prev::DOUBLE, 1e-12))
      * ln(greatest(n_cur::DOUBLE / t_cur::DOUBLE, 1e-12)
           / greatest(n_prev::DOUBLE / t_prev::DOUBLE, 1e-12))) AS psi
FROM t GROUP BY period"""


def attribution_rollup(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    value_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    tiebreak_col: str,
) -> DataFrame:
    """First-touch / last-touch conversion attribution: every
    ``conversion_type`` event is credited to the user's earliest
    (first-touch) and most recent (last-touch) preceding touch event,
    then rolled up per (model, touch_type) — which acquisition channel
    "owns" conversions under each model, the canonical funnel-credit
    question over an event log.

    Implemented as the union-merge single-window pattern (same shape as
    the as-of join): touches and conversions merge into one per-user
    stream ordered by ``(ts, kind, tiebreak)`` — touches sort BEFORE a
    conversion at the identical timestamp — and one running window
    carries ``first/last non-null touch type`` to each conversion row.
    ``tiebreak_col`` is required (ValueError otherwise): it totalizes the
    order of equal-timestamp events so credit is run- and
    partitioning-independent.
    ONE user-key shuffle for the window, one map-side-combining rollup;
    no self-join, no per-conversion range scan. Conversions with no
    preceding touch fall out of the rollup (untouched conversions are a
    coverage question, not a credit one).

    Values fold with the exact-integer idiom: ``value`` is quantized to
    micro-units (``round(v·1e6)`` as BIGINT) BEFORE summation so the sum
    is associative and layout/order-independent, then rescaled — the
    float-sum determinism rule used across this codebase.

    Output ``(model ∈ {first_touch, last_touch}, touch_type,
    conversions, total_value)``.
    """
    kinds = list(touch_types)
    if conversion_type in kinds:
        raise ValueError("conversion_type must not appear in touch_types")
    if not tiebreak_col:
        # r10 advice: the old fallback (monotonically_increasing_id) was
        # partitioning/run-dependent — equal-(ts, kind) events could swap
        # order across runs and flip first/last-touch credit, breaking
        # this operator family's determinism contract. The parameter is
        # now required in the signature (omission is a TypeError at the
        # call site); this guards explicit None/"" too.
        raise ValueError(
            "tiebreak_col is required: without a total order on "
            "equal-timestamp events, first/last-touch credit is "
            "nondeterministic (pass the event id column)"
        )
    tb = F.col(tiebreak_col)
    touches = df.filter(F.col(type_col).isin(kinds)).select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.lit(0).alias("kind"),
        tb.alias("tb"),
        F.col(type_col).alias("ttype"),
        F.lit(None).cast("double").alias("v"),
    )
    convs = df.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.lit(1).alias("kind"),
        tb.alias("tb"),
        F.lit(None).cast("string").alias("ttype"),
        F.col(value_col).cast("double").alias("v"),
    )
    w = (
        Window.partitionBy("u")
        .orderBy("t", "kind", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = touches.unionByName(convs).select(
        "kind",
        "v",
        F.first("ttype", ignorenulls=True).over(w).alias("first_touch"),
        F.last("ttype", ignorenulls=True).over(w).alias("last_touch"),
    )
    credited = merged.filter(
        (F.col("kind") == 1) & F.col("first_touch").isNotNull()
    )
    models = credited.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_touch").alias("touch_type"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_touch").alias("touch_type"),
                ),
            )
        ).alias("m"),
        "v",
    )
    vq = F.round(F.col("v") * F.lit(1_000_000.0)).cast("long")
    return models.groupBy(
        F.col("m.model").alias("model"),
        F.col("m.touch_type").alias("touch_type"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        (F.sum(vq).cast("double") / F.lit(1_000_000.0)).alias("total_value"),
    )
