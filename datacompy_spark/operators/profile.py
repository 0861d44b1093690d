"""Single-pass table profiling: per-column counts, null counts, distinct
counts, min/max — the "what am I even looking at" primitive that precedes
any comparison or pipeline run.

The whole profile is ONE aggregate action regardless of column count (the
same design as the compare engine's single statistics pass); the per-column
layout is melted to long format in-plan with an explode, never in the
driver.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_profile(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    approx_distinct: bool = True,
) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, min_value, max_value) — one
    row per profiled column, from one aggregate action.

    The default distinct counter is HyperLogLog ``approx_count_distinct`` —
    at 100 TB that is the only sane choice: exact multi-column
    ``count_distinct`` plans an Expand (input replicated once per
    distinct-agg column), while the sketch keeps the single narrow pass.
    Pass ``approx_distinct=False`` when exact cardinalities are the point
    (small tables, oracle verification) and the Expand cost is acceptable.
    min/max run on the native type (string-casting first would order
    "10" < "9") and cast to string only for the heterogeneous output."""
    cols = list(columns or df.columns)
    distinct = F.approx_count_distinct if approx_distinct else F.count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn__{c}"),
            distinct(F.col(c)).alias(f"__nd__{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn__{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx__{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__nn__{c}")).alias("n_nulls"),
            F.col(f"__nd__{c}").alias("n_distinct"),
            F.col(f"__mn__{c}").alias("min_value"),
            F.col(f"__mx__{c}").alias("max_value"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def _row_digest(columns: Sequence[str]) -> F.Column:
    """Injective per-row digest over ``columns``
    (functions/hashing.py::injective_key folded to a 60-bit integer).
    Both engines render every atomic type's string form identically under
    a UTC session (verified per-column over the whole testdata corpus —
    doubles/dates/timestamps included)."""
    from datacompy_spark.functions.hashing import injective_key, md5_long

    return md5_long(injective_key([F.col(c) for c in columns]))


def table_checksum(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Order-independent content digest: ONE row ``(n_rows, checksum)``
    where ``checksum`` is the exact DECIMAL(38,0) sum of every row's
    60-bit digest (see :func:`_row_digest`). Addition is commutative and
    associative, so the digest is invariant under partition layout, row
    order, file split — anything but the data itself. Equal checksums +
    equal counts mean "snapshots identical" (up to 2⁻⁶⁰-scale collision);
    that is the 100 TB replication/migration smoke test: one narrow scan
    and one partial-agg per side, no join, no shuffle of row data —
    against a full :class:`SparkCompare`'s outer join, this is the cheap
    first gate that usually answers the question.

    Duplicate-row multiplicity counts (a SUM sees the row twice); NULLs
    are their own token per cell. DuckDB twin:
    :func:`table_checksum_sql`."""
    cols = list(columns or df.columns)
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(_row_digest(cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("checksum"),
    )


def table_checksum_sql(table_expr: str, columns: Sequence[str]) -> str:
    """DuckDB twin of :func:`table_checksum` (same tokens, same 60-bit
    fold, same exact integer sum)."""
    from datacompy_spark.functions.hashing import injective_key_sql, md5_long_sql

    digest = md5_long_sql(f"({injective_key_sql(list(columns))})")
    return (
        f"SELECT count(*)::BIGINT AS n_rows, "
        f"coalesce(sum({digest}), 0)::DECIMAL(38,0) AS checksum "
        f"FROM {table_expr}"
    )


def table_checksum_by(
    df: DataFrame,
    group_cols: Sequence[str],
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Grouped content digest: one ``(group cols…, n_rows, checksum)`` row
    per group — :func:`table_checksum` sharded along a grouping axis
    (ingestion date, source, hash bucket…).

    The 100 TB localization step: when the whole-table digest mismatches,
    binary-searching WHICH slice corrupted via grouped digests costs the
    same one narrow scan per side, and the follow-up row-level
    :class:`~datacompy_spark.operators.compare.SparkCompare` then runs on
    the few bad slices instead of the full snapshot. Partial aggregation
    (map-side combine on the 60-bit digests) means the shuffle carries one
    partial sum per (task, group), never row data; a skewed group costs
    nothing because addition is commutative — there is no per-group buffer
    to blow up, unlike ``collect_list``/``percentile`` rollups.

    ``columns`` defaults to every column of ``df`` (group columns
    included — they are constant within a group, so they shift each
    group's digest deterministically)."""
    gcols = list(group_cols)
    if not gcols:
        raise ValueError("table_checksum_by needs at least one group column")
    cols = list(columns or df.columns)
    return df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(_row_digest(cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("checksum"),
    )


def table_checksum_by_sql(
    table_expr: str, group_cols: Sequence[str], columns: Sequence[str]
) -> str:
    """DuckDB twin of :func:`table_checksum_by`."""
    from datacompy_spark.functions.hashing import injective_key_sql, md5_long_sql

    digest = md5_long_sql(f"({injective_key_sql(list(columns))})")
    groups = ", ".join(group_cols)
    return (
        f"SELECT {groups}, count(*)::BIGINT AS n_rows, "
        f"coalesce(sum({digest}), 0)::DECIMAL(38,0) AS checksum "
        f"FROM {table_expr} GROUP BY {groups}"
    )


def checksum_diff_by(
    left: DataFrame,
    right: DataFrame,
    group_cols: Sequence[str],
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Group-localized snapshot diff: ``(group cols…, n_rows_left,
    n_rows_right, rows_match, content_match)`` — one verdict row per
    group value present on EITHER side (a slice missing entirely from one
    snapshot surfaces as ``n_rows == 0`` + ``rows_match == false``, never
    silently drops).

    This is :func:`dataset_diff`'s drill-down: the whole-table gate says
    "lineitem corrupted", this says "only the 2026-03 and 2026-07 ship
    months". Cost: one grouped digest per side (scan-bound, map-side
    combined) + one join on the GROUP DOMAIN — thousands of rows at most,
    broadcast-sized, regardless of snapshot size. ``columns`` defaults to
    the LEFT frame's column list (both sides digest in left order, same
    discipline as :func:`dataset_diff`)."""
    gcols = list(group_cols)
    cols = list(columns or left.columns)
    missing = [c for c in cols if c not in right.columns]
    if missing:
        raise ValueError(f"checksum_diff_by: right side is missing {missing}")
    lc = table_checksum_by(left, gcols, cols).select(
        *gcols,
        F.col("n_rows").alias("__n_l"),
        F.col("checksum").alias("__ck_l"),
    )
    rc = table_checksum_by(right, gcols, cols).select(
        *gcols,
        F.col("n_rows").alias("__n_r"),
        F.col("checksum").alias("__ck_r"),
    )
    cond = _reduce_and([lc[g].eqNullSafe(rc[g]) for g in gcols])
    joined = lc.join(rc, on=cond, how="full_outer")
    n_l = F.coalesce(F.col("__n_l"), F.lit(0)).alias("n_rows_left")
    n_r = F.coalesce(F.col("__n_r"), F.lit(0)).alias("n_rows_right")
    rows_match = F.col("__n_l").eqNullSafe(F.col("__n_r"))
    return joined.select(
        *[F.coalesce(lc[g], rc[g]).alias(g) for g in gcols],
        n_l,
        n_r,
        rows_match.alias("rows_match"),
        (rows_match & F.col("__ck_l").eqNullSafe(F.col("__ck_r"))).alias(
            "content_match"
        ),
    )


def _reduce_and(exprs):
    from functools import reduce

    return reduce(lambda a, b: a & b, exprs)


def dataset_diff(
    spark,
    left_dir: str,
    right_dir: str,
    tables: Sequence[str],
    columns: Optional[dict] = None,
) -> DataFrame:
    """Whole-snapshot diff: one verdict row per table name —
    ``(table, n_rows_left, n_rows_right, rows_match, content_match)`` —
    from per-side :func:`table_checksum` digests. The "did the nightly
    replication / engine migration / compaction corrupt anything"
    CI gate: cost is one narrow scan per table per side, so diffing a
    100 TB snapshot pair is scan-bound with zero joins or shuffles of row
    data. ``columns`` optionally restricts the digest per table (e.g. to
    skip a known-volatile ingestion-timestamp column).

    Both sides digest in the LEFT side's column order (a rewrite that
    reordered columns without touching values must not trip the gate);
    a right side missing one of those columns fails loudly at plan time
    rather than producing a meaningless checksum."""
    from datacompy_spark.sources.loaders import load_table

    out = None
    for t in tables:
        left_df = load_table(spark, left_dir, t)
        cols = (columns or {}).get(t) or left_df.columns
        right_df = load_table(spark, right_dir, t)
        missing = [c for c in cols if c not in right_df.columns]
        if missing:
            raise ValueError(
                f"dataset_diff: table {t!r} is missing {missing} on the right side"
            )
        lc = table_checksum(left_df, cols).select(
            F.lit(t).alias("table"),
            F.col("n_rows").alias("n_rows_left"),
            F.col("checksum").alias("__ck_l"),
        )
        rc = table_checksum(right_df.select(*cols), cols).select(
            F.lit(t).alias("table"),
            F.col("n_rows").alias("n_rows_right"),
            F.col("checksum").alias("__ck_r"),
        )
        row = lc.join(rc, "table")
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("dataset_diff: empty table list")
    return out.select(
        "table",
        "n_rows_left",
        "n_rows_right",
        (F.col("n_rows_left") == F.col("n_rows_right")).alias("rows_match"),
        (
            (F.col("n_rows_left") == F.col("n_rows_right"))
            & (F.col("__ck_l") == F.col("__ck_r"))
        ).alias("content_match"),
    )


#: Spark ``simpleString`` dtype names folded to a timezone-agnostic
#: vocabulary (``timestamp_ntz`` and ``timestamp`` describe the same
#: physical parquet column depending on session conf)
_NEUTRAL_DTYPES = {"timestamp_ntz": "timestamp"}


def schema_compare(left: DataFrame, right: DataFrame) -> DataFrame:
    """Typed schema diff: (col_name, dtype_1, dtype_2, status, type_changed)
    — one row per column present on either side, ``status`` in
    {common, df1_only, df2_only}.

    The structural pre-question before any row-level compare ("did a column
    vanish / appear / change type between snapshots?"). Pure driver-side
    metadata — the result is a LocalRelation built from the two schemas;
    ZERO executor work, no scans, safe to run against tables of any size."""
    def neutral(dt) -> str:
        s = dt.simpleString()
        return _NEUTRAL_DTYPES.get(s, s)

    s1 = {f.name: neutral(f.dataType) for f in left.schema}
    s2 = {f.name: neutral(f.dataType) for f in right.schema}
    names = list(s1) + [n for n in s2 if n not in s1]
    rows = []
    for n in names:
        d1, d2 = s1.get(n), s2.get(n)
        status = "common" if d1 and d2 else ("df1_only" if d1 else "df2_only")
        rows.append((n, d1, d2, status, bool(d1 and d2 and d1 != d2)))
    return left.sparkSession.createDataFrame(
        rows,
        "col_name string, dtype_1 string, dtype_2 string, "
        "status string, type_changed boolean",
    )


def column_quantiles(
    df: DataFrame,
    columns: Sequence[str],
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    approx: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """(col_name, prob, quantile) — one row per column x probability, from
    ONE aggregate action (same melt pattern as :func:`table_profile`).

    The default is ``percentile_approx`` — a single-pass mergeable sketch
    (``accuracy`` trades memory for error bound). ``approx=False`` switches
    to exact linear-interpolated ``percentile``, which buffers each
    column's values per partition and is for modest data / oracle
    verification only; its interpolation is bit-identical to DuckDB's
    ``quantile_cont`` (verified empirically on lineitem doubles). For
    EXACT quantiles at unbounded scale use
    :func:`exact_quantiles_distributed` — same values, no buffering."""
    plist = [float(p) for p in probs]
    cols = list(columns)
    fn = (
        (lambda c: F.percentile_approx(c, plist, accuracy))
        if approx
        else (lambda c: F.percentile(c, F.lit(plist)))
    )
    row = df.agg(*[fn(F.col(c)).alias(f"__q__{c}") for c in cols])
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.lit(p).alias("prob"),
            F.element_at(F.col(f"__q__{c}"), i + 1).cast("double").alias("quantile"),
        )
        for c in cols
        for i, p in enumerate(plist)
    ]
    return row.select(F.explode(F.array(*structs)).alias("q")).select("q.*")


def profile_compare(
    left: DataFrame,
    right: DataFrame,
    columns: Optional[Sequence[str]] = None,
    rel_tol: float = 0.1,
    approx_distinct: bool = True,
) -> DataFrame:
    """Statistical drift between two tables without row-level comparison:
    join the two single-action profiles on column name and flag columns
    whose null rate or distinct count moved beyond ``rel_tol``
    (relatively), or whose min/max changed at all. The cheap first question
    before a full compare — two aggregate actions total, output is
    O(columns)."""
    cols = list(columns or [c for c in left.columns if c in right.columns])
    p1 = table_profile(left, cols, approx_distinct).select(
        "col_name",
        F.col("n_rows").alias("n_rows_1"),
        F.col("n_nulls").alias("n_nulls_1"),
        F.col("n_distinct").alias("n_distinct_1"),
        F.col("min_value").alias("min_1"),
        F.col("max_value").alias("max_1"),
    )
    p2 = table_profile(right, cols, approx_distinct).select(
        "col_name",
        F.col("n_rows").alias("n_rows_2"),
        F.col("n_nulls").alias("n_nulls_2"),
        F.col("n_distinct").alias("n_distinct_2"),
        F.col("min_value").alias("min_2"),
        F.col("max_value").alias("max_2"),
    )
    j = p1.join(p2, "col_name")
    null_rate_1 = F.col("n_nulls_1").cast("double") / F.col("n_rows_1")
    null_rate_2 = F.col("n_nulls_2").cast("double") / F.col("n_rows_2")
    distinct_rel = F.abs(
        F.col("n_distinct_2").cast("double") - F.col("n_distinct_1")
    ) / F.greatest(F.col("n_distinct_1").cast("double"), F.lit(1.0))
    return j.select(
        "col_name",
        "n_rows_1",
        "n_rows_2",
        "n_nulls_1",
        "n_nulls_2",
        "n_distinct_1",
        "n_distinct_2",
        (F.abs(null_rate_2 - null_rate_1) > F.lit(rel_tol)).alias(
            "null_rate_drifted"
        ),
        (distinct_rel > F.lit(rel_tol)).alias("distinct_drifted"),
        (
            ~F.col("min_1").eqNullSafe(F.col("min_2"))
            | ~F.col("max_1").eqNullSafe(F.col("max_2"))
        ).alias("range_changed"),
    )


def file_layout_profile(
    spark,
    tables,
    small_file_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Physical-layout diagnostic: per logical table, how many files back
    it and how big they are — the first question before a 100 TB read,
    because scan parallelism and task sizing follow the FILE layout, not
    the row count (ten thousand 1 MB files cost more scheduler and footer
    overhead than a hundred 100 MB ones; one 50 GB file caps parallelism
    at its row-group count). ``tables`` maps table name → path or glob.

    Returns per table: ``n_files, total_bytes, max_file_bytes,
    n_small_files`` (files under ``small_file_bytes``, default 128 MB —
    the classic compaction threshold; a high small-file count says run
    compaction / raise ``maxRecordsPerFile`` at the writer).

    Cost: a ``binaryFile``-source scan with the content column PRUNED —
    Spark serves (path, length) from the file listing without opening a
    single file, so this is a metadata-only operation even over a
    petabyte of objects. No shuffle beyond the ≤|tables|-row aggregate."""
    from functools import reduce as _reduce

    frames = [
        spark.read.format("binaryFile")
        .load(path)
        .select(F.lit(name).alias("table_name"), F.col("length"))
        for name, path in sorted(dict(tables).items())
    ]
    allf = _reduce(lambda a, b: a.unionAll(b), frames)
    return allf.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.max("length").alias("max_file_bytes"),
        F.sum(
            (F.col("length") < F.lit(int(small_file_bytes))).cast("long")
        ).alias("n_small_files"),
    )


def compact_files(
    spark,
    input_path: str,
    output_path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    fmt: str = "parquet",
    input_format: str | None = None,
    sort_by: list | None = None,
) -> dict:
    """Small-file compaction — the fix :func:`file_layout_profile`
    diagnoses: rewrite a fragmented dataset into ~``target_file_bytes``
    files. File count is sized from the INPUT's on-disk bytes (metadata
    listing, no data read), so columnar compression carries over ~1:1 for
    parquet→parquet; one round-robin repartition spreads rows evenly
    (``coalesce`` would skip the shuffle but inherits input skew — a
    compaction that writes one giant and many tiny files has not
    compacted). With ``sort_by`` the repartition is range-based on those
    columns and each file is sorted within — the layout that gives
    min/max-pruning teeth to downstream scans.

    Returns a summary dict (files/bytes before, files planned/written).
    Non-destructive: writes to ``output_path``, never touches the input.

    At 100 TB: the listing stays metadata-only, the rewrite is one wide
    pass, and target sizing bounds every output task's write volume; run
    per-partition-directory for partitioned tables to keep the shuffle
    scoped."""
    import math

    listing = (
        spark.read.format("binaryFile")
        .load(input_path)
        .select("length")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("total_bytes"),
        )
        .first()
    )
    n_before, total_bytes = listing["n_files"], listing["total_bytes"] or 0
    n_target = max(1, math.ceil(total_bytes / max(int(target_file_bytes), 1)))
    df = (
        spark.read.format(input_format or fmt).load(input_path)
        if (input_format or fmt) != "csv"
        else spark.read.format("csv").option("header", True).load(input_path)
    )
    if sort_by:
        shaped = df.repartitionByRange(n_target, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        shaped = df.repartition(n_target)
    shaped.write.mode("overwrite").format(fmt).save(output_path)
    written = (
        spark.read.format("binaryFile")
        .load(output_path + "/*." + ("parquet" if fmt == "parquet" else "*"))
        .select("length")
        .count()
    )
    return {
        "files_before": int(n_before),
        "bytes_before": int(total_bytes),
        "target_file_bytes": int(target_file_bytes),
        "files_planned": int(n_target),
        "files_written": int(written),
        "output": output_path,
    }


def file_layout_profile_sql(tables, small_file_bytes: int = 128 * 1024 * 1024) -> str:
    """DuckDB twin of :func:`file_layout_profile` (``read_blob``'s size
    column is the same filesystem byte count as binaryFile's length)."""
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS table_name, size FROM read_blob('{path}')"
        for name, path in sorted(dict(tables).items())
    )
    return f"""
WITH files AS ({selects})
SELECT table_name, count(*) AS n_files, sum(size)::BIGINT AS total_bytes,
       max(size)::BIGINT AS max_file_bytes,
       sum((size < {int(small_file_bytes)})::INT)::BIGINT AS n_small_files
FROM files GROUP BY table_name"""


def embedding_health(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    quantum: int = 10_000,
    norm_lo: float = 0.5,
    norm_hi: float = 2.0,
) -> DataFrame:
    """Per-row embedding QA — the ingest gate before any ANN/dedup/cluster
    step trusts a vector column: flags missing vectors, wrong
    dimensionality, NaN components, all-zero vectors, and L2-norm
    outliers. One narrow projection, no shuffle, no Python.

    Verdict precedence (first match wins): ``missing`` (NULL column),
    ``bad_dim`` (length != dim), ``has_nan``, ``zero`` (all components
    quantize to 0), ``norm_outlier`` (quantized squared norm outside
    [lo², hi²] on the 1/quantum integer grid — exact BIGINT compare, no
    float threshold drift cross-engine), else ``ok``. NaNs are excluded
    from the norm (scored 0) so ``has_nan`` rows still report the norm of
    their finite part."""
    v = F.col(vec_col)
    q = F.transform(
        v,
        lambda x: F.when(F.isnan(x.cast("double")), F.lit(0).cast("long"))
        .otherwise(
            F.floor(x.cast("double") * quantum + F.lit(0.5)).cast("long")
        ),
    )
    norm_sq = F.aggregate(
        q, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    n_nan = F.size(F.filter(v, lambda x: F.isnan(x.cast("double"))))
    lo_sq = int(norm_lo * quantum) ** 2
    hi_sq = int(norm_hi * quantum) ** 2
    out = df.select(
        F.col(id_col).alias("vec_id"),
        F.coalesce(F.size(v), F.lit(-1)).alias("n_dims"),
        F.coalesce(n_nan, F.lit(0)).alias("n_nan"),
        F.coalesce(norm_sq, F.lit(0)).alias("norm_sq_q"),
    )
    verdict = (
        F.when(F.col("n_dims") == -1, F.lit("missing"))
        .when(F.col("n_dims") != dim, F.lit("bad_dim"))
        .when(F.col("n_nan") > 0, F.lit("has_nan"))
        .when(F.col("norm_sq_q") == 0, F.lit("zero"))
        .when(
            (F.col("norm_sq_q") < lo_sq) | (F.col("norm_sq_q") > hi_sq),
            F.lit("norm_outlier"),
        )
        .otherwise(F.lit("ok"))
    )
    return out.select("*", verdict.alias("verdict"))


def embedding_health_sql(
    table: str,
    id_col: str,
    vec_col: str,
    dim: int,
    quantum: int = 10_000,
    norm_lo: float = 0.5,
    norm_hi: float = 2.0,
) -> str:
    """DuckDB twin of :func:`embedding_health`."""
    lo_sq = int(norm_lo * quantum) ** 2
    hi_sq = int(norm_hi * quantum) ** 2
    q = (
        f"list_transform({vec_col}, x -> CASE WHEN isnan(x::DOUBLE) THEN 0 "
        f"ELSE floor(x::DOUBLE * {quantum} + 0.5)::BIGINT END)"
    )
    return f"""
WITH raw AS (
  SELECT {id_col} AS vec_id,
         coalesce(len({vec_col}), -1) AS n_dims,
         coalesce(len(list_filter({vec_col}, x -> isnan(x::DOUBLE))), 0) AS n_nan,
         coalesce(list_sum(list_transform({q}, y -> y * y))::BIGINT, 0) AS norm_sq_q
  FROM {table})
SELECT *,
  CASE WHEN n_dims = -1 THEN 'missing'
       WHEN n_dims <> {dim} THEN 'bad_dim'
       WHEN n_nan > 0 THEN 'has_nan'
       WHEN norm_sq_q = 0 THEN 'zero'
       WHEN norm_sq_q < {lo_sq} OR norm_sq_q > {hi_sq} THEN 'norm_outlier'
       ELSE 'ok' END AS verdict
FROM raw"""


def parquet_rowgroup_profile(spark, path: str) -> DataFrame:
    """Row-group-level parquet metadata, DISTRIBUTED: each executor opens
    only footers (pyarrow), never data pages — the depth gauge behind
    :func:`file_layout_profile`'s file-size view. Row groups are the true
    unit of scan parallelism and predicate skipping, so this answers the
    questions file sizes can't: are row groups so small that footer
    overhead dominates, so large that one group caps a task, or written
    without sortedness (min/max useless for pruning)?

    Plan shape: a content-PRUNED binaryFile listing fans the file paths
    across the cluster (mapInPandas batches), each task reads only its
    files' footers. Output per (file, row group): ``num_rows,
    total_byte_size, compressed_bytes`` — cross-checked byte-for-byte
    against DuckDB's ``parquet_metadata()`` in the test suite. Local and
    ``file:``-scheme paths supported; object stores go through the same
    pyarrow filesystem layer."""
    from pyspark.sql.types import (
        LongType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("file_path", StringType()),
            StructField("row_group", IntegerType()),
            StructField("num_rows", LongType()),
            StructField("total_byte_size", LongType()),
            StructField("compressed_bytes", LongType()),
        ]
    )

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = {k: [] for k in (
                "file_path", "row_group", "num_rows", "total_byte_size",
                "compressed_bytes",
            )}
            from urllib.parse import urlparse

            for p in pdf["path"]:
                # Spark lists local files as file:/... (single slash) —
                # urlparse handles every file:-scheme spelling
                parsed = urlparse(p)
                local = parsed.path if parsed.scheme == "file" else p
                meta = pq.ParquetFile(local).metadata
                for i in range(meta.num_row_groups):
                    rg = meta.row_group(i)
                    out["file_path"].append(p)
                    out["row_group"].append(i)
                    out["num_rows"].append(rg.num_rows)
                    out["total_byte_size"].append(rg.total_byte_size)
                    out["compressed_bytes"].append(
                        sum(
                            rg.column(c).total_compressed_size
                            for c in range(rg.num_columns)
                        )
                    )
            import pandas as pd

            yield pd.DataFrame(out)

    files = (
        spark.read.format("binaryFile")
        .load(path)
        .filter(F.col("path").endswith(".parquet"))
        .select("path")
    )
    from datacompy_spark.plans.partitioning import fan_out

    return fan_out(files).mapInPandas(read_footers, schema)


def exact_quantiles_distributed(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """EXACT linear-interpolated quantiles of a numeric column with NO
    per-partition value buffering — the 100 TB-safe exact path that
    :func:`column_quantiles` ``approx=False`` (Spark's ``percentile``
    aggregate, which holds every distinct value of a partition in its
    aggregation buffer) cannot offer. Same distributed-ECDF machinery as
    ``ks_drift``: distinct-value counts → range-partitioned two-phase
    prefix sum → per-probability rank probes.

    Returns ``(prob, quantile)`` rows, both double; bit-identical to
    DuckDB's ``quantile_cont`` and Spark's exact ``percentile``: the
    straddling ranks are ``floor/ceil(p·(n−1))`` and the interpolation is
    the symmetric weighted form ``(hi−pos)·v_lo + (pos−lo)·v_hi`` — NOT
    ``v_lo + (v_hi−v_lo)·frac``, which differs in the last ulp on ~30% of
    adversarial doubles (measured against DuckDB). NULLs are excluded; an
    empty / all-NULL column yields ZERO rows (no rank exists).

    Scale shape: one scan → distinct-value partial-agg shuffle → the
    prefix sum's range exchange → ONE more pass of the cumulative frame
    against a broadcast ≤ ``2·len(probs)``-row rank-probe table (range
    condition ⇒ broadcast nested loop — the whitelisted tiny-side case).
    No task ever materializes the value set.
    """
    plist = [float(p) for p in probs]
    if not plist or any(p < 0.0 or p > 1.0 for p in plist):
        raise ValueError("probs must be non-empty, each within [0, 1]")
    from datacompy_spark.plans.partitioning import distributed_prefix_sum

    spark = df.sparkSession
    counts = (
        df.select(F.col(value_col).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum, ranged = distributed_prefix_sum(counts, order_cols=["v"], sum_cols=["c"])
    # total from the BARRIERED ranged frame (r14): an agg over `cum` would
    # re-run the offsets join + per-partition sort/window machinery just to
    # sum a column the barrier already holds; an agg over `counts` would
    # re-run the distinct-count shuffle. Order-independent integer sum —
    # identical value from any of the three frames.
    totals = ranged.agg(F.sum("c").cast("long").alias("n"))
    pf = spark.createDataFrame([(p,) for p in plist], "prob double")
    pos = F.col("prob") * (F.col("n") - 1).cast("double")
    probes = (
        pf.crossJoin(F.broadcast(totals))
        .filter(F.col("n") > 0)
        .select(
            "prob",
            pos.alias("pos"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("which"),
                        (F.floor(pos) + 1).alias("rank"),
                    ),
                    F.struct(
                        F.lit("hi").alias("which"),
                        (F.ceil(pos) + 1).alias("rank"),
                    ),
                )
            ).alias("b"),
        )
        .select("prob", "pos", F.col("b.which").alias("which"), F.col("b.rank").alias("rank"))
    )
    # rank r lives on the unique cumulative row with c_cum-c < r <= c_cum
    hits = cum.join(
        F.broadcast(probes),
        (F.col("rank") <= F.col("c_cum")) & (F.col("rank") > F.col("c_cum") - F.col("c")),
    )
    v_lo = F.max(F.when(F.col("which") == "lo", F.col("v")))
    v_hi = F.max(F.when(F.col("which") == "hi", F.col("v")))
    return (
        hits.groupBy("prob", "pos")
        .agg(v_lo.alias("v_lo"), v_hi.alias("v_hi"))
        .select(
            "prob",
            F.when(F.ceil("pos") == F.floor("pos"), F.col("v_lo"))
            .otherwise(
                (F.ceil("pos") - F.col("pos")) * F.col("v_lo")
                + (F.col("pos") - F.floor("pos")) * F.col("v_hi")
            )
            .alias("quantile"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Clamp a numeric column to its exact ``[p_lo, p_hi]`` quantiles —
    the outlier-capping cleanup step before scaling/featurizing — using
    :func:`exact_quantiles_distributed` (no value buffering at any scale).
    Appends ``out_col`` (default ``{value_col}_w``); NULLs stay NULL (a
    plain least/greatest chain would silently clamp NULL to the lower
    bound in BOTH engines, since each skips NULL args).
    """
    if not 0.0 <= p_lo < p_hi <= 1.0:
        raise ValueError("winsorize needs 0 <= p_lo < p_hi <= 1")
    out_col = out_col or f"{value_col}_w"
    q = exact_quantiles_distributed(df, value_col, [p_lo, p_hi])
    bounds = q.agg(
        F.max(F.when(F.col("prob") == p_lo, F.col("quantile"))).alias("__q_lo"),
        F.max(F.when(F.col("prob") == p_hi, F.col("quantile"))).alias("__q_hi"),
    )
    clamped = F.when(
        F.col(value_col).isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.least(
            F.greatest(F.col(value_col).cast("double"), F.col("__q_lo")),
            F.col("__q_hi"),
        )
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out_col, clamped)
        .drop("__q_lo", "__q_hi")
    )


def group_quantiles_distributed(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """Per-group :func:`exact_quantiles_distributed`: exact interpolated
    quantiles of ``value_col`` within every ``group_cols`` combination —
    the per-source length caps / per-tenant SLO percentiles case — still
    with NO value buffering anywhere. Returns ``(*group_cols, prob,
    quantile)``; groups whose values are all NULL yield no rows.

    Scale shape: the prefix sum range-partitions by (group, value), so a
    hot group spreads over many tasks instead of one (the exact hazard of
    ``percentile(...) GROUP BY`` — one aggregation buffer holding a hot
    group's whole value multiset). The rank probe is an equi-join ON THE
    GROUP KEY (null-safe; range condition evaluated inside it), so probe
    volume scales as groups × 2·len(probs) rows through an ordinary
    shuffle/broadcast hash join — never a nested loop over the ECDF.
    """
    plist = [float(p) for p in probs]
    if not plist or any(p < 0.0 or p > 1.0 for p in plist):
        raise ValueError("probs must be non-empty, each within [0, 1]")
    groups = list(group_cols)
    if not groups:
        raise ValueError("group_cols must name at least one column")
    from datacompy_spark.plans.partitioning import distributed_prefix_sum

    spark = df.sparkSession
    counts = (
        df.select(*groups, F.col(value_col).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy(*groups, "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum, ranged = distributed_prefix_sum(
        counts,
        order_cols=["v"],
        sum_cols=["c"],
        group_cols=groups,
    )
    # per-group totals from the barriered ranged frame (r14; see
    # exact_quantiles_distributed — same reasoning, grouped)
    totals = ranged.groupBy(*groups).agg(F.sum("c").cast("long").alias("n"))
    pf = spark.createDataFrame([(p,) for p in plist], "prob double")
    pos = F.col("prob") * (F.col("n") - 1).cast("double")
    probes = (
        totals.join(F.broadcast(pf))
        .filter(F.col("n") > 0)
        .select(
            *[F.col(g).alias(f"__g_{g}") for g in groups],
            "prob",
            pos.alias("pos"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("lo").alias("which"),
                        (F.floor(pos) + 1).alias("rank"),
                    ),
                    F.struct(
                        F.lit("hi").alias("which"),
                        (F.ceil(pos) + 1).alias("rank"),
                    ),
                )
            ).alias("b"),
        )
        .select(
            *[f"__g_{g}" for g in groups],
            "prob", "pos",
            F.col("b.which").alias("which"),
            F.col("b.rank").alias("rank"),
        )
    )
    # group equi-keys lead the condition (null-safe: a NULL group is a real
    # group) so Catalyst plans a hash join on them; the rank containment
    # rides along as a join-side filter
    cond = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (F.col("rank") <= F.col("c_cum"))
        & (F.col("rank") > F.col("c_cum") - F.col("c"))
    )
    hits = cum.join(probes, cond)
    v_lo = F.max(F.when(F.col("which") == "lo", F.col("v")))
    v_hi = F.max(F.when(F.col("which") == "hi", F.col("v")))
    return (
        hits.groupBy(*groups, "prob", "pos")
        .agg(v_lo.alias("v_lo"), v_hi.alias("v_hi"))
        .select(
            *groups,
            "prob",
            F.when(F.ceil("pos") == F.floor("pos"), F.col("v_lo"))
            .otherwise(
                (F.ceil("pos") - F.col("pos")) * F.col("v_lo")
                + (F.col("pos") - F.floor("pos")) * F.col("v_hi")
            )
            .alias("quantile"),
        )
    )


def winsorize_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: Optional[str] = None,
) -> DataFrame:
    """:func:`winsorize` with per-group bounds from
    :func:`group_quantiles_distributed` — the per-source outlier caps a
    heterogeneous corpus needs (one global cap either truncates the
    long-tail source or leaves the short-tail one uncapped). Bounds join
    back null-safely on the group key (a NULL group is a real group);
    rows of groups with no non-NULL values keep NULL bounds and pass
    through unclamped. NULL values stay NULL."""
    if not 0.0 <= p_lo < p_hi <= 1.0:
        raise ValueError("winsorize_by_group needs 0 <= p_lo < p_hi <= 1")
    groups = list(group_cols)
    out_col = out_col or f"{value_col}_w"
    q = group_quantiles_distributed(df, groups, value_col, [p_lo, p_hi])
    bounds = q.groupBy(*groups).agg(
        F.max(F.when(F.col("prob") == p_lo, F.col("quantile"))).alias("__q_lo"),
        F.max(F.when(F.col("prob") == p_hi, F.col("quantile"))).alias("__q_hi"),
    )
    bounds = bounds.select(
        *[F.col(g).alias(f"__bg_{g}") for g in groups], "__q_lo", "__q_hi"
    )
    cond = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"__bg_{g}"))
        cond = c if cond is None else (cond & c)
    clamped = (
        F.when(F.col(value_col).isNull(), F.lit(None).cast("double"))
        .when(F.col("__q_lo").isNull(), F.col(value_col).cast("double"))
        .otherwise(
            F.least(
                F.greatest(F.col(value_col).cast("double"), F.col("__q_lo")),
                F.col("__q_hi"),
            )
        )
    )
    # bounds has ONE row per group — broadcast hash join on the group key;
    # left join so groups absent from bounds (all-NULL values) survive
    return (
        df.join(F.broadcast(bounds), cond, "left")
        .withColumn(out_col, clamped)
        .drop("__q_lo", "__q_hi", *[f"__bg_{g}" for g in groups])
    )


def mad_outlier_summary(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust-outlier summary via median absolute deviation:
    ``(group…, n, median, mad, n_outliers)`` where a value is an outlier
    iff ``|v − median| > k · 1.4826 · MAD`` (1.4826 rescales MAD to σ
    under normality, so ``k`` reads as "k sigmas" — the robust cousin of
    a z-score gate that a single corrupt feed value cannot drag, unlike
    mean/stddev which the outlier itself inflates).

    Both the median and the MAD come from
    :func:`group_quantiles_distributed` — exact interpolated quantiles
    over range-partitioned ECDF prefix sums, so a hot group spreads over
    many tasks and NO per-group value multiset is ever buffered (the
    ``percentile()`` hazard). The two quantile passes join back as
    |groups|-row broadcasts; the final fold is one map-side-combining
    groupBy. Rows with NULL values are excluded; groups whose values are
    all NULL yield no row. The threshold constant ``k · 1.4826`` is
    folded in Python so both engines compare against the identical
    double literal (see the oracle twin in ``queries_pipeline``).

    The narrow ``(group, value)`` and ``(group, |v − median|)`` frames sit
    behind lineage barriers: each feeds MULTIPLE internal passes of the
    grouped-ECDF machinery (counts, prefix-sum offsets, totals, rank
    probes) plus the final rollup, and without the barriers every pass
    re-scans the source — measured 18 source scans / 27 exchanges at
    plan-audit time, vs 2 scans of each barriered 2-3-column frame.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    groups = list(group_cols)
    if not groups:
        raise ValueError("group_cols must name at least one column")
    from datacompy_spark.plans.barrier import lineage_barrier

    vals = lineage_barrier(
        df.select(
            *groups, F.col(value_col).cast("double").alias("__v")
        ).filter(F.col("__v").isNotNull()),
        eager=False,
    )
    med = group_quantiles_distributed(vals, groups, "__v", [0.5]).select(
        *[F.col(g).alias(f"__mg_{g}") for g in groups],
        F.col("quantile").alias("__med"),
    )
    cond_m = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"__mg_{g}"))
        cond_m = c if cond_m is None else (cond_m & c)
    dev = lineage_barrier(
        vals.join(F.broadcast(med), cond_m).select(
            *groups,
            "__med",
            F.abs(F.col("__v") - F.col("__med")).alias("__d"),
        ),
        eager=False,
    )
    mad = group_quantiles_distributed(dev, groups, "__d", [0.5]).select(
        *[F.col(g).alias(f"__ag_{g}") for g in groups],
        F.col("quantile").alias("__mad"),
    )
    cond_a = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"__ag_{g}"))
        cond_a = c if cond_a is None else (cond_a & c)
    thresh = float(k) * 1.4826
    return (
        dev.join(F.broadcast(mad), cond_a)
        .groupBy(*groups)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("__med").alias("median"),
            F.min("__mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("__d") > F.lit(thresh) * F.col("__mad"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


def quantile_drift(
    df_old: DataFrame,
    df_new: DataFrame,
    value_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """Percentile drift between two snapshots: each probe probability's
    exact quantile in both snapshots side by side with the delta — the
    monitoring cut when histogram drift's fixed bins are too coarse (a
    tail shift moves p99 long before it moves a 10-bin mass profile).

    Both snapshots flow through ONE grouped distributed-ECDF pass
    (:func:`group_quantiles_distributed` over a side-tagged union — the
    side IS the group), so the prefix-sum/rank-probe machinery runs once
    instead of once per side: measured 18 planned exchanges / 12 scans
    for the two-pass form vs roughly half for the grouped form, with
    bit-identical per-side quantiles (a group's exact interpolated
    quantile does not depend on the other group's rows). The pivot back
    to columns is a len(probs)-row fold. ``delta = q_new − q_old`` is a
    single double subtraction of two interpolated quantiles (both
    bit-identical cross-engine), so the output is hash-stable. A
    snapshot with no non-NULL values yields no group rows → NULL on its
    side after the pivot; both sides empty → zero rows.

    Output ``(prob, q_old, q_new, delta)``.
    """
    tagged = df_old.select(
        F.lit("old").alias("__side"), F.col(value_col).alias("__v")
    ).unionByName(
        df_new.select(F.lit("new").alias("__side"), F.col(value_col).alias("__v"))
    )
    q = group_quantiles_distributed(tagged, ["__side"], "__v", probs)
    return (
        q.groupBy("prob")
        .agg(
            F.max(
                F.when(F.col("__side") == "old", F.col("quantile"))
            ).alias("q_old"),
            F.max(
                F.when(F.col("__side") == "new", F.col("quantile"))
            ).alias("q_new"),
        )
        .select(
            "prob",
            "q_old",
            "q_new",
            (F.col("q_new") - F.col("q_old")).alias("delta"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: Optional[str] = None,
    l: int = 2,
) -> DataFrame:
    """Privacy audit before a data release: every quasi-identifier group
    that violates k-anonymity (fewer than ``k`` rows share the quasi
    tuple → re-identifiable) and, when ``sensitive_col`` is given,
    l-diversity (fewer than ``l`` distinct sensitive values in the group
    → attribute disclosure even when k holds). Returns ONLY the violating
    groups — at 100 TB the violation set is the small tail by
    construction, so the output is bounded while the input is not.

    The sensitive-distinct count deliberately avoids ``count_distinct``:
    a grouped exact-distinct keeps a per-group hash set in the
    aggregation buffer (the same hot-group hazard as ``percentile``).
    Instead it folds ``groupBy(quasi…, sensitive).count`` first — pure
    map-side-combining counts — then counts rows per quasi group: two
    shuffles of group-domain-sized data, zero per-group buffers, exact.

    NULL quasi values form real groups (they re-identify just as well);
    NULL sensitive values count as one distinct value. Output
    ``(quasi…, n_rows, n_distinct_sensitive, k_violation, l_violation)``
    ordered nowhere (sort downstream); without ``sensitive_col`` the
    distinct count is NULL and only k violations emit.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    quasi = list(quasi_cols)
    if not quasi:
        raise ValueError("quasi_cols must name at least one column")
    if sensitive_col is not None:
        if l < 1:
            raise ValueError("l must be >= 1")
        fine = df.groupBy(*quasi, F.col(sensitive_col).alias("__s")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        groups = fine.groupBy(*quasi).agg(
            F.sum("__c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_sensitive"),
        )
        k_viol = F.col("n_rows") < k
        l_viol = F.col("n_distinct_sensitive") < l
    else:
        groups = df.groupBy(*quasi).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.lit(None).cast("long").alias("n_distinct_sensitive"),
        )
        k_viol = F.col("n_rows") < k
        l_viol = F.lit(False)
    return (
        groups.withColumn("k_violation", k_viol)
        .withColumn("l_violation", l_viol)
        .filter(F.col("k_violation") | F.col("l_violation"))
    )
