"""Structured Streaming operators: windowed profiling, drift detection,
streaming dedup, session windows.

The reference library has NO streaming surface (SURVEY §2.9) — this module is
the greenfield extension: the comparison semantics of the batch engine
re-expressed over unbounded data. Every builder returns a transformation that
works identically on a batch DataFrame or a streaming DataFrame (the standard
Spark unification), so the batch twin doubles as the correctness oracle for
the streaming path.

Scale design: all aggregations are watermark-bounded (state is dropped once
the watermark passes), keyed by (window, ...) so state distributes over the
cluster; nothing holds unbounded state.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """Ensure ``ts_col`` is watermark-eligible.

    ``withWatermark`` requires TIMESTAMP; Spark 4.x parquet inference can
    hand streams a TIMESTAMP_NTZ event-time column. The engine's contract is
    cast-don't-reject: NTZ is normalized to TIMESTAMP (session tz — UTC in
    this engine — so values are unchanged) before the watermark attaches."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-window numeric profile: count, mean, min, max, null count.

    On a stream: watermarked tumbling-window aggregation (late rows beyond
    ``watermark`` are dropped, state is bounded). On a batch frame: the exact
    same result with the watermark as a no-op."""
    if df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    keys = [F.window(F.col(ts_col), window).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.avg(value_col).alias("mean_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def profile_drift(
    current: DataFrame,
    baseline: DataFrame,
    on: Sequence[str],
    rel_tol: float = 0.2,
) -> DataFrame:
    """Join a live profile against a baseline profile and flag windows whose
    mean shifted beyond ``rel_tol`` (relative) or whose null-rate changed.

    This is the streaming analogue of the batch engine's tolerant column
    comparison: same `|a-b| <= rel_tol*|b|` shape as the NumericComparator."""
    cur = current.select(
        *on,
        F.col("n_rows").alias("cur_rows"),
        F.col("mean_value").alias("cur_mean"),
        F.col("n_nulls").alias("cur_nulls"),
    )
    base = baseline.select(
        *on,
        F.col("n_rows").alias("base_rows"),
        F.col("mean_value").alias("base_mean"),
        F.col("n_nulls").alias("base_nulls"),
    )
    joined = cur.join(F.broadcast(base), list(on), "left_outer")
    mean_drift = F.when(
        F.col("base_mean").isNull(), F.lit(True)
    ).otherwise(
        F.abs(F.col("cur_mean") - F.col("base_mean"))
        > F.lit(rel_tol) * F.abs(F.col("base_mean"))
    )
    null_rate_cur = F.col("cur_nulls").cast("double") / F.col("cur_rows")
    null_rate_base = F.col("base_nulls").cast("double") / F.col("base_rows")
    null_drift = F.when(F.col("base_rows").isNull(), F.lit(True)).otherwise(
        F.abs(null_rate_cur - null_rate_base) > F.lit(rel_tol)
    )
    return joined.select(
        *on,
        "cur_rows",
        "cur_mean",
        "base_mean",
        mean_drift.alias("mean_drifted"),
        null_drift.alias("null_rate_drifted"),
    )


def stream_compare(
    stream: DataFrame,
    reference: DataFrame,
    join_columns: Sequence[str],
    ts_col: str,
    compare_columns: Optional[Sequence[str]] = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
) -> DataFrame:
    """Continuous comparison: validate a stream against a static reference
    table, emitting per-window match statistics — the batch engine's core
    semantic (null-safe key join + tolerant per-column equality) extended
    to unbounded data.

    Each incoming row joins the (broadcast) reference on the key; every
    compared column contributes a tolerant-equality boolean from the same
    comparator chain the batch engine uses, then a watermarked tumbling
    window aggregates rows, per-column match counts, and rows missing from
    the reference. Works identically on a batch frame (the correctness
    twin). Stream-static joins require no state; the windowed agg is
    watermark-bounded."""
    from datacompy_spark.functions.comparators import columns_equal

    keys = list(join_columns)
    cmp_cols = [
        c
        for c in (compare_columns or stream.columns)
        if c in reference.columns and c not in keys and c != ts_col
    ]
    ref = F.broadcast(
        reference.select(
            *keys,
            *[F.col(c).alias(f"{c}__ref") for c in cmp_cols],
            F.lit(True).alias("__in_ref"),
        )
    )
    joined = stream.join(ref, keys, "left_outer")
    flags = {}
    for c in cmp_cols:
        flags[f"{c}__match"] = F.when(F.col("__in_ref").isNull(), None).otherwise(
            columns_equal(
                joined, c, f"{c}__ref", rel_tol=rel_tol, abs_tol=abs_tol
            )
        )
    joined = joined.withColumns(flags)
    if joined.isStreaming:
        joined = _watermarkable(joined, ts_col).withWatermark(ts_col, watermark)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("__in_ref").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_in_ref"),
    ]
    for c in cmp_cols:
        aggs.append(
            F.sum(F.when(F.col(f"{c}__match"), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}_match_cnt")
        )
    return joined.groupBy(F.window(F.col(ts_col), window).alias("win")).agg(*aggs)


def streaming_dedup(
    df: DataFrame,
    id_cols: Sequence[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once key dedup over a stream: keeps the first arrival of each
    key; state for keys older than the watermark is dropped (bounded memory —
    the streaming counterpart of batch ``exact_dedup``)."""
    if df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(list(id_cols))
    return df.dropDuplicates(list(id_cols))


def streaming_incremental_dedup(
    stream: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Content-level incremental dedup of a document STREAM against a
    static standing corpus — the always-on counterpart of batch
    ``operators.dedup.incremental_dedup`` (exact mode): a streamed
    document survives only if its normalized content hash is (a) new
    within the stream's watermark window and (b) absent from the corpus.

    Plan: narrow hash projection → ``dropDuplicatesWithinWatermark`` on
    the content hash (bounded state: hashes older than the watermark are
    dropped) → stream-static LEFT ANTI join against the corpus's distinct
    hash projection. Stream-static joins are stateless on the stream side
    — each micro-batch probes the static side, which Spark plans as a
    broadcast when the corpus hash table is small or a shuffled join
    otherwise; at 100 TB the corpus projection is one distinct-hash table
    maintained incrementally (append each batch's survivors), not a
    rescan. Batch inputs degrade gracefully to the batch-equivalent plan.

    Output: the surviving stream rows (original columns), append-mode
    compatible (no aggregation after the watermarked dedup)."""
    from datacompy_spark.operators.dedup import _content_hash

    # sentinel hash for NULL text (shared with the batch operator): a NULL
    # anti-join key never matches, which would let every NULL-text row
    # through regardless of corpus state
    hashed = stream.select("*", _content_hash(F.col(text_col)).alias("__chash"))
    if stream.isStreaming:
        hashed = _watermarkable(hashed, ts_col).withWatermark(ts_col, watermark)
        hashed = hashed.dropDuplicatesWithinWatermark(["__chash"])
    else:
        hashed = hashed.dropDuplicates(["__chash"])
    corpus_hashes = corpus.select(
        _content_hash(F.col(text_col)).alias("__chash")
    ).distinct()
    return hashed.join(corpus_hashes, "__chash", "left_anti").drop("__chash")


def streaming_cluster_assign(
    stream: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    quantum: int = 10_000,
) -> DataFrame:
    """Score an unbounded embedding STREAM against a batch-trained k-means
    model (operators/similarity.py::kmeans_fit) — the serving half of
    cluster-routed ingest: tag each arriving document's embedding with its
    cluster before routing/dedup/balancing decisions downstream.

    Entirely STATELESS: the quantize step is a narrow projection and the
    argmin folds the static k-row centroid table into one broadcast row
    (``_km_assign``), so there is no stateful aggregation, no watermark
    requirement, and append output mode works unchanged. A batch input
    degrades to exactly the batch assignment (pinned by the equivalence
    test). Same integer-grid arithmetic as training: the stream scores
    with bit-identical distances to a batch rescore."""
    from datacompy_spark.operators.similarity import _km_assign, _km_quantize

    vq = _km_quantize(stream, id_col, vec_col, quantum)
    return _km_assign(vq, centroids).select(
        F.col("vid").alias(id_col),
        F.col("cid").alias("cluster_id"),
        F.col("dist").alias("dist_q"),
    )


def streaming_ivf_ingest(
    stream: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Always-on ANN index maintenance: each micro-batch of embeddings is
    assigned against the index's frozen pivot table and lands under its
    own ``ingest`` sub-partition (operators/similarity.py::
    append_to_ivf_index) — the streaming counterpart of ``ann --append``.

    Idempotence: foreachBatch is at-least-once, so the ingest id is
    ``STREAM_INGEST_BASE + batch_id`` (a deterministic function of the
    checkpointed batch id) and the write is a dynamic partition
    overwrite — a replayed batch rewrites its own (cell, ingest) leaves
    instead of double-appending (build occupies ingest=0). Stream ingests
    live ABOVE the base offset and manual ``ann --append`` ingests
    auto-increment below it, so mixing the two paths on one index never
    overwrites the other path's leaves. The standing index is never
    rewritten; probes see new vectors as soon as the batch commits."""
    from datacompy_spark.operators.similarity import (
        STREAM_INGEST_BASE,
        append_to_ivf_index,
    )

    spark = stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        append_to_ivf_index(
            spark, index_path, batch_df, id_col, vec_col,
            ingest_id=STREAM_INGEST_BASE + batch_id,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session-window aggregation (gap-based): events per user-session.

    Streaming: ``session_window`` keeps per-user open-session state until the
    watermark closes it. Batch: identical semantics, no state."""
    if df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"),
        F.col(user_col),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("first_event"),
        F.max(ts_col).alias("last_event"),
    )


def _write_batch_idempotent(df: DataFrame, path: str) -> None:
    """Idempotent foreachBatch parquet write: partition by ``batch_id`` and
    overwrite ONLY the partitions present in this frame (dynamic partition
    overwrite). foreachBatch is at-least-once — a crash after the write but
    before the checkpoint commit replays the batch — so a replayed batch
    must rewrite its own ``batch_id=N`` directory, not append a duplicate.
    The per-writer ``partitionOverwriteMode`` option scopes the dynamic
    mode to this write without mutating session conf.

    Layout contract: the sink is a hive-partitioned directory
    (``batch_id=N/part-*.parquet``). Point new streams at a FRESH
    directory — a directory holding flat ``part-*.parquet`` files from a
    pre-partitioned layout cannot be mixed with this one (Spark refuses
    to read conflicting directory depths)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def validate_to_sink(
    stream: DataFrame,
    reference: DataFrame,
    join_columns: Sequence[str],
    mismatch_path: str,
    checkpoint_path: str,
    compare_columns: Optional[Sequence[str]] = None,
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
    trigger_available_now: bool = True,
):
    """Continuous validation SINK: every micro-batch runs through the batch
    engine's ``SparkCompare`` against the static reference, and rows that
    mismatch (or are missing from the reference) append to
    ``mismatch_path`` as parquet with a ``batch_id`` provenance column.

    ``foreachBatch`` is the right tool here, not a stream-native join: the
    comparison needs the full comparator chain and the mismatch projection,
    which are batch constructs — and each micro-batch IS a batch frame, so
    the exact batch semantics (tolerances, null-safety, suffixed output)
    apply verbatim with zero reimplementation. Idempotence: foreachBatch is
    only at-least-once (a crash between the parquet write and the
    checkpoint commit replays the batch), so the sink partitions by
    ``batch_id`` and writes with dynamic partition OVERWRITE — a replayed
    batch rewrites exactly its own partition instead of double-appending.

    Scale notes: the reference should be broadcast-sized or bucketed; each
    micro-batch pays one pass over the batch's join, which persists the
    batch's diff; it is released after the batch's write.
    Returns the started ``StreamingQuery`` — callers own termination."""
    from datacompy_spark.operators.compare import SparkCompare
    from datacompy_spark.plans.cache import scope

    keys = list(join_columns)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        ref_cols = [
            c for c in (compare_columns or batch_df.columns) if c in reference.columns
        ]
        cmp_ = SparkCompare(
            spark,
            batch_df.select(*keys, *[c for c in ref_cols if c not in keys]),
            reference.select(*keys, *[c for c in ref_cols if c not in keys]),
            join_columns=keys,
            rel_tol=rel_tol,
            abs_tol=abs_tol,
        )
        with scope():  # releases the batch's persisted diff
            bad = cmp_.all_mismatch().withColumn("__kind", F.lit("mismatch"))
            missing = cmp_.df1_unq_rows.select(*keys).withColumn(
                "__kind", F.lit("missing_in_ref")
            )
            out = bad.unionByName(missing, allowMissingColumns=True).withColumn(
                "batch_id", F.lit(batch_id)
            )
            _write_batch_idempotent(out, mismatch_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cdc_to_sink(
    stream: DataFrame,
    reference: DataFrame,
    keys: Sequence[str],
    feed_path: str,
    checkpoint_path: str,
    compare_columns: Optional[Sequence[str]] = None,
    trigger_available_now: bool = True,
):
    """Continuous change-data-capture SINK: each micro-batch of incoming
    snapshot rows is diffed against the static reference snapshot with the
    batch ``snapshot_cdc`` operator, and the resulting insert/update feed
    rows append to ``feed_path`` as parquet with a ``batch_id`` provenance
    column.

    Semantics: a micro-batch carries a SUBSET of keys (the rows that
    arrived), so only inserts and updates are meaningful per batch —
    deletes cannot be distinguished from not-yet-arrived keys and are
    filtered out; run the batch ``snapshot_cdc`` over the complete
    snapshots when delete detection matters.

    Same scale/idempotence profile as ``validate_to_sink``: foreachBatch
    reuses the batch operator verbatim (one null-safe join per micro-batch,
    reference broadcast-sized or bucketed), and the feed is partitioned by
    ``batch_id`` with dynamic partition overwrite, so a batch replayed
    after a crash-before-checkpoint rewrites its own partition rather than
    double-appending (foreachBatch alone is only at-least-once)."""
    from datacompy_spark.operators.cdc import snapshot_cdc

    key_list = list(keys)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        cols = [
            c
            for c in (compare_columns or batch_df.columns)
            if c in reference.columns and c not in key_list
        ]
        feed = snapshot_cdc(
            reference.select(*key_list, *cols),
            batch_df.select(*key_list, *cols),
            key_list,
            cols,
        ).filter(F.col("change_type") != "delete")
        _write_batch_idempotent(
            feed.withColumn("batch_id", F.lit(batch_id)), feed_path
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def drift_histogram_to_sink(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    lo: float,
    hi: float,
    hist_path: str,
    checkpoint_path: str,
    bins: int = 10,
    bucket: str = "day",
    trigger_available_now: bool = True,
):
    """Always-on feed of :func:`rolling_drift`'s raw material: every
    micro-batch folds to ``(period, bin, n)`` increments — the SAME
    ``fixed_bin`` edges as the batch operator — appended idempotently
    (``batch_id`` dynamic-overwrite partitions, at-least-once-safe) to
    ``hist_path``. The stream never holds drift state: a period's total is
    the SUM of its increments across batches, folded at read time by
    :func:`rolling_drift_view`. State bound: the aggregation per batch is
    over that batch only; the sink grows by ≤ periods×(bins+3) rows per
    batch regardless of row volume."""
    from datacompy_spark.operators.analytics import fixed_bin

    if bucket not in ("hour", "day"):
        raise ValueError("drift_histogram_to_sink bucket must be 'hour' or 'day'")
    if bins <= 0 or not hi > lo:
        raise ValueError("drift_histogram_to_sink needs bins > 0 and hi > lo")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        pb = (
            batch_df.select(
                F.date_trunc(bucket, F.col(ts_col)).alias("period"),
                fixed_bin(value_col, lo, hi, bins).alias("bin"),
            )
            .filter(F.col("period").isNotNull())
            .groupBy("period", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        _write_batch_idempotent(pb, hist_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def checksum_to_sink(
    stream: DataFrame,
    ts_col: str,
    ledger_path: str,
    checkpoint_path: str,
    columns=None,
    bucket: str = "day",
    trigger_available_now: bool = True,
):
    """Always-on content-integrity ledger: every micro-batch folds to
    ``(period, n_rows, checksum, batch_id)`` increments — the same
    60-bit per-row digests as the batch
    :func:`~datacompy_spark.operators.profile.table_checksum_by` — and
    appends them idempotently (``batch_id`` dynamic-overwrite partitions,
    at-least-once-safe, same contract as the drift/CDC sinks).

    The stream holds NO digest state: because the digest is a commutative
    integer SUM, a period's checksum is the sum of its increments across
    however many batches touched it, folded at read time by
    :func:`checksum_view`. State bound: the per-batch aggregation covers
    that batch only, and the ledger grows by ≤ |periods in batch| rows
    per batch regardless of row volume.

    The 100 TB use: stream the same feed into two systems and point
    reconciliation at the two ledgers — per-period equality of
    ``(n_rows, checksum)`` proves content-identical ingest with
    ledger-sized scans, no row data ever re-read. A mismatched period
    then drills down via batch
    :func:`~datacompy_spark.operators.profile.checksum_diff_by` on just
    that slice. ``columns`` defaults to every column of the stream."""
    from datacompy_spark.operators.profile import _row_digest

    if bucket not in ("hour", "day"):
        raise ValueError("checksum_to_sink bucket must be 'hour' or 'day'")
    cols = list(columns or stream.columns)
    missing = [c for c in cols if c not in stream.columns]
    if missing:
        raise ValueError(f"checksum_to_sink: columns {missing} not in stream")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        inc = (
            batch_df.select(
                F.date_trunc(bucket, F.col(ts_col)).alias("period"),
                _row_digest(cols).cast("decimal(38,0)").alias("__d"),
            )
            .groupBy("period")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("__d").alias("checksum"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        _write_batch_idempotent(inc, ledger_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def checksum_view(spark, ledger_path: str) -> DataFrame:
    """Fold a :func:`checksum_to_sink` ledger to per-period
    ``(period, n_rows, checksum)`` totals — bit-identical to running the
    batch grouped digest over everything ingested (pinned by the
    streaming tests: any batch split of the input produces the same
    view, and a replayed batch changes nothing). One partial-agg groupBy
    over the tiny increment log."""
    led = spark.read.parquet(ledger_path)
    return led.groupBy("period").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("checksum").cast("decimal(38,0)").alias("checksum"),
    )


def rolling_drift_view(spark, hist_path: str, bucket: str = "day") -> DataFrame:
    """Fold the :func:`drift_histogram_to_sink` increment log to
    ``(period, bin)`` totals and score period-over-period PSI/TV through
    ``rolling_drift_from_counts`` — LITERALLY the batch operator's core,
    so a single-batch replay of the whole feed reproduces the batch
    ``rolling_drift`` bit for bit (pinned by the streaming tests). The
    fold is one partial-agg groupBy over an already-tiny increment log."""
    from datacompy_spark.operators.analytics import rolling_drift_from_counts

    pb = (
        spark.read.parquet(hist_path)
        .groupBy("period", "bin")
        .agg(F.sum("n").alias("n"))
    )
    return rolling_drift_from_counts(pb, bucket=bucket)
