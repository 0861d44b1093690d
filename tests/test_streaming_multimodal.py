"""Streaming operators driven through real micro-batch execution
(file source → availableNow trigger → memory sink) with the batch twin as
oracle; multimodal mapInPandas plumbing with deterministic fallbacks."""

import pytest
from pyspark.sql import functions as F

from datacompy_spark.operators import multimodal as MM
from datacompy_spark.sources.loaders import load_table
from datacompy_spark.streaming import drift as SD


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory, spark, sf_dir):
    """Micro-batch-friendly copy of events (ns timestamps pre-converted)."""
    d = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, sf_dir, "events").coalesce(2).write.parquet(d)
    return d


def run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


class TestWindowedProfile:
    def test_stream_matches_batch(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        prof_stream = SD.windowed_profile(stream, "ts", "value", "1 hour", group_cols=["event_type"])
        got = run_stream(spark, prof_stream, "profile_stream")
        want = SD.windowed_profile(batch, "ts", "value", "1 hour", group_cols=["event_type"])
        g = {(r["win"]["start"], r["event_type"]): (r["n_rows"], r["n_nulls"]) for r in got.collect()}
        w = {(r["win"]["start"], r["event_type"]): (r["n_rows"], r["n_nulls"]) for r in want.collect()}
        assert g == w and len(g) > 0

    def test_drift_flags(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        base = SD.windowed_profile(batch, "ts", "value", "1 hour")
        shifted = batch.withColumn("value", F.col("value") * 10)
        cur = SD.windowed_profile(shifted, "ts", "value", "1 hour")
        flags = SD.profile_drift(cur, base, on=["win"], rel_tol=0.2).collect()
        assert len(flags) > 0
        assert all(r["mean_drifted"] for r in flags if r["base_mean"] is not None)
        same = SD.profile_drift(base, base, on=["win"], rel_tol=0.2).collect()
        assert not any(r["mean_drifted"] for r in same)


class TestStreamCompare:
    def test_stream_matches_batch_twin_and_counts(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        # reference: same events with value perturbed on a deterministic
        # subset and some keys removed entirely
        ref = (
            batch.filter(F.col("event_id") % 10 != 0)  # 10% of keys missing
            .withColumn(
                "value",
                F.when(F.col("event_id") % 7 == 0, F.col("value") + 100.0)
                .otherwise(F.col("value")),
            )
        )
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        got = run_stream(
            spark,
            SD.stream_compare(stream, ref, ["event_id"], "ts",
                              compare_columns=["value", "event_type"]),
            "stream_cmp",
        )
        want = SD.stream_compare(batch, ref, ["event_id"], "ts",
                                 compare_columns=["value", "event_type"])
        g = {r["win"]["start"]: (r["n_rows"], r["n_missing_in_ref"],
                                 r["value_match_cnt"], r["event_type_match_cnt"])
             for r in got.collect()}
        w = {r["win"]["start"]: (r["n_rows"], r["n_missing_in_ref"],
                                 r["value_match_cnt"], r["event_type_match_cnt"])
             for r in want.collect()}
        assert g == w and len(g) > 0
        total_rows = sum(v[0] for v in g.values())
        total_missing = sum(v[1] for v in g.values())
        total_value_match = sum(v[2] for v in g.values())
        assert 0 < total_missing < total_rows
        assert total_value_match < total_rows - total_missing  # perturbed subset
        # event_type always matches where the key exists
        assert sum(v[3] for v in g.values()) == total_rows - total_missing


class TestStreamingDedup:
    def test_dedup_stream(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        dup_dir = events_dir + "_dup"
        batch.union(batch).coalesce(2).write.parquet(dup_dir)
        stream = spark.readStream.schema(batch.schema).parquet(dup_dir)
        deduped = SD.streaming_dedup(stream, ["event_id"], "ts")
        q = (
            deduped.writeStream.format("memory").queryName("dedup_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.table("dedup_stream").count()
        assert got == batch.count()


class TestStreamingIncrementalDedup:
    @pytest.fixture()
    def doc_stream_dirs(self, tmp_path, spark):
        corpus_d = str(tmp_path / "corpus")
        stream_d = str(tmp_path / "stream")
        spark.createDataFrame(
            [(1, "standing corpus doc alpha"), (2, "standing corpus doc beta")],
            "doc_id bigint, text string",
        ).write.parquet(corpus_d)
        import datetime as dt

        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        spark.createDataFrame(
            [
                (10, "Standing CORPUS doc alpha!", t0),  # corpus dup
                (11, "fresh streamed doc one", t0),
                (12, "fresh streamed doc one", t0),       # stream-internal dup
                (13, "fresh streamed doc two", t0),
            ],
            "doc_id bigint, text string, ts timestamp",
        ).coalesce(1).write.parquet(stream_d)
        return stream_d, corpus_d

    def test_stream_survivors(self, spark, doc_stream_dirs):
        stream_d, corpus_d = doc_stream_dirs
        corpus = spark.read.parquet(corpus_d)
        schema = spark.read.parquet(stream_d).schema
        stream = spark.readStream.schema(schema).parquet(stream_d)
        out = SD.streaming_incremental_dedup(
            stream, corpus, "doc_id", "text", "ts"
        )
        q = (
            out.writeStream.format("memory").queryName("incr_dedup_stream")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {r["doc_id"] for r in spark.table("incr_dedup_stream").collect()}
        # 10 dies (corpus), exactly one of 11/12 survives, 13 survives
        assert 13 in got and 10 not in got
        assert len(got & {11, 12}) == 1 and len(got) == 2

    def test_batch_twin_same_semantics(self, spark, doc_stream_dirs):
        stream_d, corpus_d = doc_stream_dirs
        corpus = spark.read.parquet(corpus_d)
        batch = spark.read.parquet(stream_d)
        got = {
            r["doc_id"]
            for r in SD.streaming_incremental_dedup(
                batch, corpus, "doc_id", "text", "ts"
            ).collect()
        }
        assert 13 in got and 10 not in got and len(got) == 2


class TestSessionize:
    def test_stream_matches_batch(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        got = run_stream(spark, SD.sessionize(stream, "ts", "user_id"), "sessions_stream")
        want = SD.sessionize(batch, "ts", "user_id")
        assert got.count() == want.count() > 0
        # per-user session counts identical
        g = {r["user_id"]: r["n"] for r in got.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
        w = {r["user_id"]: r["n"] for r in want.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
        assert g == w


class TestMultimodal:
    @pytest.fixture()
    def blobs(self, spark):
        rows = [(i, f"fake-image-bytes-{i}".encode()) for i in range(20)]
        return spark.createDataFrame(rows, "id bigint, data binary")

    def test_metadata_attach(self, spark, blobs):
        out = MM.attach_media_metadata(blobs, "data", "image", "png")
        row = out.filter("id = 3").collect()[0]["media_meta"]
        assert row["media_type"] == "image"
        assert row["size_bytes"] == len(b"fake-image-bytes-3")
        assert row["width"] is None

    def test_resize_images_passthrough_and_carry(self, spark, blobs):
        # no codec stack in this container: byte-identical passthrough,
        # resized=false, target dims recorded — plumbing (schema, Arrow
        # batching, carry columns) is what's under test
        src = blobs.withColumn("src_tag", F.col("id") % 3)
        out = {
            r["id"]: r
            for r in MM.resize_images(
                src, "id", "data", width=64, height=32, carry_cols=("src_tag",)
            ).collect()
        }
        assert len(out) == 20
        assert bytes(out[3]["blob"]) == b"fake-image-bytes-3"
        assert out[3]["width"] == 64 and out[3]["height"] == 32
        assert out[3]["resized"] is False
        assert out[4]["src_tag"] == 1
        with pytest.raises(ValueError):
            MM.resize_images(src, "id", "data", width=0)

    def test_image_features_deterministic(self, spark, blobs):
        f1 = {r["id"]: r["features"] for r in MM.image_features(blobs, "id", "data").collect()}
        f2 = {r["id"]: r["features"] for r in MM.image_features(blobs, "id", "data").collect()}
        assert f1 == f2
        assert all(len(v) == MM.IMAGE_FEATURE_DIM for v in f1.values())
        assert f1[0] != f1[1]
        # no codec stack in this container → fallback path
        assert all(not r["decoded"] for r in MM.image_features(blobs, "id", "data").collect())

    def test_bucketing_partitions(self, spark, blobs):
        out = MM.bucket_by_content(blobs, "data", buckets=8)
        assert out.rdd.getNumPartitions() == 8
        assert out.count() == 20

    def test_audio_features_schema(self, spark, blobs):
        out = MM.audio_features(blobs, "id", "data")
        assert out.schema.simpleString() == "struct<id:bigint,features:array<double>,decoded:boolean>"
        assert out.count() == 20

    def test_video_frame_sampling_expands_rows(self, spark, blobs):
        # blobs are ~17 bytes → pseudo-duration ~17 ms → 4 frames at 5 ms
        out = MM.sample_video_frames(blobs, "id", "data", every_ms=5).collect()
        assert out and all(isinstance(bytes(r["frame_png"]), bytes) for r in out)
        by_id = {}
        for r in out:
            by_id.setdefault(r["id"], []).append((r["frame_idx"], r["frame_ms"]))
        assert len(by_id) == 20
        for frames in by_id.values():
            assert sorted(frames) == [(i, i * 5) for i in range(len(frames))]
            assert len(frames) >= 2
        # deterministic across runs; fallback path (no codec stack here)
        rerun = MM.sample_video_frames(blobs, "id", "data", every_ms=5).collect()
        assert {(r["id"], r["frame_idx"], bytes(r["frame_png"])) for r in out} == \
               {(r["id"], r["frame_idx"], bytes(r["frame_png"])) for r in rerun}
        assert all(not r["decoded"] for r in out)

    def test_image_features_no_iterrows(self):
        # the Arrow-batch hot loop must not materialize per-row frames
        import inspect

        src = inspect.getsource(MM.image_features) + inspect.getsource(
            MM.sample_video_frames
        )
        assert "iterrows" not in src


class TestNTZContract:
    """Spark 4.x infers tz-less parquet timestamps as TIMESTAMP_NTZ, which
    ``withWatermark`` rejects — the engine's contract is cast-don't-reject
    (``drift._watermarkable``). Regression for the round-4 breakage."""

    @pytest.fixture()
    def ntz_dir(self, tmp_path, spark, sf_dir):
        d = str(tmp_path / "events_ntz")
        # write the ts column as NTZ explicitly so the streaming source sees
        # TIMESTAMP_NTZ regardless of loader normalization
        load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        ).coalesce(2).write.parquet(d)
        return d

    def test_windowed_profile_on_ntz_stream(self, spark, ntz_dir):
        batch = spark.read.parquet(ntz_dir)
        assert batch.schema["ts"].dataType.simpleString() == "timestamp_ntz"
        stream = spark.readStream.schema(batch.schema).parquet(ntz_dir)
        prof = SD.windowed_profile(stream, "ts", "value", "1 hour")
        got = run_stream(spark, prof, "profile_ntz")
        want = SD.windowed_profile(batch, "ts", "value", "1 hour")
        g = {r["win"]["start"]: r["n_rows"] for r in got.collect()}
        w = {r["win"]["start"]: r["n_rows"] for r in want.collect()}
        assert g == w and len(g) > 0

    def test_streaming_dedup_on_ntz_stream(self, spark, ntz_dir):
        batch = spark.read.parquet(ntz_dir)
        stream = spark.readStream.schema(batch.schema).parquet(ntz_dir)
        deduped = SD.streaming_dedup(stream, ["event_id"], "ts")
        q = (
            deduped.writeStream.format("memory").queryName("dedup_ntz")
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        assert spark.table("dedup_ntz").count() == batch.count()


class TestValidateToSink:
    def test_micro_batches_append_mismatches_exactly_once(self, spark, events_dir, tmp_path):
        ev = spark.read.parquet(events_dir)
        # reference: drop every 7th id, shift every 10th value
        ref = ev.filter(F.col("event_id") % 7 != 0).select(
            "event_id",
            F.when(F.col("event_id") % 10 == 0, F.col("value") + 0.5)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        stream = spark.readStream.schema(ev.schema).parquet(events_dir)
        sink = str(tmp_path / "mismatches")
        ckpt = str(tmp_path / "ckpt")

        def cached_ids():
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return {i.id() for i in infos if i.numCachedPartitions() > 0}

        before = cached_ids()
        q = SD.validate_to_sink(
            stream, ref, ["event_id"], sink, ckpt, compare_columns=["value"]
        )
        assert q.awaitTermination(120)
        # each micro-batch releases the diff its compare persisted
        assert not (cached_ids() - before)
        got = spark.read.parquet(sink)
        n = ev.count()
        want_missing = ev.filter(F.col("event_id") % 7 == 0).count()
        want_mismatch = ev.filter(
            (F.col("event_id") % 7 != 0) & (F.col("event_id") % 10 == 0)
        ).count()
        kinds = {r["__kind"]: r["n"] for r in got.groupBy("__kind").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert kinds.get("missing_in_ref", 0) == want_missing
        assert kinds.get("mismatch", 0) == want_mismatch
        assert "batch_id" in got.columns
        # restart with the same checkpoint: no new data -> no double writes
        q2 = SD.validate_to_sink(
            stream, ref, ["event_id"], sink, ckpt, compare_columns=["value"]
        )
        assert q2.awaitTermination(120)
        assert spark.read.parquet(sink).count() == got.count()


class TestIdempotentBatchWrite:
    def test_replayed_batch_overwrites_its_own_partition(self, spark, tmp_path):
        """foreachBatch is at-least-once: a crash between the parquet write
        and the checkpoint commit replays the batch. The sink writer must
        make that replay idempotent — rewrite batch_id=N, leave others."""
        path = str(tmp_path / "sink")
        b0 = spark.range(0, 10).withColumn("batch_id", F.lit(0))
        SD._write_batch_idempotent(b0, path)
        SD._write_batch_idempotent(b0, path)  # simulated replay
        assert spark.read.parquet(path).count() == 10
        b1 = spark.range(0, 5).withColumn("batch_id", F.lit(1))
        SD._write_batch_idempotent(b1, path)
        SD._write_batch_idempotent(b0, path)  # replay batch 0 again
        got = spark.read.parquet(path)
        assert got.count() == 15  # batch 1 untouched by batch 0's replay
        per_batch = {
            r["batch_id"]: r["n"]
            for r in got.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert per_batch == {0: 10, 1: 5}


class TestCdcToSink:
    def test_micro_batch_cdc_feed(self, spark, events_dir, tmp_path):
        ev = spark.read.parquet(events_dir)
        # reference snapshot: every 10th value shifted (updates expected),
        # every 7th id missing (inserts expected); deletes are undefined
        # per-batch and must NOT appear in the feed
        ref = ev.filter(F.col("event_id") % 7 != 0).select(
            "event_id",
            F.when(F.col("event_id") % 10 == 0, F.col("value") + 0.5)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        stream = spark.readStream.schema(ev.schema).parquet(events_dir)
        sink, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
        q = SD.cdc_to_sink(
            stream, ref, ["event_id"], sink, ckpt, compare_columns=["value"]
        )
        assert q.awaitTermination(120)
        got = spark.read.parquet(sink)
        kinds = {
            r["change_type"]: r["n"]
            for r in got.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        want_insert = ev.filter(F.col("event_id") % 7 == 0).count()
        want_update = ev.filter(
            (F.col("event_id") % 7 != 0) & (F.col("event_id") % 10 == 0)
        ).count()
        assert kinds.get("insert", 0) == want_insert
        assert kinds.get("update", 0) == want_update
        assert "delete" not in kinds
        assert "batch_id" in got.columns
        # updates carry the changed column set
        upd = got.filter(F.col("change_type") == "update").limit(1).collect()
        assert upd and upd[0]["changed_cols"] == ["value"]
        # checkpoint replay: restart adds nothing
        q2 = SD.cdc_to_sink(
            stream, ref, ["event_id"], sink, ckpt, compare_columns=["value"]
        )
        assert q2.awaitTermination(120)
        assert spark.read.parquet(sink).count() == got.count()

    def test_crash_replay_of_same_batches_leaves_feed_unchanged(
        self, spark, events_dir, tmp_path
    ):
        """The documented at-least-once contract, exercised end to end: a
        crash between a batch's parquet write and its checkpoint commit
        replays that batch with the SAME batch_id and data. Simulate the
        worst case — the whole checkpoint lost — by wiping it and rerunning
        the identical stream: every batch replays, and the dynamic
        partition overwrite must leave the compacted feed byte-identical
        (same rows, same per-batch counts), not doubled."""
        import shutil

        ev = spark.read.parquet(events_dir)
        ref = ev.filter(F.col("event_id") % 7 != 0).select(
            "event_id",
            F.when(F.col("event_id") % 10 == 0, F.col("value") + 0.5)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        sink, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")

        def run_once():
            stream = spark.readStream.schema(ev.schema).parquet(events_dir)
            q = SD.cdc_to_sink(
                stream, ref, ["event_id"], sink, ckpt, compare_columns=["value"]
            )
            assert q.awaitTermination(120)

        run_once()
        first = sorted(
            (r["batch_id"], r["event_id"], r["change_type"])
            for r in spark.read.parquet(sink).collect()
        )
        assert first
        shutil.rmtree(ckpt)  # lose the checkpoint: full at-least-once replay
        run_once()
        second = sorted(
            (r["batch_id"], r["event_id"], r["change_type"])
            for r in spark.read.parquet(sink).collect()
        )
        assert second == first


class TestStreamingSemanticDecontaminate:
    def test_stream_matches_batch_scores(self, spark, sf_dir, tmp_path):
        """semantic_decontaminate is stateless (one broadcast row of eval
        vectors + a narrow projection), so the SAME operator must run
        unchanged on an unbounded stream in append mode and reproduce the
        batch scores exactly across micro-batch boundaries."""
        from datacompy_spark.operators.similarity import semantic_decontaminate

        emb = load_table(spark, sf_dir, "embeddings")
        eval_df = emb.filter(F.col("vec_id") % 41 == 0).select("embedding")
        d = str(tmp_path / "decon_stream")
        emb.repartition(3).write.parquet(d)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = semantic_decontaminate(
            stream, "vec_id", "embedding", eval_df, threshold=0.45
        )
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName("decon_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.lastProgress["batchId"] >= 2

        got = sorted(map(tuple, spark.table("decon_stream").collect()))
        want = sorted(
            map(
                tuple,
                semantic_decontaminate(
                    emb, "vec_id", "embedding", eval_df, threshold=0.45
                ).collect(),
            )
        )
        assert got == want and len(got) == emb.count()
        # the planted leaks (eval ⊂ corpus) must be flagged on the stream
        flagged = {r[0] for r in got if r[2]}
        assert {v for v in flagged if v % 41 == 0}


class TestStreamingClusterAssign:
    def test_stream_matches_batch_assignment(self, spark, sf_dir, tmp_path):
        """Serve a batch-trained kmeans model over a file stream in
        multiple micro-batches; every assignment and integer distance must
        equal a batch rescore with the same centroids (the operator is
        stateless, so micro-batch boundaries cannot matter)."""
        from datacompy_spark.operators.similarity import kmeans_fit
        from datacompy_spark.streaming.drift import streaming_cluster_assign

        emb = load_table(spark, sf_dir, "embeddings")
        cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=2)
        d = str(tmp_path / "emb_stream")
        # repartition, not coalesce: the source is one file and coalesce
        # cannot split it — we need >=3 files for real micro-batching
        emb.repartition(3).write.parquet(d)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = streaming_cluster_assign(stream, cents, "vec_id", "embedding")
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName("cluster_assign_stream")
            .outputMode("append")  # stateless: no agg, no watermark needed
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # genuinely exercised micro-batching, not one big batch
        assert q.lastProgress["batchId"] >= 2

        got = sorted(
            map(tuple, spark.table("cluster_assign_stream").collect())
        )
        want = sorted(
            map(
                tuple,
                streaming_cluster_assign(
                    emb, cents, "vec_id", "embedding"
                ).collect(),
            )
        )
        assert got == want and len(got) == emb.count()


class TestStreamingIvfIngest:
    def test_stream_builds_queryable_index(self, spark, sf_dir, tmp_path):
        """Build from half the corpus, stream the other half in micro-
        batches; the final index must be row-identical to a one-shot build
        (frozen quantizer) and queries must agree exactly."""
        from datacompy_spark.operators.similarity import (
            build_ivf_index,
            query_ivf_index,
        )
        from datacompy_spark.streaming.drift import streaming_ivf_ingest

        emb = load_table(spark, sf_dir, "embeddings")
        pivots = emb.filter(F.col("vec_id") % 101 == 0).select(
            "vec_id", "embedding"
        )
        half_a = emb.filter(F.col("vec_id") % 2 == 0)
        half_b = emb.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding"
        )
        idx = str(tmp_path / "idx")
        build_ivf_index(half_a, "vec_id", "embedding", idx, pivots=pivots)

        stream_dir = str(tmp_path / "stream")
        half_b.repartition(3).write.parquet(stream_dir)
        stream = (
            spark.readStream.schema(half_b.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = streaming_ivf_ingest(
            stream, idx, "vec_id", "embedding",
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        assert q.lastProgress["batchId"] >= 2  # real micro-batching

        cells = spark.read.parquet(f"{idx}/cells")
        assert cells.count() == emb.count()
        # multiple ingest generations present (0 = build; stream batches
        # land at STREAM_INGEST_BASE + batch_id, their own namespace)
        gens = {r["ingest"] for r in cells.select("ingest").distinct().collect()}
        assert 0 in gens and len(gens) >= 3

        full = str(tmp_path / "full")
        build_ivf_index(emb, "vec_id", "embedding", full, pivots=pivots)
        probes = emb.filter(F.col("vec_id") % 97 == 0)
        run = lambda p: sorted(
            map(
                tuple,
                query_ivf_index(
                    spark, p, probes, "vec_id", "embedding", k=5, nprobe=2
                ).collect(),
            )
        )
        assert run(idx) == run(full)

    def test_replayed_ingest_id_is_idempotent(self, spark, sf_dir, tmp_path):
        """The at-least-once contract: appending the same batch under the
        same ingest id twice leaves ONE copy (dynamic partition overwrite),
        not two."""
        from datacompy_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        idx = str(tmp_path / "idx")
        build_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", idx,
            pivots=emb.filter(F.col("vec_id") % 101 == 0).select(
                "vec_id", "embedding"
            ),
        )
        batch = emb.filter(F.col("vec_id") % 2 == 1)
        append_to_ivf_index(spark, idx, batch, "vec_id", "embedding", ingest_id=7)
        n1 = spark.read.parquet(f"{idx}/cells").count()
        append_to_ivf_index(spark, idx, batch, "vec_id", "embedding", ingest_id=7)
        n2 = spark.read.parquet(f"{idx}/cells").count()
        assert n1 == n2 == emb.count()

    def test_manual_and_stream_ingests_share_one_index(
        self, spark, sf_dir, tmp_path
    ):
        """Mixing ``ann --append`` (auto-increment below the base) with a
        stream (batch 0 → STREAM_INGEST_BASE) must never overwrite the
        other path's leaves, and the next manual auto-increment must not
        jump into stream id space."""
        from datacompy_spark.operators.similarity import (
            STREAM_INGEST_BASE,
            append_to_ivf_index,
            build_ivf_index,
        )
        from datacompy_spark.streaming.drift import streaming_ivf_ingest

        emb = load_table(spark, sf_dir, "embeddings")
        idx = str(tmp_path / "idx")
        build_ivf_index(
            emb.filter(F.col("vec_id") % 3 == 0), "vec_id", "embedding", idx,
            pivots=emb.filter(F.col("vec_id") % 101 == 0).select(
                "vec_id", "embedding"
            ),
        )
        # manual append: auto-increment → ingest=1
        manual = emb.filter(F.col("vec_id") % 3 == 1)
        res = append_to_ivf_index(spark, idx, manual, "vec_id", "embedding")
        assert res["ingest"] == 1
        n_after_manual = spark.read.parquet(f"{idx}/cells").count()

        # stream the last third: batch 0 must land ABOVE the base, not at
        # ingest=1 where it would dynamic-overwrite the manual append
        rest = emb.filter(F.col("vec_id") % 3 == 2).select("vec_id", "embedding")
        sdir = str(tmp_path / "stream")
        rest.coalesce(1).write.parquet(sdir)
        q = streaming_ivf_ingest(
            spark.readStream.schema(rest.schema).parquet(sdir),
            idx, "vec_id", "embedding",
            checkpoint_path=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        cells = spark.read.parquet(f"{idx}/cells")
        assert cells.count() == emb.count()  # nothing lost
        gens = {r["ingest"] for r in cells.select("ingest").distinct().collect()}
        assert 1 in gens and STREAM_INGEST_BASE in gens

        # a later manual auto-increment stays in manual space (2, not
        # STREAM_INGEST_BASE + 1)
        res2 = append_to_ivf_index(
            spark, idx,
            manual.limit(0), "vec_id", "embedding",
        )
        assert res2["ingest"] == 2
        assert n_after_manual == emb.filter(F.col("vec_id") % 3 != 2).count()


class TestStreamingRollingDrift:
    def test_sink_view_matches_batch_operator(self, spark, events_dir, tmp_path):
        from datacompy_spark.operators.analytics import rolling_drift

        # split the feed into 3 separate appends so maxFilesPerTrigger=1
        # yields MULTIPLE micro-batches with every period straddling two —
        # the increment-fold hard case
        src = str(tmp_path / "ev_split")
        ev = spark.read.parquet(events_dir)
        for m in range(3):
            ev.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        batch = spark.read.parquet(src)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        hist = str(tmp_path / "hist")
        ckpt = str(tmp_path / "ckpt")
        q = SD.drift_histogram_to_sink(
            stream, "ts", "value", lo=0.0, hi=500.0,
            hist_path=hist, checkpoint_path=ckpt, bins=10, bucket="day",
        )
        q.awaitTermination(120)
        # increments from >1 batch must FOLD to the batch operator's exact
        # output — periods split across micro-batches are the hard case
        n_batches = spark.read.parquet(hist).select("batch_id").distinct().count()
        assert n_batches > 1
        got = {
            r["period"]: (r["n_prev"], r["n_cur"], r["tv_distance"], r["psi"])
            for r in SD.rolling_drift_view(spark, hist, bucket="day").collect()
        }
        want = {
            r["period"]: (r["n_prev"], r["n_cur"], r["tv_distance"], r["psi"])
            for r in rolling_drift(batch, "ts", "value", 0.0, 500.0, bins=10).collect()
        }
        assert got == want and len(got) > 0

    def test_replayed_batch_is_idempotent(self, spark, events_dir, tmp_path):
        from datacompy_spark.operators.analytics import fixed_bin

        batch = spark.read.parquet(events_dir)
        hist = str(tmp_path / "hist2")
        ckpt = str(tmp_path / "ckpt2")
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        q = SD.drift_histogram_to_sink(
            stream, "ts", "value", 0.0, 500.0, hist, ckpt, bins=10
        )
        q.awaitTermination(120)
        before = SD.rolling_drift_view(spark, hist).collect()
        # simulate an at-least-once replay of batch 0: rewrite its partition
        pb = (
            batch.select(
                F.date_trunc("day", F.col("ts")).alias("period"),
                fixed_bin("value", 0.0, 500.0, 10).alias("bin"),
            )
            .groupBy("period", "bin").agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(0))
        )
        SD._write_batch_idempotent(pb, hist)
        after = SD.rolling_drift_view(spark, hist).collect()
        key = lambda rows: {r["period"]: (r["n_cur"], r["psi"]) for r in rows}
        assert key(before) == key(after)

    def test_validation(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        with pytest.raises(ValueError):
            SD.drift_histogram_to_sink(stream, "ts", "value", 0.0, 500.0,
                                       "x", "y", bucket="month")
        with pytest.raises(ValueError):
            SD.drift_histogram_to_sink(stream, "ts", "value", 5.0, 5.0, "x", "y")


class TestStreamingChecksumLedger:
    def test_view_matches_batch_grouped_digest(self, spark, events_dir, tmp_path):
        """Any micro-batch split of the feed must fold to EXACTLY the
        batch grouped digest — the commutative-sum property that makes
        the ledger trustworthy (periods straddling batches are the hard
        case)."""
        from datacompy_spark.operators.profile import table_checksum_by

        src = str(tmp_path / "ev_split")
        ev = spark.read.parquet(events_dir)
        for m in range(3):
            ev.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        batch = spark.read.parquet(src)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ledger = str(tmp_path / "ledger")
        q = SD.checksum_to_sink(
            stream, "ts", ledger, str(tmp_path / "ckpt"), bucket="day"
        )
        q.awaitTermination(120)
        assert spark.read.parquet(ledger).select("batch_id").distinct().count() > 1
        got = {
            r["period"]: (r["n_rows"], int(r["checksum"]))
            for r in SD.checksum_view(spark, ledger).collect()
        }
        want_df = table_checksum_by(
            batch.withColumn("period", F.date_trunc("day", F.col("ts"))),
            ["period"],
            columns=batch.columns,
        )
        want = {
            r["period"]: (r["n_rows"], int(r["checksum"]))
            for r in want_df.collect()
        }
        assert got == want and len(got) > 0

    def test_replayed_batch_is_idempotent(self, spark, events_dir, tmp_path):
        from datacompy_spark.operators.profile import _row_digest

        batch = spark.read.parquet(events_dir)
        ledger = str(tmp_path / "ledger2")
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        q = SD.checksum_to_sink(stream, "ts", ledger, str(tmp_path / "ckpt2"))
        q.awaitTermination(120)
        before = {
            r["period"]: (r["n_rows"], int(r["checksum"]))
            for r in SD.checksum_view(spark, ledger).collect()
        }
        # simulate an at-least-once replay of batch 0: rewrite its partition
        inc = (
            batch.select(
                F.date_trunc("day", F.col("ts")).alias("period"),
                _row_digest(batch.columns).cast("decimal(38,0)").alias("__d"),
            )
            .groupBy("period")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("__d").alias("checksum"),
            )
            .withColumn("batch_id", F.lit(0))
        )
        SD._write_batch_idempotent(inc, ledger)
        after = {
            r["period"]: (r["n_rows"], int(r["checksum"]))
            for r in SD.checksum_view(spark, ledger).collect()
        }
        assert before == after

    def test_validation(self, spark, events_dir):
        batch = spark.read.parquet(events_dir)
        stream = spark.readStream.schema(batch.schema).parquet(events_dir)
        with pytest.raises(ValueError):
            SD.checksum_to_sink(stream, "ts", "x", "y", bucket="month")
        with pytest.raises(ValueError):
            SD.checksum_to_sink(stream, "ts", "x", "y", columns=["nope"])
