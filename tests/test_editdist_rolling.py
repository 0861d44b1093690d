"""Round-9 operators: PassJoin edit-distance similarity join and
day-over-day rolling drift."""

import math
import random

import pytest
from pyspark.sql import functions as F

from datacompy_spark.functions.text import normalize
from datacompy_spark.operators.analytics import rolling_drift
from datacompy_spark.operators.dedup import edit_distance_pairs
from conftest import shuffle_partitions


def _naive(spark, df, tau, prefix_len=64):
    keys = df.select(
        F.col("doc_id").alias("id"),
        F.coalesce(
            F.substring(normalize(F.col("text")), 1, prefix_len), F.lit("")
        ).alias("s"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    return {
        tuple(r)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.s", "b.s").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= tau)
        .collect()
    }


class TestEditDistancePairs:
    @pytest.mark.parametrize("tau", [1, 2, 3])
    def test_lossless_vs_naive_dense_random(self, spark, tau):
        # tiny alphabet + short lengths = maximal collision density: every
        # pigeonhole window off-by-one would surface as a missing pair
        rng = random.Random(7 * tau)
        rows = [
            (i, "".join(rng.choice("ab1 ") for _ in range(rng.randint(0, 11))))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {tuple(r) for r in edit_distance_pairs(df, "doc_id", "text", tau).collect()}
        assert got == _naive(spark, df, tau)

    def test_empty_and_null_text(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "a"), (4, "ab"), (5, "xyz long enough")],
            "doc_id long, text string",
        )
        got = {tuple(r) for r in edit_distance_pairs(df, "doc_id", "text", 2).collect()}
        # NULL and '' both normalize to the empty key: dist 0 to each other,
        # 1 to 'a', 2 to 'ab'; the long key matches nothing
        assert got == {(1, 2, 0), (1, 3, 1), (2, 3, 1), (1, 4, 2), (2, 4, 2), (3, 4, 1)}

    def test_prefix_cap_applies(self, spark):
        base = "z" * 80
        df = spark.createDataFrame(
            [(1, base), (2, base + "completely different tail")],
            "doc_id long, text string",
        )
        # identical inside the 64-char cap even though full texts diverge
        got = edit_distance_pairs(df, "doc_id", "text", 1).collect()
        assert [(r.id_a, r.id_b, r.dist) for r in got] == [(1, 2, 0)]

    def test_max_dist_validation(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            edit_distance_pairs(df, "doc_id", "text", 0)

    def test_release_caches_drops_internal_persists(self, spark):
        """Operator-internal persisted frames (the normalized key frame
        here) are owned by the process owner; release_caches() unpersists
        them so long-lived sessions don't accumulate cache entries across
        repeated calls."""
        from datacompy_spark import release_caches
        from datacompy_spark.plans import cache as cache_mod

        release_caches()  # drain anything earlier tests left behind
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "hello worlds")], "doc_id long, text string"
        )
        pairs = edit_distance_pairs(df, "doc_id", "text", 2)
        assert len(cache_mod._PROCESS.frames) == 1
        tracked = cache_mod._PROCESS.frames[0]
        pairs.count()  # materialize: cache is now populated and idle
        assert tracked.storageLevel.useMemory
        assert release_caches() == 1
        assert not tracked.storageLevel.useMemory
        assert release_caches() == 0  # owner drained
        # the returned plan stays correct after the drop (recompute path)
        assert pairs.count() == 1

    def test_release_checkpoints_frees_blocks_after_wrapper_gc(self, spark):
        """The real call-site shape (r12 review finding): every operator
        drops its localCheckpoint WRAPPER immediately, returning a derived
        frame whose JVM plan pins the blocks — so the owner must hold
        internal-RDD ids, not (weak) DataFrame references, for
        release_checkpoints() to reclaim anything in a borrowed long-lived
        session (r11 ADVICE: release_caches never reached these blocks)."""
        import gc

        from pyspark.sql import functions as F

        from datacompy_spark import release_checkpoints
        from datacompy_spark.plans import cache as cache_mod
        from datacompy_spark.plans.barrier import lineage_barrier

        release_checkpoints()  # drain anything earlier tests left behind
        spark.catalog.clearCache()

        def cached_blocks() -> int:
            sc = spark.sparkContext
            return sum(
                i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo()
            )

        before = cached_blocks()
        barred = lineage_barrier(spark.range(1000), eager=True)
        assert len(cache_mod._PROCESS.checkpoints) == 1
        derived = barred.agg(F.count(F.lit(1)).alias("n"))  # pins blocks JVM-side
        assert derived.collect()[0]["n"] == 1000
        del barred  # the wrapper dies at every real call site
        gc.collect()
        assert cached_blocks() > before  # wrapper GC does NOT free the blocks
        assert release_checkpoints() == 1  # id-based release DOES
        assert cached_blocks() == before
        assert release_checkpoints() == 0  # owner drained

    def test_scope_releases_exactly_its_own_checkpoints(self, spark):
        """A scope releases exactly what was registered inside it: a wider
        release could kill frames unrelated consumers in a borrowed session
        registered before it, or on another thread while it was open (the
        CLI --dsir path brackets its call this way). Those neighbours stay
        owed to the process owner."""
        import threading

        from datacompy_spark import release_checkpoints, scope
        from datacompy_spark.plans.barrier import lineage_barrier

        release_checkpoints()
        earlier = lineage_barrier(spark.range(500), eager=True)
        earlier.count()
        box = []
        with scope() as owner:
            mine = lineage_barrier(spark.range(200), eager=True)
            mine.count()
            # an interleaving consumer registers on another thread while
            # the scope is open (a new thread starts with the default
            # context, so it registers with the process owner)
            t = threading.Thread(
                target=lambda: box.append(
                    lineage_barrier(spark.range(300), eager=True)
                )
            )
            t.start()
            t.join()
            box[0].count()
            (rid,) = owner.checkpoints  # only mine is owned by the scope
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        assert persistent.get(rid) is None  # released on exit
        # both neighbours survived the scope and still read
        assert earlier.count() == 500
        assert box[0].count() == 300
        assert release_checkpoints() == 2  # the neighbours are still owed

    def test_release_keeps_span_queued_on_transient_failure(self, spark):
        """r12 review finding: release_checkpoints used to delete the
        owned ids BEFORE touching the JVM, so a transiently-invisible
        context (borrowed session touched from an odd thread state) made
        those blocks permanently unreleasable. The ids must survive the
        early return and release on retry."""
        import pyspark

        from datacompy_spark import release_checkpoints
        from datacompy_spark.plans import cache as cache_mod
        from datacompy_spark.plans.barrier import lineage_barrier

        release_checkpoints()  # drain other tests' leftovers
        barred = lineage_barrier(spark.range(400), eager=True)
        assert barred.count() == 400
        assert len(cache_mod._PROCESS.checkpoints) == 1
        real_sc = pyspark.SparkContext._active_spark_context
        pyspark.SparkContext._active_spark_context = None
        try:
            assert release_checkpoints() == 0  # nothing released...
            # ...and — the fix — nothing forgotten either
            assert len(cache_mod._PROCESS.checkpoints) == 1
        finally:
            pyspark.SparkContext._active_spark_context = real_sc
        assert release_checkpoints() == 1  # retry succeeds
        assert len(cache_mod._PROCESS.checkpoints) == 0

    def test_concurrent_releases_partition_the_count(self, spark):
        """release_checkpoints once dropped its lock between
        snapshotting ids and retiring them, so two concurrent
        releases could both snapshot the same ids and both count the same
        checkpoint (unpersist is idempotent, so only the COUNT was wrong).
        The id list is now swapped out under the owner's lock — the counts
        across concurrent releases must sum to exactly the number of
        registered checkpoints."""
        import threading

        from datacompy_spark import release_checkpoints
        from datacompy_spark.plans.barrier import lineage_barrier

        release_checkpoints()  # drain other tests' leftovers
        n = 6
        frames = [
            lineage_barrier(spark.range(100 + i), eager=True)
            for i in range(n)
        ]
        for f in frames:
            f.count()
        counts = []
        barrier = threading.Barrier(4)

        def release_all():
            barrier.wait()  # maximize overlap
            counts.append(release_checkpoints())

        threads = [threading.Thread(target=release_all) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sum(counts) == n, (
            f"concurrent releases double-counted: {counts} (sum "
            f"{sum(counts)}, expected {n})"
        )
        assert release_checkpoints() == 0  # owner drained exactly once

    def test_no_registration_lost_under_threads(self, spark):
        """Concurrent register_checkpoint calls (the borrowed-session
        multi-consumer story) append under the owner's lock: no
        registration may be lost under real thread interleaving."""
        import sys
        import threading

        from datacompy_spark import release_checkpoints
        from datacompy_spark.plans import cache as cache_mod

        release_checkpoints()
        df = spark.range(10).localCheckpoint(eager=True)
        n_threads, per_thread = 8, 25

        def register_many():
            for _ in range(per_thread):
                cache_mod.register_checkpoint(df)

        threads = [threading.Thread(target=register_many) for _ in range(n_threads)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
            assert len(cache_mod._PROCESS.checkpoints) == n_threads * per_thread
        finally:
            sys.setswitchinterval(interval)
            release_checkpoints()
            df.unpersist()

    def test_scope_exit_failure_leaves_checkpoints_owed(self, spark):
        """A scope whose exit cannot see a SparkContext must not forget its
        checkpoints: they pass to the enclosing (process) owner, and a
        later release frees them."""
        import pyspark

        from datacompy_spark import release_checkpoints, scope
        from datacompy_spark.plans.barrier import lineage_barrier

        release_checkpoints()
        real_sc = pyspark.SparkContext._active_spark_context
        try:
            with scope():
                lineage_barrier(spark.range(400), eager=True).count()
                pyspark.SparkContext._active_spark_context = None
        finally:
            pyspark.SparkContext._active_spark_context = real_sc
        assert release_checkpoints() == 1


class TestRollingDrift:
    def _events(self, spark, rows):
        return spark.createDataFrame(rows, "ts timestamp, value double")

    def test_identical_days_zero_drift(self, spark):
        import datetime as dt

        rows = []
        for day in (1, 2, 3):
            for v in (5.0, 15.0, 25.0, 25.0):
                rows.append((dt.datetime(2024, 1, day, 12, 0), v))
        out = rolling_drift(
            self._events(spark, rows), "ts", "value", 0.0, 30.0, bins=3
        ).collect()
        assert len(out) == 2
        for r in out:
            assert r.n_prev == 4 and r.n_cur == 4
            assert abs(r.tv_distance) < 1e-12 and abs(r.psi) < 1e-12

    def test_calendar_gap_breaks_chain(self, spark):
        import datetime as dt

        rows = [
            (dt.datetime(2024, 1, 1, 1), 1.0),
            (dt.datetime(2024, 1, 2, 1), 1.0),
            # Jan 3 silent
            (dt.datetime(2024, 1, 4, 1), 1.0),
        ]
        out = rolling_drift(self._events(spark, rows), "ts", "value", 0.0, 10.0).collect()
        # only Jan 2 has an adjacent predecessor with data
        assert [r.period.day for r in out] == [2]

    def test_total_shift_known_value(self, spark):
        import datetime as dt

        # day1: 4 rows in bin0; day2: 2 in bin0 + 2 in bin1
        rows = [(dt.datetime(2024, 1, 1, 1), 1.0)] * 4 + [
            (dt.datetime(2024, 1, 2, 1), 1.0),
            (dt.datetime(2024, 1, 2, 2), 1.0),
            (dt.datetime(2024, 1, 2, 3), 6.0),
            (dt.datetime(2024, 1, 2, 4), 6.0),
        ]
        out = rolling_drift(
            self._events(spark, rows), "ts", "value", 0.0, 10.0, bins=2
        ).collect()
        assert len(out) == 1
        r = out[0]
        # tv = (|1-0.5| + |0-0.5|)/2 = 0.5
        assert abs(r.tv_distance - 0.5) < 1e-12
        # psi = (0.5-1)ln(0.5/1) + (0.5-eps)ln(0.5/eps)
        eps = 1e-12
        expect = (0.5 - 1.0) * math.log(0.5) + (0.5 - eps) * math.log(0.5 / eps)
        assert abs(r.psi - expect) < 1e-9

    def test_null_values_get_their_own_bin(self, spark):
        import datetime as dt

        rows = [
            (dt.datetime(2024, 1, 1, 1), 1.0),
            (dt.datetime(2024, 1, 1, 2), 1.0),
            (dt.datetime(2024, 1, 2, 1), 1.0),
            (dt.datetime(2024, 1, 2, 2), None),
        ]
        out = rolling_drift(self._events(spark, rows), "ts", "value", 0.0, 10.0).collect()
        assert len(out) == 1
        # day2 moved half its mass to the NULL bin: tv = (0.5 + 0.5)/2
        assert abs(out[0].tv_distance - 0.5) < 1e-12

    def test_validation(self, spark):
        df = self._events(spark, [])
        with pytest.raises(ValueError):
            rolling_drift(df, "ts", "value", 1.0, 1.0)
        with pytest.raises(ValueError):
            rolling_drift(df, "ts", "value", 0.0, 1.0, bucket="month")


class TestDistributedQuantiles:
    def test_bitwise_vs_builtin_percentile(self, spark):
        import random

        from datacompy_spark.operators.profile import exact_quantiles_distributed

        rng = random.Random(11)
        vals = [rng.uniform(-1e15, 1e15) for _ in range(2000)] + [None] * 5
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        probs = [0.0, 0.01, 0.137, 0.5, 0.863, 0.99, 1.0]
        got = {
            r["prob"]: r["quantile"]
            for r in exact_quantiles_distributed(df, "x", probs).collect()
        }
        want = df.agg(F.percentile("x", F.lit(probs)).alias("q")).collect()[0]["q"]
        # bit-identical, not approx: the symmetric weighted interpolation
        # is the one Spark's exact percentile (and DuckDB) computes
        assert [got[p] for p in probs] == list(want)

    def test_partition_invariance(self, spark):
        import random

        from datacompy_spark.operators.profile import exact_quantiles_distributed
        from datacompy_spark.plans.partitioning import distributed_prefix_sum

        rng = random.Random(13)
        df = spark.createDataFrame(
            [(rng.gauss(0, 1),) for _ in range(1500)], "x double"
        )
        a = {r["prob"]: r["quantile"]
             for r in exact_quantiles_distributed(df, "x", [0.25, 0.5]).collect()}
        with shuffle_partitions(spark, 3):
            b = {r["prob"]: r["quantile"]
                 for r in exact_quantiles_distributed(df, "x", [0.25, 0.5]).collect()}
            # the session's count is the range partitioning's count
            ranged = distributed_prefix_sum(
                df.withColumn("c", F.lit(1)), order_cols=["x"], sum_cols=["c"]
            ).ranged
            assert ranged.rdd.getNumPartitions() == 3
        assert a == b

    def test_empty_and_validation(self, spark):
        from datacompy_spark.operators.profile import exact_quantiles_distributed

        df = spark.createDataFrame([(None,)], "x double")
        assert exact_quantiles_distributed(df, "x", [0.5]).count() == 0
        with pytest.raises(ValueError):
            exact_quantiles_distributed(df, "x", [])
        with pytest.raises(ValueError):
            exact_quantiles_distributed(df, "x", [1.5])

    def test_winsorize_clamps_and_keeps_nulls(self, spark):
        from datacompy_spark.operators.profile import winsorize

        vals = [float(i) for i in range(1, 101)] + [None]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        out = {r["x"]: r["x_w"] for r in winsorize(df, "x", 0.10, 0.90).collect()}
        # quantile_cont(0.10) over 1..100 = 10.9; (0.90) = 90.1
        assert out[1.0] == pytest.approx(10.9)
        assert out[100.0] == pytest.approx(90.1)
        assert out[50.0] == 50.0
        assert out[None] is None
        with pytest.raises(ValueError):
            winsorize(df, "x", 0.9, 0.1)


class TestFuzzyKeyEditdist:
    def test_typo_mapping(self, spark):
        from datacompy_spark.operators.dedup import fuzzy_key_match

        left = spark.createDataFrame(
            [("acme corp",), ("globex inc",), ("initech llc",)], "k string"
        )
        right = spark.createDataFrame(
            [("acme c0rp",), ("globex inc",), ("umbrella co",)], "k2 string"
        )
        got = {
            (r["key_left"], r["key_right"]): r["dist"]
            for r in fuzzy_key_match(
                left, right, "k", "k2", method="editdist", max_dist=2
            ).collect()
        }
        # '0' is stripped by normalization, so 'acme c0rp' -> 'acme c rp':
        # substitution counted once against the normalized domain
        assert got[("globex inc", "globex inc")] == 0
        assert got[("acme corp", "acme c0rp")] <= 2
        assert not any(kr == "umbrella co" for _, kr in got)

    def test_bad_method_raises(self, spark):
        from datacompy_spark.operators.dedup import fuzzy_key_match

        df = spark.createDataFrame([("x",)], "k string")
        with pytest.raises(ValueError):
            fuzzy_key_match(df, df, "k", method="soundex")

    def test_pair_pred_pushdown_filters_candidates(self, spark):
        from datacompy_spark.operators.dedup import edit_distance_pairs

        df = spark.createDataFrame(
            [(1, "hello world"), (2, "hello world"), (3, "hello w0rld")],
            "doc_id long, text string",
        )
        only_with_3 = lambda a, b: b == 3  # noqa: E731
        got = {
            (r["id_a"], r["id_b"])
            for r in edit_distance_pairs(
                df, "doc_id", "text", 2, pair_pred=only_with_3
            ).collect()
        }
        assert got == {(1, 3), (2, 3)}


class TestGroupQuantiles:
    def test_bitwise_vs_builtin_groupby_percentile(self, spark):
        import random

        from datacompy_spark.operators.profile import group_quantiles_distributed

        rng = random.Random(31)
        rows = [
            (rng.choice(["a", "b", "c", None]),
             rng.uniform(-1e12, 1e12) if rng.random() > 0.02 else None)
            for _ in range(3000)
        ]
        df = spark.createDataFrame(rows, "g string, x double")
        probs = [0.0, 0.25, 0.5, 0.9, 1.0]
        got = {
            (r["g"], r["prob"]): r["quantile"]
            for r in group_quantiles_distributed(df, ["g"], "x", probs).collect()
        }
        want = {}
        for r in df.groupBy("g").agg(F.percentile("x", F.lit(probs)).alias("q")).collect():
            for p, v in zip(probs, r["q"]):
                want[(r["g"], p)] = v
        # includes the NULL group: the prefix-sum offsets join is null-safe
        assert got == want and (None, 0.5) in got

    def test_prefix_sum_keeps_null_groups(self, spark):
        from datacompy_spark.plans.partitioning import distributed_prefix_sum

        df = spark.createDataFrame(
            [("a", 1.0, 1), ("a", 2.0, 1), (None, 3.0, 1), (None, 4.0, 1)],
            "g string, v double, c long",
        )
        cum = distributed_prefix_sum(
            df, order_cols=["v"], sum_cols=["c"], group_cols=["g"]
        ).result
        rows = {(r["g"], r["v"]): r["c_cum"] for r in cum.collect()}
        assert rows == {("a", 1.0): 1, ("a", 2.0): 2, (None, 3.0): 1, (None, 4.0): 2}

    def test_validation(self, spark):
        from datacompy_spark.operators.profile import group_quantiles_distributed

        df = spark.createDataFrame([("a", 1.0)], "g string, x double")
        with pytest.raises(ValueError):
            group_quantiles_distributed(df, [], "x", [0.5])


class TestEditDistanceCross:
    @pytest.mark.parametrize("bcast", [False, True])
    def test_lossless_vs_naive_cross(self, spark, bcast):
        import random

        from datacompy_spark.operators.dedup import edit_distance_cross

        rng = random.Random(17)
        mk = lambda n, s: [  # noqa: E731
            (s + i, "".join(rng.choice("ab1 ") for _ in range(rng.randint(0, 11))))
            for i in range(n)
        ]
        L = spark.createDataFrame(mk(80, 0), "doc_id long, text string")
        R = spark.createDataFrame(mk(120, 1000), "doc_id long, text string")
        got = {
            tuple(r)
            for r in edit_distance_cross(
                L, R, "doc_id", "text", 2, broadcast_left=bcast
            ).collect()
        }
        key = lambda df, i, s: df.select(  # noqa: E731
            F.col("doc_id").alias(i),
            F.coalesce(
                F.substring(normalize(F.col("text")), 1, 64), F.lit("")
            ).alias(s),
        )
        want = {
            tuple(r)
            for r in key(L, "id_l", "s_l")
            .join(key(R, "id_r", "s_r"))
            .select(
                "id_l", "id_r",
                F.levenshtein("s_l", "s_r").cast("long").alias("dist"),
            )
            .filter(F.col("dist") <= 2)
            .collect()
        }
        assert got == want

    def test_incremental_editdist_verdicts(self, spark):
        from datacompy_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps high")], "doc_id long, text string"
        )
        batch = spark.createDataFrame(
            [
                (10, "the quick brown fax jumps high"),    # 1 edit -> dup_corpus
                (11, "some totally unrelated document"),   # new
                (12, "some totally unrelated documents"),  # dup_batch of 11
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["verdict"], r["match_id"])
            for r in incremental_dedup(
                batch, corpus, "doc_id", "text", method="editdist", max_dist=2
            ).collect()
        }
        assert out == {
            10: ("dup_corpus", 1),
            11: ("new", None),
            12: ("dup_batch", 11),
        }


class TestWinsorizeByGroup:
    def test_per_group_bounds_and_null_group_passthrough(self, spark):
        from datacompy_spark.operators.profile import winsorize_by_group

        rows = (
            [("a", float(i)) for i in range(1, 101)]
            + [("b", float(1000 * i)) for i in range(1, 101)]
            + [(None, 5.0), (None, 50.0)]     # NULL group is a real group
            + [("c", None), ("c", None)]      # all-NULL group: no bounds
        )
        df = spark.createDataFrame(rows, "g string, x double")
        out = winsorize_by_group(df, ["g"], "x", 0.10, 0.90)
        got = {(r["g"], r["x"]): r["x_w"] for r in out.collect()}
        # group 'a': quantile_cont(0.10)=10.9, (0.90)=90.1
        assert got[("a", 1.0)] == pytest.approx(10.9)
        assert got[("a", 100.0)] == pytest.approx(90.1)
        # group 'b' clamps on ITS OWN scale, not a's
        assert got[("b", 1000.0)] == pytest.approx(10900.0)
        assert got[("b", 100000.0)] == pytest.approx(90100.0)
        # NULL group clamps within itself (2 values -> bounds interpolated)
        assert got[(None, 5.0)] > 5.0
        # all-NULL group: value stays NULL, no crash
        assert got[("c", None)] is None

    def test_validation(self, spark):
        from datacompy_spark.operators.profile import winsorize_by_group

        df = spark.createDataFrame([("a", 1.0)], "g string, x double")
        with pytest.raises(ValueError):
            winsorize_by_group(df, ["g"], "x", 0.9, 0.1)


class TestDecontaminateEditdist:
    def test_typo_leak_flagged(self, spark):
        from datacompy_spark.operators.textops import decontaminate_editdist

        eval_df = spark.createDataFrame(
            [(100, "what is the capital of france")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [
                (1, "what is the capitol of france"),   # 1 sub: typo leak
                (2, "a completely unrelated training document"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["contaminated"], r["eval_match"], r["dist"])
            for r in decontaminate_editdist(
                train, "doc_id", "text", eval_df, max_dist=2
            ).collect()
        }
        assert got == {1: (True, 100, 1), 2: (False, None, None)}

    def test_min_struct_witness_is_deterministic(self, spark):
        from datacompy_spark.operators.textops import decontaminate_editdist

        # two eval docs at equal distance: the lexicographic (dist, id)
        # minimum must pick the smaller eval id every time
        eval_df = spark.createDataFrame(
            [(200, "abcdefgh"), (100, "abcdefgx")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [(1, "abcdefgq")], "doc_id long, text string"
        )
        r = decontaminate_editdist(train, "doc_id", "text", eval_df, max_dist=1).collect()[0]
        assert (r["contaminated"], r["eval_match"], r["dist"]) == (True, 100, 1)


class TestMadOutliers:
    def test_planted_outlier_flagged_per_group(self, spark):
        from datacompy_spark.operators.profile import mad_outlier_summary

        # group 'a': tight cluster + one wild point; 'b': wider scale where
        # the same absolute value is NOT an outlier on its own MAD scale
        rows = (
            [("a", float(v)) for v in (10, 11, 12, 13, 14, 1000)]
            + [("b", float(v)) for v in (0, 500, 1000, 1500, 2000)]
            + [("a", None)]  # NULL values excluded from n
        )
        df = spark.createDataFrame(rows, "g string, x double")
        out = {r["g"]: r for r in mad_outlier_summary(df, ["g"], "x", k=3.0).collect()}
        assert out["a"]["n"] == 6
        assert out["a"]["median"] == pytest.approx(12.5)
        assert out["a"]["n_outliers"] == 1  # the 1000
        assert out["b"]["n_outliers"] == 0  # 2000 is in-scale for b
        assert out["b"]["mad"] == pytest.approx(500.0)

    def test_all_null_group_vanishes_and_validation(self, spark):
        from datacompy_spark.operators.profile import mad_outlier_summary

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("c", None)], "g string, x double"
        )
        got = {r["g"] for r in mad_outlier_summary(df, ["g"], "x").collect()}
        assert got == {"a"}
        with pytest.raises(ValueError):
            mad_outlier_summary(df, ["g"], "x", k=0.0)
        with pytest.raises(ValueError):
            mad_outlier_summary(df, [], "x")


class TestQuantileDrift:
    def test_tail_shift_visible_only_in_tail_probe(self, spark):
        from datacompy_spark.operators.profile import quantile_drift

        old = spark.createDataFrame([(float(v),) for v in range(1, 101)], "v double")
        # shift ONLY the top decile by +100: p50 must not move, p99 must
        new = spark.createDataFrame(
            [(float(v if v <= 90 else v + 100),) for v in range(1, 101)], "v double"
        )
        out = {r["prob"]: r for r in quantile_drift(old, new, "v", [0.5, 0.99]).collect()}
        assert out[0.5]["delta"] == pytest.approx(0.0)
        assert out[0.99]["delta"] == pytest.approx(100.0)
        assert out[0.99]["q_old"] == pytest.approx(99.01)

    def test_empty_side_yields_null_quantile(self, spark):
        from datacompy_spark.operators.profile import quantile_drift

        old = spark.createDataFrame([(1.0,), (2.0,)], "v double")
        new = spark.createDataFrame([(None,)], "v double")
        rows = quantile_drift(old, new, "v", [0.5]).collect()
        assert len(rows) == 1
        assert rows[0]["q_old"] == pytest.approx(1.5)
        assert rows[0]["q_new"] is None and rows[0]["delta"] is None


class TestKAnonymity:
    def test_violations_and_null_quasi_group(self, spark):
        from datacompy_spark.operators.profile import k_anonymity_audit

        rows = (
            # big, diverse group: passes both k=3 and l=2
            [("US", "A", float(i)) for i in range(5)]
            # small group: k violation
            + [("DE", "B", 1.0)]
            # big but sensitive-uniform group: l violation only
            + [("FR", "C", 7.0)] * 4
            # NULL quasi value is a REAL group (re-identifies the same)
            + [(None, "D", 2.0)]
        )
        df = spark.createDataFrame(rows, "country string, seg string, bal double")
        out = {(r["country"], r["seg"]): r for r in k_anonymity_audit(
            df, ["country", "seg"], k=3, sensitive_col="bal", l=2
        ).collect()}
        assert ("US", "A") not in out
        assert out[("DE", "B")]["k_violation"] and out[("DE", "B")]["l_violation"]
        assert out[("FR", "C")]["l_violation"] and not out[("FR", "C")]["k_violation"]
        assert out[(None, "D")]["k_violation"]

    def test_k_only_mode_and_validation(self, spark):
        from datacompy_spark.operators.profile import k_anonymity_audit

        df = spark.createDataFrame(
            [("a", 1.0)] * 5 + [("b", 2.0)], "g string, v double"
        )
        out = k_anonymity_audit(df, ["g"], k=3).collect()
        assert len(out) == 1 and out[0]["g"] == "b"
        assert out[0]["n_distinct_sensitive"] is None
        assert out[0]["l_violation"] is False
        with pytest.raises(ValueError):
            k_anonymity_audit(df, [], k=3)
        with pytest.raises(ValueError):
            k_anonymity_audit(df, ["g"], k=0)
        with pytest.raises(ValueError):
            k_anonymity_audit(df, ["g"], k=3, sensitive_col="v", l=0)
