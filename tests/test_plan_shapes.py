"""Physical-plan regression guards: the scale properties we engineered
(shuffle counts, column pruning, no pathological recompute) must not quietly
regress as the engine evolves."""

import re

import pytest
from pyspark.sql import functions as F

from datacompy_spark import SparkCompare
from conftest import jobs


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def li_pair(spark, lineitem):
    df1 = lineitem.filter(F.col("l_orderkey") % 50 != 0)
    df2 = lineitem.filter(F.col("l_orderkey") % 50 != 1)
    return df1, df2


KEYS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]


class TestCompareTopology:
    def test_assume_unique_minimal_plan(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS, assume_unique=True)
        p = plan_of(c._outer)
        assert p.count("Exchange") == 2, "assume_unique must be one shuffle per side"
        assert p.count("Window") == 0
        assert p.count("SortMergeJoin") == 1

    def test_paired_plan_bounded(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        p = plan_of(c._outer)
        # ordinal pairing costs at most one extra exchange per side
        assert p.count("Exchange") <= 4
        assert p.count("Window") == 2
        assert p.count("SortMergeJoin") == 1

    def test_row_class_matrix_single_join_rollup(self, spark, li_pair):
        """A per-key rollup over row_class_matrix() must evaluate the
        outer join exactly ONCE — the single-pass alternative to stitching
        intersect_rows + df1_unq_rows groupBys with a third join (which
        re-evaluates the join per branch: 12 exchanges / 6 SMJ pre-AQE
        for the cmp_dupes_by_ordinal shape)."""
        c = SparkCompare(spark, *li_pair, join_columns=["l_orderkey"],
                         dup_order_by=["l_linenumber"], null_safe_join=False)
        both = F.col("row_class") == "both"
        rollup = c.row_class_matrix().groupBy("l_orderkey").agg(
            F.sum(F.when(both, 1).otherwise(0)).alias("n_both"),
            F.sum(F.when(F.col("row_class") == "left_only", 1).otherwise(0)).alias(
                "n_left"
            ),
        )
        p = plan_of(rollup)
        assert p.count("SortMergeJoin") == 1, p
        # 2 window shuffles (reused by the join: ordinal enters as a
        # range-pair, not a hash key) + 1 final-agg shuffle
        assert p.count("Exchange") <= 3, p
        assert p.count("Scan parquet") <= 2, p

    def test_narrow_projection_prunes_scan(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS, assume_unique=True)
        narrow = c.intersect_rows.select("l_orderkey", "l_quantity_df1")
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan_of(narrow))
        assert schemas, "expected parquet ReadSchema in plan"
        for s in schemas:
            cols = {c.split(":")[0] for c in s.split(",")}
            assert cols <= {"l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"}

    def test_where_predicate_pushed_to_scan(self, spark, lineitem):
        # the incremental-compare path: a pre-compare predicate must reach
        # the parquet scan as PushedFilters, so comparing one slice of a
        # huge table never reads the rest
        df1 = lineitem.filter("l_orderkey < 1000")
        df2 = lineitem.filter("l_orderkey < 1000")
        c = SparkCompare(spark, df1, df2, join_columns=KEYS, assume_unique=True)
        p = plan_of(c._outer)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
        assert pushed, "expected parquet PushedFilters in plan"
        assert any("l_orderkey" in f and "LessThan" in f for f in pushed), pushed

    def test_cache_intermediates_serves_from_cache(self, spark, li_pair):
        # with cache_intermediates, once a statistics read has run, derived
        # frames and mismatch pulls must read the in-memory cache, not
        # re-scan the parquet inputs
        c = SparkCompare(
            spark, *li_pair, join_columns=KEYS, assume_unique=True,
            cache_intermediates=True,
        )
        c.column_stats
        try:
            for df in (c.intersect_rows, c.sample_mismatch("l_quantity"), c.df1_unq_rows):
                p = plan_of(df)
                # the scan node must be the cache (the InMemoryRelation text
                # itself embeds the original FileScan as its *cached* plan,
                # so only assert the cache node is present)
                assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p, p[:500]
        finally:
            c.uncache()

    def test_bucketed_inputs_compare_without_exchange(self, spark, li_pair):
        # both sides bucketed+sorted on the join key → the compare's
        # sort-merge join runs shuffle-free (the recurring-snapshot-diff
        # fast path at scale)
        from datacompy_spark.sources.loaders import write_bucketed

        df1, df2 = li_pair
        keys = ["l_orderkey"]
        write_bucketed(
            df1.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty")),
            "bt_left", keys, num_buckets=8,
        )
        write_bucketed(
            df2.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty")),
            "bt_right", keys, num_buckets=8,
        )
        try:
            c = SparkCompare(
                spark,
                spark.table("bt_left"),
                spark.table("bt_right"),
                join_columns=keys,
                assume_unique=True,
                null_safe_join=False,  # keys asserted non-null → plain equi-join
            )
            p = plan_of(c._outer)
            assert p.count("Exchange") == 0, p
            assert "SortMergeJoin" in p
        finally:
            spark.sql("DROP TABLE IF EXISTS bt_left")
            spark.sql("DROP TABLE IF EXISTS bt_right")

    def test_non_nullable_keys_auto_lower_to_plain_equality(self, spark):
        # both key schemas provably non-nullable (spark.range lineage) →
        # the default null-safe join lowers to == automatically, so the
        # join keys are plain (no coalesce/isnull composite), and the
        # full-outer join reuses the ordinal window's partitioning
        # note: the key must be the raw range id — even `id % 500` is
        # DECLARED nullable by Spark (remainder can null under try/ANSI
        # semantics), which correctly blocks the lowering
        df1 = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        df2 = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") % 89).alias("v")
        )
        assert not df1.schema["k"].nullable and not df2.schema["k"].nullable
        c = SparkCompare(spark, df1, df2, join_columns=["k"])
        p = plan_of(c._outer)
        assert "isnull(k__" not in p and "coalesce(k__" not in p, p[:800]
        # equivalent to the explicit escape hatch, plan-shape-wise
        c2 = SparkCompare(spark, df1, df2, join_columns=["k"], null_safe_join=False)
        assert p.count("Exchange") == plan_of(c2._outer).count("Exchange")

    def test_nullable_keys_keep_null_safe_join(self, spark, li_pair):
        # parquet schemas are nullable → the reference's null-safe pairing
        # semantic must survive the auto-lowering optimization. A paired
        # compare materializes the null-safe key below the ordinal window
        # on each side, and the join equates those columns
        c = SparkCompare(spark, *li_pair, join_columns=["l_orderkey"])
        p = plan_of(c._outer)
        assert p.count("coalesce(l_orderkey#") == 2, p[:800]
        assert p.count("isnull(l_orderkey#") == 2, p[:800]
        m = re.search(r"SortMergeJoin \[([^\]]*)\]", p)
        assert m and "__dc_keyc0__lhs" in m.group(1), p[:800]
        assert "__dc_keyn0__lhs" in m.group(1), p[:800]

    def test_paired_nullable_keys_one_exchange_per_side(self, spark, li_pair):
        # the ordinal window partitions by the materialized null-safe keys
        # the join equates, so the join reuses the window's exchange and
        # sort: one of each per side (a window on the raw key plus a join
        # on (coalesce(k, 0), isnull(k)) planned two of each)
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        p = plan_of(c._outer)
        assert p.count("Exchange hashpartitioning") == 2, p
        assert p.count("Sort [") == 2, p
        assert p.count("SortMergeJoin") == 1, p

    def test_dup_join_on_ordinal_modes(self, spark, li_pair):
        # default: ordinal rides as a residual range-pair → NOT in the SMJ
        # hash keys; hot-key mode: ordinal IS an equi-join key (hot key
        # fans out across (key, ordinal) partitions, linear in dups)
        df1, df2 = li_pair
        base = SparkCompare(spark, df1, df2, join_columns=["l_orderkey"])
        hot = SparkCompare(
            spark, df1, df2, join_columns=["l_orderkey"], dup_join_on_ordinal=True
        )
        p_base, p_hot = plan_of(base._outer), plan_of(hot._outer)
        m_base = re.search(r"SortMergeJoin \[([^\]]*)\]", p_base)
        m_hot = re.search(r"SortMergeJoin \[([^\]]*)\]", p_hot)
        assert m_base and "__dc_ordinal" not in m_base.group(1)
        assert m_hot and "__dc_ordinal" in m_hot.group(1)
        # both modes agree on every statistic
        assert base.intersect_rows_count == hot.intersect_rows_count
        assert base.count_matching_rows() == hot.count_matching_rows()
        assert base.df1_unq_rows_count == hot.df1_unq_rows_count
        assert base.df2_unq_rows_count == hot.df2_unq_rows_count

    def test_stats_is_single_aggregate_action(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        # one action → a small bounded number of jobs (AQE may split stages
        # into a few jobs, but far fewer than a per-column action loop)
        new_jobs = jobs(spark, lambda: c._stats)
        # AQE materializes stages as separate jobs (≈6 for one action); the
        # guard is against regressing to a per-column action loop (2N+1 ≥ 15)
        assert new_jobs <= 8, f"stats ran {new_jobs} jobs; expected a single action"


class TestOnePassReportStats:
    """Every flow computes the statistics as ``DataFrame.observe`` metrics
    ON the exceptions-populate action — one full-join pass. These pin (a)
    value equality with a plain aggregate of the same expressions, (b) that
    the stats really ride the populate action (no second full-join job) in
    the report and the check flow, and (c) the cache-binding rules around
    ``_unq_rows``/``uncache``."""

    def test_observed_stats_equal_plain_aggregate(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        c._ensure_cached()  # report flow entry: observe path
        assert "_stats" in c.__dict__, (
            "stats did not ride the exceptions-populate action"
        )
        # oracle: the same expressions as one plain aggregate over the join
        row = c._outer.agg(*c._stat_aggs()).collect()[0].asDict()
        assert c._stats == {k: (0 if v is None else v) for k, v in row.items()}
        c.uncache()

    def test_check_flow_is_one_populate_pass(self, spark, li_pair):
        # matches() + column_stats + all_mismatch().count() on a fresh
        # compare: the statistics read populates the exceptions cache and
        # the mismatch count reads it back — no second pass over the join
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)

        def check_flow():
            c.matches()
            _ = c.column_stats
            c.all_mismatch().count()

        new_jobs = jobs(spark, check_flow)
        assert new_jobs <= 8, f"check flow ran {new_jobs} jobs"
        c.uncache()

    def test_populate_also_fills_exceptions_cache(self, spark, li_pair):
        spark.catalog.clearCache()
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        c._ensure_cached()
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        assert cached, "exceptions cache not populated by the observe pass"
        for i in cached:
            assert i.numCachedPartitions() == i.numPartitions(), (
                "partially-populated cache — the single populate action "
                "did not cover the whole frame"
            )
        c.uncache()

    def test_stats_then_report_still_works_two_pass(self, spark, li_pair):
        # a user who reads stats FIRST (matches()) then reports: the stats
        # read populated the cache, the report reuses it — both orders
        # must agree on every number and the rendered report
        c1 = SparkCompare(spark, *li_pair, join_columns=KEYS)
        _ = c1.matches()
        rep1 = c1.report(sample_count=5)
        c2 = SparkCompare(spark, *li_pair, join_columns=KEYS)
        rep2 = c2.report(sample_count=5)
        assert rep1 == rep2
        c1.uncache(), c2.uncache()

    def test_unq_rows_upgrade_to_exceptions_cache(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        raw = c.df1_unq_rows  # standalone: binds to the prunable raw join
        assert "InMemoryTableScan" not in plan_of(raw)
        c._ensure_cached()
        upgraded = c.df1_unq_rows  # must re-bind to the persisted diff
        assert upgraded is not raw, "stale pre-cache binding survived"
        p = plan_of(upgraded)
        assert "InMemoryTableScan" in p or "TableCacheQueryStage" in p, p[:500]
        c.uncache()

    def test_report_is_one_action_and_persists_nothing(self, spark, li_pair):
        # the report runs one action (AQE splits it into a few jobs: one per
        # shuffle map stage plus the result); the statistics are observed
        # on it and memoized, and no diff is persisted
        def cached_ids():
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return {i.id() for i in infos if i.numCachedPartitions() > 0}

        df1, df2 = li_pair
        tax = F.col("l_tax")
        df2 = df2.withColumn(
            "l_tax", F.when(F.col("l_orderkey") % 7 == 0, tax + 0.01).otherwise(tax)
        )
        c = SparkCompare(spark, df1, df2, join_columns=KEYS)
        cached_before = cached_ids()
        built = []
        new_jobs = jobs(spark, lambda: built.append(c.build_report_data(sample_count=10)))
        (data,) = built
        assert new_jobs <= 4, f"report ran {new_jobs} jobs"
        assert "_stats" in c.__dict__
        assert "_exceptions" not in c.__dict__
        assert cached_ids() <= cached_before
        assert data.mismatch_stats.has_samples and data.df1_unique_rows.has_rows

    def test_uncache_forgets_exceptions_binding(self, spark, li_pair):
        c = SparkCompare(spark, *li_pair, join_columns=KEYS)
        c.all_mismatch()  # populates the diff (a report persists nothing)
        assert "_exceptions" in c.__dict__
        c.uncache()
        assert "_exceptions" not in c.__dict__, (
            "post-uncache reads would filter the unpersisted exceptions "
            "plan instead of the prunable raw outer join"
        )
        # and a fresh unique-rows read plans from the raw join again
        assert "InMemoryTableScan" not in plan_of(c.df1_unq_rows)


class TestDriverChatter:
    """Building a compare and its statistics aggregates is driver work paid
    per py4j round trip. Every expression is Spark SQL text, so the counts
    stay far below what Column trees cost. Counted on the gateway client's
    ``send_command``, wrapped as ``perfbench.trace.Py4jCounter`` wraps it,
    on an 11-column lineitem-shaped pair. Only this thread's sends count:
    py4j's finalizer thread sends the garbage-collection messages of
    proxies that died earlier, whenever it gets to them."""

    COLS = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ]

    @staticmethod
    def round_trips(spark, fn):
        import threading

        client = spark.sparkContext._gateway._gateway_client
        send, me, calls = client.send_command, threading.get_ident(), [0]

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                calls[0] += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            out = fn()
        finally:
            del client.send_command
        return calls[0], out

    def test_compare_construction_round_trips(self, spark, li_pair):
        # the parent counts are the same calls built from Column trees, in
        # this session (PySpark's default dataFrameDebugging); the SQL-text
        # counts are 145, 201 and 130
        df1, df2 = (df.select(*self.COLS) for df in li_pair)
        df1.schema, df2.schema  # the inputs' own schema fetch is not the compare's
        tol = {"l_extendedprice": 0.01, "default": 0.0}
        unique, _ = self.round_trips(
            spark,
            lambda: SparkCompare(spark, df1, df2, join_columns=KEYS, abs_tol=tol, assume_unique=True),
        )
        assert unique <= 300, unique  # Column trees: 2,842
        paired, c = self.round_trips(
            spark,
            lambda: SparkCompare(
                spark, df1, df2, join_columns=KEYS[:2], abs_tol=tol, dup_order_by=KEYS[2:]
            ),
        )
        assert paired <= 400, paired  # Column trees: 4,320

        def observed():
            from pyspark.sql import Observation

            return c._outer.observe(Observation(), *c._stat_aggs())

        aggs, _ = self.round_trips(spark, observed)
        assert aggs <= 300, aggs  # Column trees: 3,078


class TestReportSampleParity:
    """Every report sample equals its slot's own query, converted by its own
    ``toPandas()``: the first ``n`` rows by (join keys, pairing ordinal).
    The fixture varies dtypes, holds nulls in the join key and in an int
    column only within OTHER slots' rows, and duplicates a join key."""

    SCHEMA = (
        "id bigint, n_int int, dec decimal(10,2), dbl double, d date, "
        "ts timestamp, flag boolean, s string"
    )

    def _frames(self, spark):
        import datetime as dt
        from decimal import Decimal

        day = dt.date(2024, 1, 1)
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        nan = float("nan")

        def row(i, n_int, dec, dbl, dd, ts_s, flag, s):
            return (i, n_int, Decimal(dec), dbl, day + dt.timedelta(days=dd),
                    t0 + dt.timedelta(seconds=ts_s), flag, s)

        left = [
            row(1, 10, "1.00", 1.0, 0, 0, True, "a"),
            row(1, 11, "1.10", 1.5, 1, 1, False, "a2"),
            row(2, 20, "2.00", nan, 2, 2, None, "b"),
            row(3, 30, "3.00", 3.0, 3, 3, True, "c"),
            row(4, None, "4.00", 4.0, 4, 4, False, "d"),
            row(5, 50, "5.00", 5.0, 5, 5, True, "e"),
            row(None, None, "9.99", 9.0, 9, 9, None, "left null key"),
            row(7, None, "7.00", 7.0, 7, 7, True, "left only"),
        ]
        right = [
            row(1, 10, "1.00", 1.0, 0, 0, True, "a"),
            row(1, 12, "1.10", 1.5, 1, 1, False, "a2"),
            row(2, 20, "2.50", nan, 2, 2, True, "b"),
            row(3, 31, "3.00", nan, 33, 3, True, "c"),
            row(4, None, "4.00", 4.0, 4, 4, False, "dd"),
            row(5, 50, "5.00", 5.0, 5, 6, False, "ee"),
            row(8, 80, "8.00", 8.0, 8, 8, None, "right only"),
            row(9, None, "9.00", 9.5, 9, 9, False, "right only 2"),
        ]
        return (
            spark.createDataFrame(left, self.SCHEMA),
            spark.createDataFrame(right, self.SCHEMA),
        )

    @pytest.mark.parametrize("arrow", [True, False], ids=["arrow", "rows"])
    @pytest.mark.parametrize("n", [1, 10])
    def test_samples_equal_per_slot_oracle(self, spark, arrow, n):
        key = "spark.sql.execution.arrow.pyspark.enabled"
        saved = spark.conf.get(key)
        spark.conf.set(key, str(arrow).lower())
        try:
            c = SparkCompare(spark, *self._frames(spark), join_columns="id")
            data = c.build_report_data(sample_count=n, column_count=5)
            merge, order = F.col(c._n["merge"]), ["id", c._n["ord"]]

            def oracle(pred, cols, names):
                return (
                    c._outer.filter(pred).orderBy(*order).limit(n)
                    .select(*cols).toDF(*names).toPandas().to_string()
                )

            mismatched = c.columns_with_mismatches
            assert len(mismatched) == 7, mismatched
            want = [
                oracle(
                    (merge == "both") & ~F.col(f"{col}_match"),
                    ["id", f"{col}_df1", f"{col}_df2"],
                    ["id", f"{col} (df1)", f"{col} (df2)"],
                )
                for col in mismatched
            ]
            assert list(data.mismatch_stats.samples) == want
            for side, tag, rows in (
                ("df1", "left_only", data.df1_unique_rows.rows),
                ("df2", "right_only", data.df2_unique_rows.rows),
            ):
                shown = c.df1.columns[:5]
                cols = [x if x == "id" else f"{x}_{side}" for x in shown]
                assert rows == oracle(merge == tag, cols, shown)
            # the null join key and the int column's nulls sit in other
            # slots: the int-typed samples must still print as ints
            assert "12" in want[0] and "12.0" not in want[0]
        finally:
            spark.conf.set(key, saved)


class TestSingleLineageMaterialization:
    """r14 advice: ``collapse_exact_content(eager=False)`` relies on the
    caller's FIRST action being a single-lineage descendant that populates
    the whole persisted chain (staged → base/sigs → banded) in one pass.
    A future reorder that fans out first would silently reintroduce the
    duplicate-tokenize race. Pin: right after CONSTRUCTION (which runs the
    one materializing count), every persisted frame in the session is
    FULLY cached — a deferred or fanned-out materialization leaves the
    chain empty or partially populated here."""

    def _assert_all_persists_fully_cached(self, spark, at_least: int):
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        assert len(cached) >= at_least, (
            f"expected >= {at_least} populated caches, got "
            f"{[(i.id(), i.numCachedPartitions()) for i in infos]}"
        )
        for i in cached:
            assert i.numCachedPartitions() == i.numPartitions(), (
                f"RDD {i.id()} partially cached "
                f"({i.numCachedPartitions()}/{i.numPartitions()})"
            )

    def test_minhash_build_populates_whole_chain(self, spark):
        from datacompy_spark.operators.dedup import minhash_lsh_pairs

        spark.catalog.clearCache()
        rows = [(i, f"some document body number {i % 7} with shared words")
                for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
        # staged (collapse), base (sketches), banded — all populated by the
        # single banded.count() at build time
        self._assert_all_persists_fully_cached(spark, at_least=3)
        spark.catalog.clearCache()

    def test_simhash_build_populates_whole_chain(self, spark):
        from datacompy_spark.operators.dedup import simhash_near_dups

        spark.catalog.clearCache()
        rows = [(i, f"another body of text number {i % 5} sharing tokens")
                for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        simhash_near_dups(df, "doc_id", "text", max_hamming=3)
        self._assert_all_persists_fully_cached(spark, at_least=2)
        spark.catalog.clearCache()


class TestKmeansCacheRelease:
    """r14 verdict item 9 / advice: the shared quantized-vector frame must
    not pin corpus-width cache for the session lifetime."""

    # Earlier tests in the shared session leave localCheckpoint RDD blocks
    # behind that catalog.clearCache() cannot release, so assert on the
    # DELTA of leaked ids across the call, not on global emptiness.
    @staticmethod
    def _leaked_ids(spark):
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    def test_standalone_fit_releases_its_cache(self, spark, embeddings):
        from datacompy_spark.operators.similarity import kmeans_fit

        spark.catalog.clearCache()
        before = self._leaked_ids(spark)
        cents = kmeans_fit(embeddings, "vec_id", "embedding", k=4, iters=1)
        assert cents.count() == 4
        leaked = self._leaked_ids(spark) - before
        assert not leaked, f"kmeans_fit leaked persisted RDDs: {leaked}"

    def test_lloyd_vq_is_ledger_tracked(self, spark, embeddings):
        from datacompy_spark import release_caches
        from datacompy_spark.operators.similarity import kmeans_lloyd

        spark.catalog.clearCache()
        release_caches()  # drain ledger entries from earlier tests
        before = self._leaked_ids(spark)
        out = kmeans_lloyd(embeddings, "vec_id", "embedding", k=4, iters=1)
        out.count()  # materialize through the shared vq cache
        assert release_caches() >= 1, (
            "lloyd's shared vq is not ledger-tracked — session-lifetime leak"
        )
        assert not (self._leaked_ids(spark) - before)


class TestKnnTopology:
    def test_bruteforce_broadcasts_queries(self, spark, embeddings):
        from datacompy_spark.operators.similarity import knn_bruteforce

        probes = embeddings.filter(F.col("vec_id") % 97 == 0)
        p = plan_of(knn_bruteforce(embeddings, probes, "vec_id", "embedding", k=3))
        assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def _py_normalize(s: str) -> str:
    import re as _re

    return _re.sub(" +", " ", _re.sub("[^a-z0-9 ]", " ", s.lower())).strip()


def _py_ngrams(s: str, n: int = 3) -> frozenset:
    s = _py_normalize(s)
    if len(s) < n:
        return frozenset([s])
    return frozenset(s[i : i + n] for i in range(len(s) - n + 1))


class TestDedupScaleShapes:
    """Guards for the scale properties of the dedup operators: candidate
    generation must stay O(near-matches), never O(block²), and the pruned
    paths must still return exactly the naive all-pairs answer."""

    def test_ngram_ppjoin_matches_bruteforce(self, spark):
        # word-salad corpus with planted near-dups across two blocks; the
        # PPJoin path must reproduce the naive all-pairs scan exactly
        vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
        rows = []
        for i in range(30):
            words = [vocab[(i * 7 + j * 3) % len(vocab)] for j in range(12)]
            rows.append((i, " ".join(words), f"b{i % 2}"))
            # planted near-dup: same text with one word changed
            rows.append((100 + i, " ".join(words[:-1] + [vocab[i % len(vocab)]]), f"b{i % 2}"))
        df = spark.createDataFrame(rows, "doc_id bigint, text string, block string")

        from datacompy_spark.operators.dedup import ngram_jaccard_pairs

        def run(cap):
            return {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(
                    df, "doc_id", "text", "block", n=3, threshold=0.5,
                    direct_block_cap=cap,
                ).collect()
            }

        got = run(1000)       # every block under the cap → direct route
        got_prefix = run(1)   # every block oversized → prefix-filter route
        want = {}
        by_block = {}
        for i, text, blk in rows:
            by_block.setdefault(blk, []).append((i, _py_ngrams(text)))
        for blk, docs in by_block.items():
            for x in range(len(docs)):
                for y in range(x + 1, len(docs)):
                    (ia, ga), (ib, gb) = docs[x], docs[y]
                    ia, ib = min(ia, ib), max(ia, ib)
                    j = len(ga & gb) / len(ga | gb)
                    if j >= 0.5:
                        want[(ia, ib)] = j
        assert set(got) == set(want)
        assert set(got_prefix) == set(want), "prefix route lost/added pairs"
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9
            assert abs(got_prefix[k] - want[k]) < 1e-9

    def test_ngram_barrier_keeps_one_intersect_pass_per_route(
        self, spark, monkeypatch
    ):
        # the direct route scores each block in ONE grouped-map Python call
        # (one FlatMapGroupsInPandas, no intersect UDF, no barrier). The
        # PPJoin route keeps its barrier: without it Catalyst pushes the
        # jaccard threshold filter below the scoring projection, and the
        # intersect pandas UDF then plans twice — one ArrowEvalPython under
        # the Filter, one above it for the projection — a second
        # Python-worker pass over every candidate pair
        from datacompy_spark import scope
        from datacompy_spark.operators import dedup as D
        from datacompy_spark.plans import barrier as B

        # blocks of 30 and 10 documents
        rows = [
            (i, f"the quick brown fox {i % 5} jumps over {i % 3}", int(i >= 30))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, blk int")

        def count(qe, node):
            return qe.optimizedPlan().toString().count(node)

        def n_intersect(qe):
            return count(qe, "ArrowEvalPython [_sorted_intersect_batch")

        def pairs(cap):
            return D.ngram_jaccard_pairs(
                df, "doc_id", "text", "blk", threshold=0.5, direct_block_cap=cap
            )

        with scope():
            monkeypatch.setattr(B, "PLAN_AUDIT_SINK", [])
            direct = pairs(1000)  # every block under the cap: direct only
            assert B.PLAN_AUDIT_SINK == [], "direct route planted a barrier"
            qe = direct._jdf.queryExecution()
            assert count(qe, "FlatMapGroupsInPandas") == 1
            assert n_intersect(qe) == 0
            # cap 10: both routes, unioned; the PPJoin one behind its barrier
            # (a route with no block to score is not planned at all)
            out = pairs(10)
            (fenced,) = B.PLAN_AUDIT_SINK
            monkeypatch.setattr(B, "PLAN_AUDIT_SINK", None)
            assert n_intersect(fenced) == 1
            assert n_intersect(out._jdf.queryExecution()) == 0
            assert count(out._jdf.queryExecution(), "FlatMapGroupsInPandas") == 1
            monkeypatch.setattr(D, "lineage_barrier", lambda d, *a, **k: d)
            unfenced = pairs(10)
            monkeypatch.undo()
            assert n_intersect(unfenced._jdf.queryExecution()) == 2

    def test_ngram_direct_route_jobs(self, spark, sf_dir):
        # dedup_ngram_jaccard (every block under the cap): the build runs
        # the routing probe and nothing else eager — no gram-base populate,
        # no barrier — and the action is the grouped-map pass
        from datacompy_spark import scope
        from datacompy_spark.queries import QUERIES

        built = {}
        with scope():
            build = jobs(
                spark,
                lambda: built.setdefault(
                    "df", QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
                ),
            )
            action = jobs(spark, lambda: built["df"].collect())
        assert build <= 4, f"build ran {build} jobs"
        assert action <= 2, f"action ran {action} jobs"

    def test_ngram_candidates_pruned_within_block(self, spark):
        # 120 documents share ONE block but have pairwise-disjoint gram sets:
        # the prefix-filter join must emit ZERO candidates where a naive
        # within-block join would score C(120,2) = 7140 pairs
        import itertools

        codes = list(itertools.combinations("abcdefghijklmnopqrstuvwxyz", 2))[:120]
        rows = [(i, "".join(c) * 10, "all") for i, c in enumerate(codes)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string, block string")

        from datacompy_spark.operators.dedup import (
            _ngram_base,
            _prefix_filter_candidates,
        )

        base = _ngram_base(df, "doc_id", "text", "block", 3)
        assert _prefix_filter_candidates(base, 0.5).count() == 0

    def test_minhash_identical_docs_collapse(self, spark):
        # 300 identical documents: LSH candidate generation must see ONE
        # representative (not 300 rows sharing every band bucket → 44850
        # bucket-join candidates), while the output still contains every
        # member pair at Jaccard exactly 1.0
        from datacompy_spark.operators.dedup import (
            collapse_exact_content,
            minhash_lsh_pairs,
        )

        text = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, text) for i in range(300)]
        rows.append((900, "completely unrelated content about spark engines"))
        rows.append((901, "another disjoint document regarding query planning"))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")

        _, reps = collapse_exact_content(df, "doc_id", "text")
        assert reps.count() == 3  # one per distinct content

        out = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
        assert len(out) == 300 * 299 // 2
        assert all(r["jaccard"] == 1.0 for r in out)
        assert all(r["id_a"] < r["id_b"] < 900 for r in out)

    def test_simhash_identical_docs_collapse(self, spark):
        # same guard as minhash: banding must see ONE representative for a
        # pile of identical documents, while output keeps every member pair
        from datacompy_spark.operators.dedup import simhash_near_dups

        text = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, text) for i in range(200)]
        rows.append((900, "entirely different content about query planning"))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = simhash_near_dups(df, "doc_id", "text", max_hamming=3).collect()
        assert len(out) == 200 * 199 // 2
        assert all(r["hamming"] == 0 for r in out)
        assert all(r["id_a"] < r["id_b"] < 900 for r in out)

    def test_embedding_projection_bucketing_exact(self, spark):
        # the quantized-projection sub-bucketing must not lose any pair the
        # naive per-block all-pairs scan would emit (Cauchy-Schwarz recall
        # guarantee), including pairs straddling a bucket boundary
        import math

        def vec(seed, dim=16):
            return [math.sin(seed * (i + 1)) for i in range(dim)]

        rows = []
        for i in range(40):
            v = vec(float(i + 1))
            rows.append((i, v, 0))
            # planted near-dup: tiny perturbation → cosine just under 1
            rows.append((100 + i, [x + 0.001 * math.cos(i * (j + 1)) for j, x in enumerate(v)], 0))
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")

        from datacompy_spark.operators.dedup import embedding_near_dups

        got = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in embedding_near_dups(emb, "vec_id", "embedding", "label", 0.8).collect()
        }
        got_m2 = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in embedding_near_dups(
                emb, "vec_id", "embedding", "label", 0.8, n_projections=2
            ).collect()
        }

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        want = {}
        for x in range(len(rows)):
            for y in range(x + 1, len(rows)):
                (ia, va, _), (ib, vb, _) = rows[x], rows[y]
                ia, ib = min(ia, ib), max(ia, ib)
                c = cos(va, vb)
                if c >= 0.8:
                    want[(ia, ib)] = c
        assert set(got) == set(want)
        assert set(got_m2) == set(want), "multi-projection bucketing lost pairs"
        for k in want:
            assert abs(got[k] - want[k]) < 1e-6
            assert abs(got_m2[k] - want[k]) < 1e-6


class TestFanOutTopology:
    def test_fan_out_noop_when_already_parallel(self, spark):
        from datacompy_spark.plans.partitioning import fan_out

        target = spark.sparkContext.defaultParallelism
        df = spark.range(0, 10_000, 1, numPartitions=target + 4)
        assert fan_out(df) is df  # no exchange inserted

    def test_fan_out_spreads_single_partition(self, spark):
        from datacompy_spark.plans.partitioning import fan_out

        df = spark.range(0, 1000, 1, numPartitions=1)
        out = fan_out(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert out.count() == 1000

    def test_decontaminate_broadcasts_eval_side(self, spark, sf_dir):
        import datacompy_spark.operators.textops as TO
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ev = docs.filter(F.col("doc_id") % 50 == 0)
        tr = docs.filter(F.col("doc_id") % 50 != 0)
        p = plan_of(TO.decontaminate(tr, "doc_id", "text", ev, k=5))
        assert "BroadcastExchange" in p, "eval shingle set must broadcast"
        # exactly one shingle-keyed exchange: the eval side's own distinct.
        # a second one would mean the CORPUS side is being shuffled for the
        # join (sort-merge) instead of streaming through the broadcast hash
        assert p.count("hashpartitioning(sh") == 1


class TestSkewSaltedJoin:
    def test_equals_plain_join_on_skewed_keys(self, spark):
        from pyspark.sql import functions as F

        from datacompy_spark.plans.partitioning import skew_salted_join

        # one hot key (0) carrying 5k rows, plus a long tail
        left = spark.range(0, 6000).select(
            F.when(F.col("id") < 5000, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        plain = left.join(right, "k").select("k", "v", "w")
        salted = skew_salted_join(left, right, "k", salt=4).select("k", "v", "w")
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # join key includes the salt → hot key spread over `salt` reducers
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan

    def test_left_join_and_bad_how(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from datacompy_spark.plans.partitioning import skew_salted_join

        left = spark.range(0, 10).select(F.col("id").alias("k"))
        right = spark.range(0, 5).select(F.col("id").alias("k"), F.lit(1).alias("w"))
        out = skew_salted_join(left, right, "k", salt=3, how="left")
        assert out.count() == 10  # unmatched left rows survive exactly once
        assert out.filter(F.col("w").isNull()).count() == 5
        with _pytest.raises(ValueError):
            skew_salted_join(left, right, "k", how="full_outer")


class TestStarSchemaRollup:
    def test_dims_broadcast_fact_never_shuffles_for_joins(self, spark):
        """sales_by_nation must plan all three dimension joins as broadcast
        (the fact table's only Exchange is the final small-key agg)."""
        from datacompy_spark.queries_pipeline import q_sales_by_nation

        plan = (
            q_sales_by_nation(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("BroadcastHashJoin") == 3
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestJoinCardinalityPlan:
    def test_total_branch_reuses_count_exchanges(self, spark, lineitem, orders):
        """join_cardinality references the per-key `pairs` subtree twice
        (top-k branch + total aggregate). The expensive parts — the two
        groupBy count shuffles — must be planned once and reused, so the
        agg+crossJoin total costs only a cheap count-frame join replay
        (the alternative, an unpartitioned window over every distinct key,
        is a scale-killer)."""
        import contextlib
        import io

        from datacompy_spark.operators.analytics import join_cardinality

        right = orders.withColumnRenamed("o_orderkey", "l_orderkey")
        jc = join_cardinality(lineitem, right, ["l_orderkey"], top_k=5)
        jc.collect()  # AQE only materializes ReusedExchange in the final plan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            jc.explain("formatted")
        plan = buf.getvalue()
        assert plan.count("ReusedExchange") >= 2, plan


class TestLedgerTopology:
    def test_ledger_probe_broadcasts_batch_not_ledger(self, spark):
        """The incremental-dedup ledger claim: the persistent hash table is
        only ever SCANNED — the batch's distinct hashes broadcast against
        it, so no Exchange ever sits above the ledger scan and no
        BroadcastExchange ever wraps the ledger side."""
        from datacompy_spark.operators.dedup import incremental_dedup_with_ledger

        spark.sql("DROP TABLE IF EXISTS plan_ledger_t")
        try:
            seed = spark.createDataFrame(
                [(i, f"ledger doc number {i}") for i in range(20)],
                "doc_id bigint, text string",
            )
            incremental_dedup_with_ledger(
                spark, seed, "plan_ledger_t", "doc_id", "text", num_buckets=4
            )
            batch = spark.createDataFrame(
                [(100, "ledger doc number 3"), (101, "a new one")],
                "doc_id bigint, text string",
            )
            out = incremental_dedup_with_ledger(
                spark, batch, "plan_ledger_t", "doc_id", "text",
                update_ledger=False,
            )
            p = plan_of(out)
            # the ledger scan appears exactly once, as a plain file scan
            assert p.count("plan_ledger_t") >= 1
            for line in p.splitlines():
                if "plan_ledger_t" in line and "Scan" in line:
                    break
            else:
                raise AssertionError(f"no ledger scan found:\n{p[:800]}")
            # every join in the probe is broadcast with the BATCH side
            # built: a SortMergeJoin would mean the ledger shuffled
            assert "SortMergeJoin" not in p, p
            assert "BroadcastHashJoin" in p, p
        finally:
            spark.sql("DROP TABLE IF EXISTS plan_ledger_t")


class TestPlanAuditBarrierVisibility:
    """tools/plan_audit.py must see work UPSTREAM of lineage barriers:
    localCheckpoint truncates the visible plan, so without the
    PLAN_AUDIT_SINK hook a shuffle regression before a barrier would be
    invisible to the audit (VERDICT r8 finding)."""

    @staticmethod
    def _load_audit_module():
        import importlib.util
        from pathlib import Path

        path = Path(__file__).resolve().parent.parent / "tools" / "plan_audit.py"
        spec = importlib.util.spec_from_file_location("plan_audit", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_pre_barrier_shuffle_is_counted(self, spark):
        from datacompy_spark.plans import barrier as B

        audit = self._load_audit_module()
        B.PLAN_AUDIT_SINK = sink = []
        try:
            pre = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
            barred = B.lineage_barrier(pre, eager=True)
            out = barred.agg(F.sum("count").alias("s"))
        finally:
            B.PLAN_AUDIT_SINK = None
        assert len(sink) == 1  # the barrier recorded its pre-truncation plan

        seen = set()
        post = audit._counts(out._jdf.queryExecution(), seen)
        frag = audit._counts(sink[0], seen)
        # the groupBy shuffle lives ONLY in the fragment: the post-barrier
        # plan reads the checkpointed RDD and cannot show it
        assert frag["exchanges"] >= 1, frag
        total = {k: post[k] + frag[k] for k in post}
        assert total["exchanges"] > post["exchanges"]

    def test_sink_is_off_outside_audits(self, spark):
        from datacompy_spark.plans import barrier as B

        assert B.PLAN_AUDIT_SINK is None
        df = B.lineage_barrier(spark.range(10), eager=True)
        assert df.count() == 10

    def test_cached_build_counted_once_across_fragments(self, spark):
        """A persisted frame shared by several barrier fragments contributes
        its build plan ONCE to the query total, not once per reader."""
        from datacompy_spark.plans import barrier as B

        audit = self._load_audit_module()
        shared = (
            spark.range(500)
            .groupBy((F.col("id") % 5).alias("k"))
            .count()
            .persist()
        )
        shared.count()
        B.PLAN_AUDIT_SINK = sink = []
        try:
            a = B.lineage_barrier(
                shared.filter(F.col("k") < 3), eager=True
            )
            b = B.lineage_barrier(
                shared.filter(F.col("k") >= 3), eager=True
            )
            a.count(), b.count()
        finally:
            B.PLAN_AUDIT_SINK = None
            shared.unpersist()
        assert len(sink) == 2
        seen = set()
        totals = [audit._counts(qe, seen) for qe in sink]
        # first fragment pays the cached groupBy build (1 exchange), the
        # second sees the cache boundary and adds nothing for it
        assert totals[0]["exchanges"] >= 1
        assert totals[1]["exchanges"] == 0


class TestPlanFingerprint:
    """The plan-shape fingerprint gate (r12 verdict item 7): without
    --write, tools/plan_audit.py fails when any query's operator-tree
    shape drifted from the committed PLANS.md. These pin the pieces the
    gate stands on: same plan -> same digest across separate builds,
    different shape -> different digest, and the PLANS.md round-trip."""

    @staticmethod
    def _load_audit_module():
        import importlib.util
        from pathlib import Path

        path = Path(__file__).resolve().parent.parent / "tools" / "plan_audit.py"
        spec = importlib.util.spec_from_file_location("plan_audit", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_fingerprint_stable_and_shape_sensitive(self, spark):
        audit = self._load_audit_module()

        def build():
            return (
                spark.range(1000)
                .groupBy((F.col("id") % 7).alias("k"))
                .count()
            )

        fp1 = audit._fingerprint([build()._jdf.queryExecution()])
        fp2 = audit._fingerprint([build()._jdf.queryExecution()])
        assert fp1 == fp2 and len(fp1) == 10
        # a changed LITERAL keeps the shape (no ids/values in the digest)
        same_shape = (
            spark.range(1000).groupBy((F.col("id") % 13).alias("k")).count()
        )
        assert audit._fingerprint([same_shape._jdf.queryExecution()]) == fp1
        # an added exchange changes it
        wider = build().orderBy("k")
        assert audit._fingerprint([wider._jdf.queryExecution()]) != fp1

    def test_join_type_and_smj_side_order_in_fingerprint(self, spark):
        """r13 review finding: hashing only the node class name (with
        children sorted for ALL joins) made (a) an inner→left_outer flip
        on the same physical strategy and (b) a deliberate stream/build
        side swap in a sort-merge join fingerprint-identical. Join labels
        now fold in the join type, and only the stats-driven HASH joins
        (BHJ/SHJ — where Catalyst's build-side pick is genuinely
        nondeterministic) keep unordered children."""
        audit = self._load_audit_module()

        def fp(df):
            return audit._fingerprint([df._jdf.queryExecution()])

        left = spark.range(1000).withColumnRenamed("id", "k")
        right = spark.range(500).withColumnRenamed("id", "k")

        # (a) join-TYPE change, same strategy → different fingerprint
        smj_inner = left.join(right.hint("merge"), "k", "inner")
        smj_left = left.join(right.hint("merge"), "k", "left")
        assert fp(smj_inner) != fp(smj_left)
        bhj_inner = left.join(right.hint("broadcast"), "k", "inner")
        bhj_left = left.join(right.hint("broadcast"), "k", "left")
        assert fp(bhj_inner) != fp(bhj_left)

        # (b) SMJ side swap → different fingerprint (children ordered).
        # One side carries an Aggregate so the two children have distinct
        # shapes — a swap of identical shapes is invisible by definition
        # (a Filter won't do: InferFiltersFromConstraints copies an
        # equi-join-key predicate onto BOTH sides, re-symmetrizing them).
        narrowed = left.groupBy("k").agg(F.count(F.lit(1)).alias("c")).drop("c")
        ab = narrowed.join(right.hint("merge"), "k", "inner")
        ba = right.join(narrowed.hint("merge"), "k", "inner")
        assert fp(ab) != fp(ba)

        # (c) BHJ build-side swap stays TRANSPARENT (stats-driven, benign)
        bhj_ab = narrowed.join(right.hint("broadcast"), "k", "inner")
        bhj_ba = right.hint("broadcast").join(narrowed, "k", "inner")
        assert fp(bhj_ab) == fp(bhj_ba)

    def test_fingerprints_roundtrip_through_plans_md(self, tmp_path):
        audit = self._load_audit_module()
        rows = [
            {"query": "q_a", "exchanges": 2, "broadcasts": 0, "smj": 1,
             "bhj": 0, "nlj": 0, "scans": 2, "python": 0, "barriers": 0,
             "fingerprint": "0123456789", "error": None},
            {"query": "q_err", "error": "Boom: nope"},
            {"query": "q_b", "exchanges": 0, "broadcasts": 1, "smj": 0,
             "bhj": 1, "nlj": 0, "scans": 1, "python": 1, "barriers": 2,
             "fingerprint": "abcdef0123", "error": None},
        ]
        path = tmp_path / "PLANS.md"
        path.write_text(audit.render(rows, "/tmp/sfX"))
        got = audit.read_fingerprints(str(path))
        # error rows carry no fingerprint; good rows round-trip exactly
        assert got == {"q_a": "0123456789", "q_b": "abcdef0123"}
        # missing file / pre-fingerprint file degrade to empty (gate off)
        assert audit.read_fingerprints(str(tmp_path / "nope.md")) == {}

    def test_committed_plans_md_carries_fingerprints(self):
        """Live guarantee: the committed PLANS.md has a fingerprint for
        every registry query, so the verify_all gate is armed."""
        import os

        from datacompy_spark.queries import QUERIES

        audit = self._load_audit_module()
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        fps = audit.read_fingerprints(os.path.join(here, "PLANS.md"))
        missing = sorted(set(QUERIES) - set(fps))
        assert not missing, f"PLANS.md lacks fingerprints for {missing}"
