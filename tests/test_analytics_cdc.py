"""Tests for the round-5 analytics/CDC extension operators:
snapshot CDC (+ round-trip replay property), top-k per group, cohort
retention, histogram drift, TF-IDF top terms."""

import pytest
from pyspark.sql import Row, functions as F

from datacompy_spark.operators.analytics import (
    drift_scores,
    histogram_drift,
    retention_cohorts,
    top_k_per_group,
)
from datacompy_spark.operators.cdc import apply_changes, cdc_summary, snapshot_cdc
from datacompy_spark.operators.textops import tfidf_top_terms
from conftest import shuffle_partitions


@pytest.fixture(scope="module")
def snapshots(spark):
    old = spark.createDataFrame(
        [
            Row(k=1, a="x", b=10.0),
            Row(k=2, a="y", b=20.0),
            Row(k=3, a="z", b=30.0),
            Row(k=None, a="n", b=0.0),  # NULL key must pair null-safely
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, a="x", b=10.0),       # unchanged
            Row(k=2, a="y2", b=20.0),      # update: a
            Row(k=None, a="n", b=99.0),    # update on NULL key: b
            Row(k=4, a="w", b=40.0),       # insert
            # k=3 deleted
        ]
    )
    return old, new


class TestSnapshotCDC:
    def test_classification_and_changed_cols(self, spark, snapshots):
        old, new = snapshots
        feed = {r["k"]: r for r in snapshot_cdc(old, new, ["k"]).collect()}
        assert set(feed) == {2, 3, 4, None}
        assert feed[2]["change_type"] == "update"
        assert feed[2]["changed_cols"] == ["a"]
        assert feed[2]["a_old"] == "y" and feed[2]["a_new"] == "y2"
        assert feed[3]["change_type"] == "delete" and feed[3]["changed_cols"] == []
        assert feed[4]["change_type"] == "insert"
        assert feed[None]["change_type"] == "update"
        assert feed[None]["changed_cols"] == ["b"]

    def test_include_unchanged(self, spark, snapshots):
        old, new = snapshots
        feed = snapshot_cdc(old, new, ["k"], include_unchanged=True)
        kinds = dict(
            feed.groupBy("change_type").count().collect()
        )
        assert kinds == {"insert": 1, "delete": 1, "update": 2, "unchanged": 1}

    def test_round_trip_replay(self, spark, snapshots):
        """apply_changes(old, cdc(old,new)) must reproduce new exactly."""
        old, new = snapshots
        feed = snapshot_cdc(old, new, ["k"])
        rebuilt = apply_changes(old, feed, ["k"], ["a", "b"])
        def canon(df):
            return sorted(map(tuple, df.select("k", "a", "b").collect()),
                          key=lambda t: (t[0] is None, t))
        assert canon(rebuilt) == canon(new)

    def test_summary(self, spark, snapshots):
        old, new = snapshots
        s = dict(
            cdc_summary(snapshot_cdc(old, new, ["k"])).collect()
        )
        assert s["insert"] == 1 and s["delete"] == 1 and s["update"] == 2
        assert s["updated:a"] == 1 and s["updated:b"] == 1

    def test_derived_snapshot_same_lineage(self, spark):
        """new derived from old (shared scan lineage) must not trip Spark's
        ambiguous-self-join check — the everyday usage shape."""
        old = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        new = old.filter(F.col("k") % 10 != 0).withColumn(
            "v", F.when(F.col("k") % 3 == 0, F.col("v") + 1).otherwise(F.col("v"))
        )
        feed = snapshot_cdc(old, new, ["k"])
        kinds = dict(feed.groupBy("change_type").count().collect())
        assert kinds["delete"] == 10
        # updates = |{k in 0..99 : k%10!=0 and k%3==0}|
        want_updates = sum(1 for k in range(100) if k % 10 != 0 and k % 3 == 0)
        assert kinds["update"] == want_updates
        # round trip still holds on shared lineage
        rebuilt = apply_changes(old, feed, ["k"], ["v"])
        assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))

    def test_single_shuffle_plan(self, spark, snapshots):
        """The CDC join must be ONE join (no per-column re-joins)."""
        old, new = snapshots
        plan = snapshot_cdc(old, new, ["k"])._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1


class TestScd2:
    def test_two_version_history(self, spark, snapshots):
        from datacompy_spark.operators.cdc import scd2_build

        old, new = snapshots
        hist = scd2_build([(1, old), (2, new)], ["k"]).collect()
        spans = {}
        for r in hist:
            spans.setdefault(r["k"], []).append(
                (r["a"], r["b"], r["valid_from"], r["valid_to"], r["is_current"])
            )
        for v in spans.values():
            v.sort(key=lambda t: (t[2], t[3] is None, t[3] or 0))
        # unchanged key: one span, still open from v1
        assert spans[1] == [("x", 10.0, 1, None, True)]
        # updated key: v1 span closed at 2, new open span at 2
        assert spans[2] == [("y", 20.0, 1, 2, False), ("y2", 20.0, 2, None, True)]
        # deleted key: span closed at 2, nothing open
        assert spans[3] == [("z", 30.0, 1, 2, False)]
        # inserted key: opens at 2
        assert spans[4] == [("w", 40.0, 2, None, True)]
        # NULL key pairs null-safely: b updated -> close + reopen
        assert spans[None] == [("n", 0.0, 1, 2, False), ("n", 99.0, 2, None, True)]

    def test_third_merge_touches_only_current_slice(self, spark, snapshots):
        from pyspark.sql import Row

        from datacompy_spark.operators.cdc import scd2_build, scd2_merge

        old, new = snapshots
        h2 = scd2_build([(1, old), (2, new)], ["k"])
        v3 = spark.createDataFrame(
            [
                Row(k=1, a="x", b=10.0),    # still unchanged
                Row(k=2, a="y3", b=20.0),   # second update
                Row(k=4, a="w", b=40.0),    # unchanged
                Row(k=None, a="n", b=99.0), # unchanged
            ]
        )
        h3 = scd2_merge(h2, v3, ["k"], 3)
        rows = {(r["k"], r["valid_from"]): r for r in h3.collect()}
        # the v1 closed span for k=2 is untouched
        assert rows[(2, 1)]["valid_to"] == 2 and not rows[(2, 1)]["is_current"]
        # the v2 span closed at 3; a v3 span opened
        assert rows[(2, 2)]["valid_to"] == 3 and not rows[(2, 2)]["is_current"]
        assert rows[(2, 3)]["a"] == "y3" and rows[(2, 3)]["is_current"]
        # exactly one open span per surviving key
        open_keys = sorted(
            (r["k"] for r in h3.collect() if r["is_current"]),
            key=lambda x: (x is None, x),
        )
        assert open_keys == [1, 2, 4, None]

    def test_current_slice_reproduces_snapshot(self, spark, snapshots):
        from datacompy_spark.operators.cdc import scd2_build

        old, new = snapshots
        cur = (
            scd2_build([(1, old), (2, new)], ["k"])
            .filter("is_current")
            .select("k", "a", "b")
        )
        got = {tuple(r) for r in cur.collect()}
        want = {tuple(r) for r in new.select("k", "a", "b").collect()}
        assert got == want

    def test_build_requires_snapshots(self, spark):
        import pytest as _pytest

        from datacompy_spark.operators.cdc import scd2_build

        with _pytest.raises(ValueError):
            scd2_build([], ["k"])


class TestTopKPerGroup:
    def test_basic_and_ties(self, spark):
        df = spark.createDataFrame(
            [Row(g=1, v=5, t="b"), Row(g=1, v=5, t="a"), Row(g=1, v=3, t="c"),
             Row(g=2, v=9, t="z")]
        )
        out = top_k_per_group(df, ["g"], "v", k=2, tiebreak=["t"]).collect()
        got = {(r["g"], r["rank"]): (r["v"], r["t"]) for r in out}
        # tie on v=5 broken by t ascending
        assert got[(1, 1)] == (5, "a") and got[(1, 2)] == (5, "b")
        assert got[(2, 1)] == (9, "z") and len(out) == 3

    def test_group_limit_pushdown(self, spark, lineitem):
        """Spark should push the rank filter into the sort (WindowGroupLimit)
        so no group fully materializes — the O(k)-per-group contract."""
        agg = lineitem.groupBy("l_suppkey", "l_partkey").agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("q")
        )
        out = top_k_per_group(agg, ["l_suppkey"], "q", k=3, tiebreak=["l_partkey"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan


class TestRetention:
    def test_synthetic_cohorts(self, spark):
        import datetime as dt

        def ts(day):
            return dt.datetime(2024, 1, day, 12, 0, 0)

        ev = spark.createDataFrame(
            [
                Row(user_id=1, ts=ts(1)), Row(user_id=1, ts=ts(8)),   # wk0, wk1
                Row(user_id=2, ts=ts(1)), Row(user_id=2, ts=ts(2)),   # wk0 twice
                Row(user_id=3, ts=ts(8)),                             # later cohort
            ]
        )
        out = retention_cohorts(ev, "user_id", "ts")
        got = {(r["cohort_period"] , r["period_offset"]): r["n_users"] for r in out.collect()}
        cohorts = sorted({c for c, _ in got})
        c0, c1 = cohorts[0], cohorts[-1]
        assert got[(c0, 0)] == 2        # users 1,2 in their first week
        assert got[(c0, 1)] == 1        # user 1 returned
        assert got[(c1, 0)] == 1        # user 3's own cohort
        # distinct counting: user 2's two wk-0 events count once
        assert sum(got.values()) == 4


class TestHistogramDrift:
    def test_bins_and_scores(self, spark):
        old = spark.range(0, 100).select(F.col("id").cast("double").alias("x"))
        new = spark.range(0, 100).select((F.col("id").cast("double") + 50).alias("x"))
        hist = histogram_drift(old, new, "x", lo=0.0, hi=100.0, bins=10)
        rows = {r["bin"]: r for r in hist.collect()}
        assert rows[0]["n_old"] == 10 and rows[0]["n_new"] == 0
        assert rows[10]["n_new"] == 50  # overflow bin catches x >= hi
        assert abs(rows[0]["p_old"] - 0.1) < 1e-12
        scores = drift_scores(hist).collect()[0]
        assert abs(scores["tv_distance"] - 0.5) < 1e-12  # half the mass moved
        assert scores["psi"] > 0

    def test_identical_snapshots_zero_drift(self, spark):
        df = spark.range(0, 1000).select(F.col("id").cast("double").alias("x"))
        s = drift_scores(histogram_drift(df, df, "x", 0.0, 1000.0, 10)).collect()[0]
        assert s["tv_distance"] == 0.0
        assert abs(s["psi"]) < 1e-9

    def test_two_scans_only(self, spark, lineitem):
        """Each snapshot is scanned exactly once (no data-derived edges pass)."""
        hist = histogram_drift(lineitem, lineitem, "l_quantity", 0.0, 50.0, 10)
        plan = hist._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 2

    def test_null_bin_merges_null_safely(self, spark):
        """NULLs form ONE shared bin across snapshots (null-safe join), so
        null mass contributes |p_old-p_new|/2 once — not one |p|/2 term per
        side — matching the DuckDB twin's IS NOT DISTINCT FROM join."""
        old = spark.createDataFrame([(None,), (None,), (1.0,), (2.0,)], "x double")
        new = spark.createDataFrame([(None,), (1.0,), (2.0,), (3.0,)], "x double")
        rows = histogram_drift(old, new, "x", 0.0, 10.0, 10).collect()
        null_rows = [r for r in rows if r["bin"] is None]
        assert len(null_rows) == 1
        nb = null_rows[0]
        assert nb["n_old"] == 2 and nb["n_new"] == 1
        assert nb["lo_edge"] is None and nb["hi_edge"] is None
        assert nb["tv_term"] == pytest.approx(abs(2 / 4 - 1 / 4) / 2)
        # identical null mass on both sides -> zero drift contribution
        s = drift_scores(histogram_drift(old, old, "x", 0.0, 10.0, 10)).collect()[0]
        assert s["tv_distance"] == 0.0 and abs(s["psi"]) < 1e-9

    def test_null_bin_one_sided(self, spark):
        """NULLs in only one snapshot still produce a single merged row
        with a zero count on the other side."""
        old = spark.createDataFrame([(None,), (1.0,)], "x double")
        new = spark.createDataFrame([(1.0,), (2.0,)], "x double")
        rows = histogram_drift(old, new, "x", 0.0, 10.0, 10).collect()
        null_rows = [r for r in rows if r["bin"] is None]
        assert len(null_rows) == 1
        assert null_rows[0]["n_old"] == 1 and null_rows[0]["n_new"] == 0
        assert null_rows[0]["tv_term"] == pytest.approx(0.5 / 2)


class TestTfidf:
    def test_scores_and_ranking(self, spark):
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, text="apple apple banana common"),
                Row(doc_id=2, text="banana cherry common"),
                Row(doc_id=3, text="common cherry"),
            ]
        )
        out = tfidf_top_terms(docs, "doc_id", "text", k=2)
        by_doc = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
        top1 = {d: sorted(v)[0][1] for d, v in by_doc.items()}
        # doc 1: apple tf=2 df=1 → score 6; doc 3's rarest is cherry (df 2)
        assert top1[1] == "apple"
        r1 = [x for x in by_doc[1] if x[1] == "apple"][0]
        assert r1[2] == pytest.approx(2 * 3 / 1)
        # 'common' (df=3, idf ratio 1) never beats a rarer same-tf term
        assert top1[2] == "banana" and top1[3] == "cherry"
        assert all(len(v) <= 2 for v in by_doc.values())


class TestChunkDocuments:
    def test_overlap_and_coverage(self, spark):
        from datacompy_spark.operators.textops import chunk_documents

        text = " ".join(f"w{i}" for i in range(10))
        docs = spark.createDataFrame([Row(doc_id=1, text=text),
                                      Row(doc_id=2, text="short doc")])
        out = chunk_documents(docs, "doc_id", "text", window=4, stride=3)
        rows = sorted(
            (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
            for r in out.collect()
        )
        # doc 1: 10 tokens, window 4 stride 3 → ceil((10-4)/3)+1 = 3 chunks
        d1 = [r for r in rows if r[0] == 1]
        assert [r[1] for r in d1] == [0, 1, 2]
        assert d1[0][3] == "w0 w1 w2 w3"
        assert d1[1][3] == "w3 w4 w5 w6"          # overlap of window-stride=1
        assert d1[2][3] == "w6 w7 w8 w9"
        # short doc → exactly one whole-doc chunk
        d2 = [r for r in rows if r[0] == 2]
        assert d2 == [(2, 0, 2, "short doc")]
        # every token position is covered by some chunk
        covered = set()
        for _, cid, _, txt in d1:
            covered.update(txt.split())
        assert len(covered) == 10

    def test_no_shuffle_plan(self, spark):
        from datacompy_spark.operators.textops import chunk_documents

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            chunk_documents(docs, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # chunking is embarrassingly parallel: no hash shuffle (the only
        # allowed Exchange is fan_out's deliberate round-robin fan-out of a
        # sub-parallel scan, which disappears at real scale)
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" not in plan and "HashAggregate" not in plan

    def test_bad_params_rejected(self, spark):
        import pytest as _pytest

        from datacompy_spark.operators.textops import chunk_documents

        docs = spark.createDataFrame([Row(doc_id=1, text="a b")])
        with _pytest.raises(ValueError):
            chunk_documents(docs, "doc_id", "text", window=0)
        with _pytest.raises(ValueError):
            chunk_documents(docs, "doc_id", "text", stride=0)


class TestQuantizeEmbeddings:
    def test_codes_and_dequant_error(self, spark):
        from datacompy_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[1.0, -0.5, 0.25]),
                Row(vec_id=2, embedding=[0.0, 0.0, 0.0]),   # zero vector
            ],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in
               quantize_embeddings(df, "vec_id", "embedding").collect()}
        r1 = out[1]
        assert r1["scale"] == pytest.approx(127.0)
        assert r1["qvec"] == [127, -63, 32]       # floor(x*127+0.5)
        # zero vector: scale 0, all-zero code (no division by zero)
        assert out[2]["scale"] == 0.0 and out[2]["qvec"] == [0, 0, 0]
        # dequantization error bounded by half a quantization step
        deq = [q / r1["scale"] for q in r1["qvec"]]
        for x, y in zip([1.0, -0.5, 0.25], deq):
            assert abs(x - y) <= 0.5 / r1["scale"] + 1e-12

    def test_no_shuffle(self, spark):
        from datacompy_spark.operators.similarity import quantize_embeddings

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            quantize_embeddings(emb, "vec_id", "embedding")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestCdcSchemaEvolutionAndBuckets:
    def test_default_cols_intersect_on_schema_change(self, spark):
        """A column added in new (or dropped from old) must not break the
        diff — default compare set is the intersection."""
        old = spark.createDataFrame([Row(k=1, a="x", gone="g")])
        new = spark.createDataFrame([Row(k=1, a="y", added=7)])
        feed = snapshot_cdc(old, new, ["k"]).collect()
        assert len(feed) == 1
        r = feed[0]
        assert r["change_type"] == "update" and r["changed_cols"] == ["a"]
        assert "gone_old" not in r.asDict() and "added_new" not in r.asDict()

    def test_bucketed_snapshots_diff_with_zero_exchange(self, spark, tmp_path):
        """null_safe=False + both snapshots bucket-sorted on the key ⇒ the
        CDC full-outer sort-merge join plans with no Exchange at all — the
        recurring nightly-diff fast path."""
        from pyspark.sql import functions as F

        from datacompy_spark.sources.loaders import write_bucketed

        base = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
        )
        write_bucketed(base, "cdc_old", ["k"], num_buckets=4)
        write_bucketed(
            base.filter(F.col("k") % 10 != 0), "cdc_new", ["k"], num_buckets=4
        )
        try:
            feed = snapshot_cdc(
                spark.table("cdc_old"), spark.table("cdc_new"), ["k"],
                null_safe=False,
            )
            plan = feed._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            kinds = dict(
                feed.groupBy("change_type").count().collect()
            )
            assert kinds == {"delete": 100}
        finally:
            spark.sql("DROP TABLE IF EXISTS cdc_old")
            spark.sql("DROP TABLE IF EXISTS cdc_new")


class TestMissingPeriods:
    def test_detects_planted_gaps(self, spark):
        import datetime as dt

        from datacompy_spark.operators.analytics import missing_periods

        base = dt.datetime(2024, 1, 1)
        rows = [
            Row(k="a", ts=base + dt.timedelta(hours=h))
            for h in [0, 1, 2, 5, 6]          # gap: hours 3, 4
        ] + [Row(k="b", ts=base + dt.timedelta(hours=h)) for h in [10, 12]]  # gap: 11
        ev = spark.createDataFrame(rows)
        out = missing_periods(ev, ["k"], "ts", period_seconds=3600)
        got = sorted((r["k"], r["period_start"].hour) for r in out.collect())
        assert got == [("a", 3), ("a", 4), ("b", 11)]

    def test_negative_epoch_floors_toward_minus_inf(self, spark):
        """Pre-1970 timestamps must floor (round toward -inf) into periods,
        matching retention_cohorts and the SQL twin — a truncating cast
        would shift every negative-epoch event one period late."""
        import datetime as dt

        from datacompy_spark.operators.analytics import missing_periods

        ev = spark.createDataFrame(
            [
                Row(k="a", ts=dt.datetime(1969, 12, 31, 21, 30)),  # period -3
                Row(k="a", ts=dt.datetime(1969, 12, 31, 23, 30)),  # period -1
            ]
        )
        out = missing_periods(ev, ["k"], "ts", period_seconds=3600).collect()
        assert [(r["k"], r["period"]) for r in out] == [("a", -2)]
        assert out[0]["period_start"] == dt.datetime(1969, 12, 31, 22, 0)

    def test_outlier_guard(self, spark):
        import datetime as dt

        import pytest as _pytest

        from datacompy_spark.operators.analytics import missing_periods

        ev = spark.createDataFrame(
            [
                Row(k="a", ts=dt.datetime(1970, 1, 2)),   # corrupt epoch-era row
                Row(k="a", ts=dt.datetime(2024, 1, 1)),
            ]
        )
        # 54 years at 1-minute periods ≈ 28M periods — far over the guard.
        # The guard is raise_error INSIDE the plan (no extra probe job), so
        # it fires when the query executes, not at build.
        with _pytest.raises(Exception, match="spans more than"):
            missing_periods(ev, ["k"], "ts", period_seconds=60).count()


class TestTfidfMinTfParity:
    def test_min_tf_matches_duckdb_twin(self, spark):
        """min_tf > 1 must filter at the same pipeline point in both
        engines (after doc-frequency, before ranking)."""
        import duckdb
        import pandas as pd

        from datacompy_spark.operators.textops import (
            tfidf_top_terms,
            tfidf_top_terms_sql,
        )

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "apple apple banana common common",
                    "banana cherry common cherry",
                    "common cherry date",
                ],
            }
        )
        docs = spark.createDataFrame(pdf)
        got = sorted(
            tuple(r)
            for r in tfidf_top_terms(docs, "doc_id", "text", k=2, min_tf=2).collect()
        )
        con = duckdb.connect()
        con.register("docs", pdf)
        want = sorted(
            tuple(r)
            for r in con.execute(
                tfidf_top_terms_sql("docs", "doc_id", "text", k=2, min_tf=2)
            ).fetchall()
        )
        assert [g[:4] for g in got] == [w[:4] for w in want]
        for g, w in zip(got, want):
            assert g[4] == pytest.approx(w[4]) and g[5] == w[5]
        # the threshold actually bit: every surviving pair has tf >= 2
        assert got and all(g[2] >= 2 for g in got)


class TestKnnRecallGate:
    def test_recall_values_meet_floors(self, spark):
        """The approximation-quality gate the per-method oracles can't
        express: recall@5 vs brute force, per method, on the real test
        embeddings. int8_rerank is the blessed scale path and must stay
        ≥0.9 (measured 1.0); the bucketed paths are capped by the data's
        isotropy (no cluster structure, neighbor cos ≈ 0.32) — their
        floors pin the tuned configs against silent regression."""
        from datacompy_spark.queries_pipeline import q_knn_recall

        got = {
            r["method"]: r["recall"]
            for r in q_knn_recall(spark, "/root/testdata/sf0.001").collect()
        }
        assert set(got) == {"int8_rerank", "ivf", "lsh", "pq_adc"}
        assert got["int8_rerank"] >= 0.9
        assert got["lsh"] >= 0.5
        assert got["ivf"] >= 0.5
        # pq_adc is low at sf0.001 by construction: ~200 isotropic vectors
        # give the deterministic pivot codebook almost no structure to
        # quantize, so ADC ranking is noisy even before the exact rerank
        # (measured 0.3). The floor pins against silent regression; the
        # sf0.01 driver oracle pins the exact cross-engine value.
        assert got["pq_adc"] >= 0.25

    def test_knn_int8_rerank_matches_bruteforce_topk(self, spark):
        """With a pool that recovers everything, the int8 path's final
        ranking must equal exact brute force pair-for-pair (the rerank is
        the same float cosine)."""
        from datacompy_spark.operators.similarity import (
            knn_bruteforce,
            knn_int8_rerank,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_bruteforce(emb, probes, "vec_id", "embedding", k=5).collect()
        }
        got = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_int8_rerank(
                emb, probes, "vec_id", "embedding", k=5, pool=50
            ).collect()
        }
        assert got == exact

    def test_dot_int_exactness(self, spark):
        """dot_int / dot_int_arrow are exact BIGINT MACs: identical to a
        Python-side integer dot, and identical to each other."""
        from datacompy_spark.functions.vector import dot_int, dot_int_arrow

        rows = [
            Row(i=0, a=[127, -127, 1, 0], b=[127, 127, -1, 5]),
            Row(i=1, a=[0, 0, 0, 0], b=[1, 2, 3, 4]),
            Row(i=2, a=[-128, -128, -128, -128], b=[-128, -128, -128, -128]),
        ]
        df = spark.createDataFrame(rows)
        out = df.select(
            "i",
            dot_int(F.col("a"), F.col("b")).alias("d1"),
            dot_int_arrow(F.col("a"), F.col("b")).alias("d2"),
        ).collect()
        for r in out:
            py = sum(x * y for x, y in zip(rows[r["i"]].a, rows[r["i"]].b))
            assert r["d1"] == py and r["d2"] == py


class TestQuantizedRerank:
    def test_int8_prefilter_plus_exact_rerank_recall(self, spark):
        """Composition evidence for the ANN compression path: score ALL
        candidates on int8 codes (exact integer dot products — the cheap,
        4x-smaller representation), keep a 4k-candidate pool per query, then
        exact-rerank the pool in float. On the fixed test embeddings the
        pooled top-k must recover (almost) all of brute-force top-k."""
        from pyspark.sql import Window

        from datacompy_spark.operators.similarity import (
            knn_bruteforce,
            quantize_embeddings,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        probes = emb.filter(F.col("vec_id") < 5)
        k, pool = 5, 20

        exact = knn_bruteforce(emb, probes, "vec_id", "embedding", k=k)
        want = {
            (r["query_id"], r["neighbor_id"]) for r in exact.collect()
        }

        qc = quantize_embeddings(emb, "vec_id", "embedding")
        qp = quantize_embeddings(probes, "vec_id", "embedding").select(
            F.col("vec_id").alias("query_id"), F.col("qvec").alias("pq")
        )
        # integer dot product of the codes; scales cancel in the per-query
        # RANKING (cos ∝ dot/(|a||b|); int codes approximate direction)
        int_dot = F.aggregate(
            F.zip_with("qvec", "pq", lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        qnorm = F.sqrt(
            F.aggregate(
                F.transform("qvec", lambda x: (x * x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
        )
        cand = (
            qc.crossJoin(F.broadcast(qp))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                (int_dot.cast("double") / qnorm).alias("approx_score"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("approx_score").desc(), F.col("neighbor_id").asc()
        )
        pooled = cand.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= pool)

        # exact re-rank of the pooled candidates only
        joined = pooled.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
        ).join(
            probes.select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
            ),
            "query_id",
        )
        from datacompy_spark.functions.vector import cosine

        rer = joined.select(
            "query_id", "neighbor_id", cosine(F.col("qe"), F.col("embedding")).alias("cs")
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("cs").desc(), F.col("neighbor_id").asc()
        )
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in rer.withColumn("r", F.row_number().over(w2))
            .filter(F.col("r") <= k)
            .collect()
        }
        recall = len(got & want) / len(want)
        assert recall >= 0.9, f"int8-pool recall {recall} below 0.9"


class TestHistogramDriftEmptySnapshot:
    def test_empty_new_snapshot_reports_total_drift(self, spark):
        """A broken feed (empty new snapshot) must report maximal drift,
        not throw ANSI DIVIDE_BY_ZERO."""
        old = spark.range(0, 100).select(F.col("id").cast("double").alias("x"))
        new = old.filter(F.col("x") < -1)  # empty
        hist = histogram_drift(old, new, "x", 0.0, 100.0, 10)
        rows = hist.collect()
        assert all(r["p_new"] == 0.0 for r in rows)
        s = drift_scores(hist).collect()[0]
        assert s["tv_distance"] == pytest.approx(0.5)  # all mass vanished


class TestParamGuards:
    def test_bad_params_raise_value_error(self, spark):
        from datacompy_spark.operators.analytics import (
            histogram_drift,
            missing_periods,
            retention_cohorts,
        )

        df = spark.range(1).select(F.col("id").cast("double").alias("x"))
        ev = spark.createDataFrame([(1, __import__("datetime").datetime(2024, 1, 1))],
                                   "user_id long, ts timestamp")
        with pytest.raises(ValueError):
            histogram_drift(df, df, "x", lo=1.0, hi=1.0, bins=10)
        with pytest.raises(ValueError):
            histogram_drift(df, df, "x", lo=0.0, hi=1.0, bins=0)
        with pytest.raises(ValueError):
            retention_cohorts(ev, period_seconds=0)
        with pytest.raises(ValueError):
            missing_periods(ev, ["user_id"], period_seconds=-5)


class TestKeySkewProfile:
    def test_hot_key_surfaces_with_share(self, spark):
        from datacompy_spark.operators.analytics import key_skew_profile

        df = spark.range(0, 1000).select(
            F.when(F.col("id") < 400, F.lit(7)).otherwise(F.col("id")).alias("k")
        )
        out = key_skew_profile(df, ["k"], top_k=3).collect()
        assert out[0]["k"] == 7 and out[0]["n_rows"] == 400
        assert out[0]["share"] == pytest.approx(0.4)
        assert [r["rank"] for r in out] == [1, 2, 3]

    def test_distributed_top_k_plan(self, spark, lineitem):
        """Global top-k must plan as TakeOrdered (partial per partition),
        never a single-partition row_number window over all keys."""
        from datacompy_spark.operators.analytics import key_skew_profile

        out = key_skew_profile(lineitem, ["l_orderkey"], top_k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestJoinCardinality:
    def test_exact_pair_counts_and_total(self, spark):
        from datacompy_spark.operators.analytics import join_cardinality

        left = spark.createDataFrame(
            [Row(k="hot", v=i) for i in range(4)]
            + [Row(k="a", v=0), Row(k="b", v=0), Row(k="left_only", v=0)]
        )
        right = spark.createDataFrame(
            [Row(k="hot", v=i) for i in range(3)]
            + [Row(k="a", v=0), Row(k="right_only", v=0)]
        )
        out = join_cardinality(left, right, ["k"], top_k=5).collect()
        rows = {r["k"]: r for r in out}
        # one-sided keys contribute nothing; pair counts are exact products
        assert set(rows) == {"hot", "a"}
        assert rows["hot"]["n_pairs"] == 12 and rows["a"]["n_pairs"] == 1
        assert all(r["total_pairs"] == 13 for r in out)
        assert rows["hot"]["rank"] == 1
        assert rows["hot"]["pair_share"] == pytest.approx(12 / 13)
        # the estimate equals the real join's output size
        assert left.join(right, "k").count() == 13

    def test_never_materializes_joined_rows(self, spark, lineitem):
        """The estimator's plan must contain only count aggregates and the
        count-frame join — no join of the raw tables."""
        from datacompy_spark.operators.analytics import join_cardinality

        import re

        out = join_cardinality(lineitem, lineitem, ["l_partkey"], top_k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # column pruning proves no data rows are carried: every parquet
        # scan reads ONLY the key column
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas and all(s.split(":")[0] == "l_partkey" for s in schemas)
        assert plan.count("HashAggregate") >= 4  # partial+final per side


class TestKsDrift:
    def test_matches_scipy_style_hand_computation(self, spark):
        from datacompy_spark.operators.analytics import ks_drift

        # old: {1,2,3,4}; new: {3,4,5,6} — ECDF gap peaks at v=2: |0.5 - 0|
        old = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4]], "x double")
        new = spark.createDataFrame([(float(v),) for v in [3, 4, 5, 6]], "x double")
        r = ks_drift(old, new, "x").collect()[0]
        assert r["n_old"] == 4 and r["n_new"] == 4
        assert r["ks_stat"] == pytest.approx(0.5)

    def test_identical_snapshots_zero(self, spark):
        from datacompy_spark.operators.analytics import ks_drift

        df = spark.createDataFrame(
            [(float(v % 7),) for v in range(100)], "x double"
        )
        r = ks_drift(df, df, "x").collect()[0]
        assert r["ks_stat"] == 0.0

    def test_nulls_excluded_and_empty_side(self, spark):
        from datacompy_spark.operators.analytics import ks_drift

        old = spark.createDataFrame([(1.0,), (None,)], "x double")
        new = spark.createDataFrame([(None,)], "x double")
        r = ks_drift(old, new, "x").collect()[0]
        assert r["n_old"] == 1 and r["n_new"] == 0
        assert r["ks_stat"] is None

    def test_partition_invariance(self, spark):
        from datacompy_spark.operators.analytics import ks_drift

        import random

        rng = random.Random(7)
        old = spark.createDataFrame(
            [(float(rng.randint(0, 40)),) for _ in range(500)], "x double"
        )
        new = spark.createDataFrame(
            [(float(rng.randint(5, 45)),) for _ in range(400)], "x double"
        )
        def ks_at(n):
            with shuffle_partitions(spark, n):
                return ks_drift(old, new, "x").collect()[0]

        r1, r7, r64 = ks_at(1), ks_at(7), ks_at(64)
        assert r1["ks_stat"] == r7["ks_stat"] == r64["ks_stat"] > 0.0


class TestKeyContainment:
    def test_partial_containment_and_null_exclusion(self, spark):
        from datacompy_spark.operators.analytics import key_containment

        child = spark.createDataFrame(
            [Row(fk=1), Row(fk=2), Row(fk=2), Row(fk=9), Row(fk=None)]
        )
        parent = spark.createDataFrame(
            [Row(pk=1), Row(pk=2), Row(pk=3), Row(pk=None)]
        )
        r = key_containment(child, "fk", parent, "pk").collect()[0]
        # child distinct non-NULL = {1,2,9}; parent = {1,2,3}; shared = {1,2}
        assert r["child_distinct"] == 3 and r["parent_distinct"] == 3
        assert r["contained"] == 2
        assert r["containment"] == pytest.approx(2 / 3)
        assert r["coverage"] == pytest.approx(2 / 3)

    def test_true_fk_reads_one(self, spark):
        from datacompy_spark.operators.analytics import key_containment

        child = spark.createDataFrame([Row(fk=i % 3) for i in range(30)])
        parent = spark.createDataFrame([Row(pk=i) for i in range(5)])
        r = key_containment(child, "fk", parent, "pk").collect()[0]
        assert r["containment"] == 1.0
        assert r["coverage"] == pytest.approx(3 / 5)

    def test_empty_child_gives_null_ratio(self, spark):
        from datacompy_spark.operators.analytics import key_containment

        child = spark.createDataFrame([Row(fk=None)], "fk int")
        parent = spark.createDataFrame([Row(pk=1)])
        r = key_containment(child, "fk", parent, "pk").collect()[0]
        assert r["child_distinct"] == 0 and r["contained"] == 0
        assert r["containment"] is None and r["coverage"] == 0.0

    def test_auto_candidates_find_real_tpch_fks(self, spark):
        from datacompy_spark.operators.analytics import (
            fk_candidates,
            fk_discovery_auto,
        )
        from datacompy_spark.sources.loaders import load_table

        names = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem"]
        tables = {
            n: load_table(spark, "/root/testdata/sf0.001", n) for n in names
        }
        cands = set(fk_candidates(tables))
        real = {
            ("nation", "n_regionkey", "region", "r_regionkey"),
            ("customer", "c_nationkey", "nation", "n_nationkey"),
            ("supplier", "s_nationkey", "nation", "n_nationkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        }
        assert real <= cands
        rows = {
            (r["child_table"], r["child_col"]): r
            for r in fk_discovery_auto(tables).collect()
        }
        for ct, cc, _, _ in real:
            assert rows[(ct, cc)]["containment"] == 1.0

    def test_melted_fk_discovery_equals_per_pair_containment(self, spark):
        """The single-pass melt must be value-identical to running
        key_containment per pair — including a binary-key pair (hex melt),
        a string-key pair, and a candidate whose sides are entirely NULL
        (still emits its zero row)."""
        from datacompy_spark.operators.analytics import (
            fk_discovery,
            key_containment,
        )

        c1 = spark.createDataFrame(
            [Row(fk=1), Row(fk=2), Row(fk=2), Row(fk=9), Row(fk=None)]
        )
        p1 = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
        c2 = spark.createDataFrame(
            [("a",), ("b",), ("b",), (None,)], "sk string"
        )
        p2 = spark.createDataFrame([("b",), ("c",)], "pk string")
        c3 = spark.createDataFrame(
            [(bytearray(b"\x01\x02"),), (bytearray(b"\xff"),)], "bk binary"
        )
        p3 = spark.createDataFrame(
            [(bytearray(b"\x01\x02"),), (bytearray(b"\x00"),)], "pb binary"
        )
        c4 = spark.createDataFrame([Row(fk=None)], "fk int")
        p4 = spark.createDataFrame([Row(pk=None)], "pk int")
        pairs = [
            ("t1", c1, "fk", "q1", p1, "pk"),
            ("t2", c2, "sk", "q2", p2, "pk"),
            ("t3", c3, "bk", "q3", p3, "pb"),
            ("t4", c4, "fk", "q4", p4, "pk"),
        ]
        got = {
            (r["child_table"], r["child_col"]): r
            for r in fk_discovery(pairs).collect()
        }
        assert len(got) == 4  # the all-NULL candidate still has a row
        for cn, child, cc, pn, parent, pc in pairs:
            want = key_containment(child, cc, parent, pc).collect()[0]
            g = got[(cn, cc)]
            for col in (
                "child_distinct", "parent_distinct", "contained",
                "containment", "coverage",
            ):
                assert g[col] == want[col], (cn, col, g[col], want[col])

    def test_melt_matches_native_join_coercion(self, spark):
        """Cross-type pairs must behave like the native join the per-pair
        formulation had: double child vs int parent still matches, -0.0
        merges with 0.0, column resolution is case-insensitive, and
        binary-vs-string is rejected outright."""
        from datacompy_spark.operators.analytics import (
            fk_discovery,
            key_containment,
        )

        dc = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "fk double")
        ip = spark.createDataFrame([(1,), (2,), (5,)], "pk int")
        got = fk_discovery([("c", dc, "fk", "p", ip, "pk")]).collect()[0]
        want = key_containment(dc, "fk", ip, "pk").collect()[0]
        assert got["contained"] == want["contained"] == 2
        assert got["containment"] == want["containment"]

        nz = spark.createDataFrame([(-0.0,), (1.5,)], "fk double")
        pz = spark.createDataFrame([(0.0,), (1.5,)], "pk double")
        got = fk_discovery([("c", nz, "fk", "p", pz, "pk")]).collect()[0]
        assert got["contained"] == 2  # -0.0 joins 0.0 natively

        up = spark.createDataFrame([(1,)], "l_orderkey bigint")
        got = fk_discovery(
            [("c", up, "L_ORDERKEY", "p", up, "l_orderkey")]
        ).collect()[0]
        assert got["containment"] == 1.0

        bb = spark.createDataFrame([(bytearray(b"AB"),)], "bk binary")
        ss = spark.createDataFrame([("AB",)], "sk string")
        with pytest.raises(ValueError, match="binary key"):
            fk_discovery([("c", bb, "bk", "p", ss, "sk")])

    def test_auto_candidates_prefix_discipline(self, spark):
        from datacompy_spark.operators.analytics import fk_candidates

        # long prefixes stay whole: event_id must NOT match doc_id/vec_id
        a = spark.createDataFrame([(1,)], "event_id bigint")
        b = spark.createDataFrame([(1,)], "doc_id bigint")
        assert fk_candidates({"events": a, "documents": b}) == []
        # type mismatch blocks a name match
        c = spark.createDataFrame([(1,)], "c_custkey bigint")
        d = spark.createDataFrame([("1",)], "o_custkey string")
        assert fk_candidates({"customer": c, "orders": d}) == []

    def test_fk_discovery_labels_and_empty_guard(self, spark):
        from datacompy_spark.operators.analytics import fk_discovery

        a = spark.createDataFrame([Row(x=1), Row(x=2)])
        b = spark.createDataFrame([Row(y=1)])
        out = fk_discovery(
            [("a", a, "x", "b", b, "y"), ("b", b, "y", "a", a, "x")]
        ).collect()
        got = {(r["child_table"], r["parent_table"]): r for r in out}
        assert got[("a", "b")]["containment"] == 0.5
        assert got[("b", "a")]["containment"] == 1.0
        with pytest.raises(ValueError):
            fk_discovery([])


class TestPersistedIvfIndex:
    def test_equivalent_to_in_memory_ivf(self, spark, tmp_path):
        from datacompy_spark.operators.similarity import (
            build_ivf_index,
            ivf_knn,
            query_ivf_index,
        )
        from datacompy_spark.sources.loaders import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") % 97 == 0)
        path = str(tmp_path / "ivf")
        summary = build_ivf_index(emb, "vec_id", "embedding", path)
        assert summary["n_rows"] == emb.count()
        assert summary["n_cells"] >= 2

        got = sorted(
            map(
                tuple,
                query_ivf_index(
                    spark, path, queries, "vec_id", "embedding", k=5, nprobe=2
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                ivf_knn(
                    emb, queries, "vec_id", "embedding", k=5, nprobe=2
                ).collect(),
            )
        )
        assert got == want and len(got) > 0

    def test_probe_scan_is_partition_pruned(self, spark, tmp_path):
        """The point of the on-disk layout: the index scan must carry the
        probed cells as PartitionFilters (pruning), not a post-scan
        Filter over all directories."""
        import os

        from datacompy_spark.operators.similarity import (
            build_ivf_index,
            query_ivf_index,
        )
        from datacompy_spark.sources.loaders import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        path = str(tmp_path / "ivf")
        build_ivf_index(emb, "vec_id", "embedding", path)
        # hive layout on disk: one directory per cell
        assert any(
            d.startswith("cell=") for d in os.listdir(f"{path}/cells")
        )
        one_query = emb.filter(F.col("vec_id") == 0)
        out = query_ivf_index(
            spark, path, one_query, "vec_id", "embedding", k=3, nprobe=2
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan.replace("#", " #").replace(
            "cell #", "cell#"
        ) or "PartitionFilters: [cell" in plan
        assert len(out.collect()) > 0

    def test_custom_pivots_scale_path(self, spark, tmp_path):
        """The sqrt(n) scale path: explicit pivots (here a coarser id
        sample standing in for trained centroids) drive both build and
        probe, and results still match an in-memory rerun with the same
        pivots."""
        from datacompy_spark.operators.similarity import (
            build_ivf_index,
            ivf_assign,
            query_ivf_index,
        )
        from datacompy_spark.sources.loaders import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        pivots = emb.filter(F.col("vec_id") % 101 == 0).select(
            "vec_id", "embedding"
        )
        path = str(tmp_path / "ivf_custom")
        summary = build_ivf_index(
            emb, "vec_id", "embedding", path, pivots=pivots
        )
        assert summary["n_cells"] == pivots.count()
        got = query_ivf_index(
            spark, path, emb.filter(F.col("vec_id") == 0),
            "vec_id", "embedding", k=3, nprobe=2,
        ).collect()
        assert len(got) == 3
        # index cells reproduce a fresh in-memory assignment
        on_disk = spark.read.parquet(f"{path}/cells").select("vid", "cell")
        fresh = ivf_assign(emb, pivots, "vec_id", "embedding").select(
            "vid", "cell"
        )
        assert sorted(map(tuple, on_disk.collect())) == sorted(
            map(tuple, fresh.collect())
        )

    def test_incremental_append_equals_one_shot_build(self, spark, tmp_path):
        """Frozen quantizer ⇒ build(half) + append(half) must be
        row-identical to build(all), and queries against either index
        agree exactly."""
        from datacompy_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
            query_ivf_index,
        )
        from datacompy_spark.sources.loaders import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        # pivots must come from the FIRST half so the frozen-quantizer
        # premise holds (ids % 37 == 0 rows all land in half A by choosing
        # the split accordingly is fragile — instead pass explicit pivots)
        pivots = emb.filter(F.col("vec_id") % 101 == 0).select(
            "vec_id", "embedding"
        )
        half_a = emb.filter(F.col("vec_id") % 2 == 0)
        half_b = emb.filter(F.col("vec_id") % 2 == 1)

        inc = str(tmp_path / "inc")
        build_ivf_index(half_a, "vec_id", "embedding", inc, pivots=pivots)
        out = append_to_ivf_index(spark, inc, half_b, "vec_id", "embedding")
        assert out["appended"] == half_b.count()

        full = str(tmp_path / "full")
        build_ivf_index(emb, "vec_id", "embedding", full, pivots=pivots)

        canon = lambda p: sorted(
            map(
                tuple,
                spark.read.parquet(f"{p}/cells")
                .select("vid", "cell")
                .collect(),
            )
        )
        assert canon(inc) == canon(full)
        q = emb.filter(F.col("vec_id") % 97 == 0)
        run = lambda p: sorted(
            map(
                tuple,
                query_ivf_index(
                    spark, p, q, "vec_id", "embedding", k=5, nprobe=2
                ).collect(),
            )
        )
        assert run(inc) == run(full)

    def test_compact_preserves_results_and_collapses_generations(
        self, spark, tmp_path
    ):
        from datacompy_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
            compact_ivf_index,
            query_ivf_index,
        )
        from datacompy_spark.sources.loaders import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        pivots = emb.filter(F.col("vec_id") % 101 == 0).select(
            "vec_id", "embedding"
        )
        idx = str(tmp_path / "idx")
        build_ivf_index(
            emb.filter(F.col("vec_id") % 3 == 0), "vec_id", "embedding", idx,
            pivots=pivots,
        )
        for i, m in enumerate((1, 2)):
            append_to_ivf_index(
                spark, idx, emb.filter(F.col("vec_id") % 3 == m),
                "vec_id", "embedding", ingest_id=i + 1,
            )
        probes = emb.filter(F.col("vec_id") % 97 == 0)
        run = lambda: sorted(
            map(
                tuple,
                query_ivf_index(
                    spark, idx, probes, "vec_id", "embedding", k=5, nprobe=2
                ).collect(),
            )
        )
        before = run()
        out = compact_ivf_index(spark, idx)
        assert out["n_rows"] == emb.count()
        cells = spark.read.parquet(f"{idx}/cells")
        gens = {r["ingest"] for r in cells.select("ingest").distinct().collect()}
        assert gens == {0}
        assert cells.count() == emb.count()
        assert run() == before


class TestTableChecksum:
    """Order-independent content digests and the dataset_diff gate."""

    def test_layout_and_order_invariant(self, spark):
        from datacompy_spark.operators.profile import table_checksum

        df = spark.createDataFrame(
            [(i, f"v{i % 7}", float(i) / 3) for i in range(200)],
            "k bigint, s string, x double",
        )
        a = table_checksum(df).collect()[0]
        b = table_checksum(df.repartition(13).sortWithinPartitions("s")).collect()[0]
        assert (a["n_rows"], a["checksum"]) == (b["n_rows"], b["checksum"])
        assert a["n_rows"] == 200

    def test_detects_single_cell_change_and_multiplicity(self, spark):
        from datacompy_spark.operators.profile import table_checksum

        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, s string"
        )
        mutated = spark.createDataFrame(
            [(1, "a"), (2, "B"), (3, "c")], "k bigint, s string"
        )
        doubled = base.unionAll(spark.createDataFrame([(1, "a")], "k bigint, s string"))
        ck = lambda d: table_checksum(d).collect()[0]["checksum"]
        assert ck(base) != ck(mutated)
        # duplicate multiplicity changes the SUM (a distinct-set digest
        # would miss a doubled row)
        assert ck(base) != ck(doubled)

    def test_null_vs_literal_N_distinct(self, spark):
        from datacompy_spark.operators.profile import table_checksum

        a = spark.createDataFrame([(1, None)], "k bigint, s string")
        b = spark.createDataFrame([(1, "N")], "k bigint, s string")
        ck = lambda d: table_checksum(d).collect()[0]["checksum"]
        assert ck(a) != ck(b)

    def test_empty_table_checksums_zero(self, spark):
        from datacompy_spark.operators.profile import table_checksum

        e = spark.createDataFrame([], "k bigint, s string")
        r = table_checksum(e).collect()[0]
        assert r["n_rows"] == 0 and int(r["checksum"]) == 0

    def test_single_pass_plan(self, spark):
        from datacompy_spark.operators.profile import table_checksum

        df = spark.range(100).select(F.col("id").alias("k"))
        p = table_checksum(df)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in p
        assert p.count("Exchange hashpartitioning") == 0  # single-row fold only

    def test_checksum_diff_by_all_verdict_shapes(self, spark):
        from datacompy_spark.operators.profile import checksum_diff_by

        left = spark.createDataFrame(
            [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z"), ("c", 4, "w"), (None, 5, "n")],
            "g string, k bigint, v string",
        )
        right = spark.createDataFrame(
            # group a: identical; group b: value corrupted; group c: row
            # missing; group d: right-only; NULL group: identical
            [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "Z"), ("d", 9, "q"), (None, 5, "n")],
            "g string, k bigint, v string",
        )
        rows = {r["g"]: r for r in checksum_diff_by(left, right, ["g"]).collect()}
        assert set(rows) == {"a", "b", "c", "d", None}
        assert rows["a"]["rows_match"] and rows["a"]["content_match"]
        assert rows["b"]["rows_match"] and not rows["b"]["content_match"]
        assert not rows["c"]["rows_match"] and rows["c"]["n_rows_right"] == 0
        assert not rows["d"]["rows_match"] and rows["d"]["n_rows_left"] == 0
        # NULL is a group value, not a dropped row (null-safe group join)
        assert rows[None]["content_match"]

    def test_checksum_diff_by_missing_column_fails_loudly(self, spark):
        from datacompy_spark.operators.profile import checksum_diff_by

        left = spark.createDataFrame([("a", 1)], "g string, k bigint")
        right = spark.createDataFrame([("a",)], "g string")
        with pytest.raises(ValueError, match="missing"):
            checksum_diff_by(left, right, ["g"])

    def test_grouped_digest_sums_to_table_digest(self, spark):
        """The grouped digests are a PARTITION of the table digest: their
        exact DECIMAL sum equals table_checksum over the same columns —
        the invariant that makes drill-down trustworthy (no row counted
        twice or dropped by the grouping)."""
        from datacompy_spark.operators.profile import table_checksum, table_checksum_by

        df = spark.createDataFrame(
            [(i % 5, i, f"v{i % 11}") for i in range(300)],
            "g int, k bigint, v string",
        )
        whole = table_checksum(df).collect()[0]
        parts = table_checksum_by(df, ["g"]).collect()
        assert sum(int(r["checksum"]) for r in parts) == int(whole["checksum"])
        assert sum(r["n_rows"] for r in parts) == whole["n_rows"]

    def test_dataset_diff_verdicts(self, spark, tmp_path):
        from datacompy_spark.operators.profile import dataset_diff

        left = tmp_path / "left"
        right = tmp_path / "right"
        t = spark.createDataFrame(
            [(i, f"r{i}") for i in range(50)], "k bigint, s string"
        )
        t.write.parquet(str(left / "t1.parquet"))
        # identical content, different layout
        t.repartition(7).write.parquet(str(right / "t1.parquet"))
        # t2 differs by one row
        t.write.parquet(str(left / "t2.parquet"))
        t.filter(F.col("k") != 25).unionAll(
            spark.createDataFrame([(25, "CHANGED")], "k bigint, s string")
        ).write.parquet(str(right / "t2.parquet"))
        out = {
            r["table"]: r
            for r in dataset_diff(
                spark, str(left), str(right), ["t1", "t2"]
            ).collect()
        }
        assert out["t1"]["rows_match"] and out["t1"]["content_match"]
        assert out["t2"]["rows_match"] and not out["t2"]["content_match"]

    def test_dataset_diff_column_reorder_is_not_a_mismatch(self, spark, tmp_path):
        """An engine migration that reorders columns without touching
        values must NOT trip the gate (both sides digest in the left
        side's order); a right side missing a column fails loudly."""
        from datacompy_spark.operators.profile import dataset_diff

        left = tmp_path / "left"
        right = tmp_path / "right"
        t = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string")
        t.write.parquet(str(left / "t.parquet"))
        t.select("s", "k").write.parquet(str(right / "t.parquet"))
        r = dataset_diff(spark, str(left), str(right), ["t"]).collect()[0]
        assert r["content_match"] is True
        t.select("k").write.parquet(str(right / "t2.parquet"))
        t.write.parquet(str(left / "t2.parquet"))
        with pytest.raises(ValueError, match="missing"):
            dataset_diff(spark, str(left), str(right), ["t2"])

    def test_sql_twin_agrees(self, spark):
        import duckdb

        from datacompy_spark.operators.profile import (
            table_checksum,
            table_checksum_sql,
        )

        df = spark.createDataFrame(
            [(1, "a", 0.5), (2, None, 1.0), (3, "c", None)],
            "k bigint, s string, x double",
        )
        got = table_checksum(df).collect()[0]
        con = duckdb.connect()
        con.register("t", df.toPandas())
        want = con.execute(table_checksum_sql("t", ["k", "s", "x"])).fetchone()
        assert got["n_rows"] == want[0]
        assert int(got["checksum"]) == int(want[1])


class TestAttribution:
    def _events(self, spark):
        # user 1: view -> click -> purchase(10) -> click -> purchase(20)
        #   first_touch credits view both times; last_touch: click both times
        # user 2: purchase with NO preceding touch -> drops from the rollup
        # user 3: touch at the SAME ts as the conversion still counts (kind
        #   orders touches before conversions at equal timestamps)
        rows = [
            (1, 1, "2024-01-01 00:00:00", "view", None),
            (2, 1, "2024-01-01 01:00:00", "click", None),
            (3, 1, "2024-01-01 02:00:00", "purchase", 10.0),
            (4, 1, "2024-01-01 03:00:00", "click", None),
            (5, 1, "2024-01-01 04:00:00", "purchase", 20.0),
            (6, 2, "2024-01-01 00:00:00", "purchase", 99.0),
            (7, 3, "2024-01-01 05:00:00", "signup", None),
            (8, 3, "2024-01-01 05:00:00", "purchase", 7.5),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, ts string, event_type string, value double"
        )
        return df.withColumn("ts", F.to_timestamp("ts"))

    def test_models_credit_correctly(self, spark):
        from datacompy_spark.operators.analytics import attribution_rollup

        out = attribution_rollup(
            self._events(spark), "user_id", "ts", "event_type", "value",
            "purchase", ["click", "view", "signup"], tiebreak_col="event_id",
        ).collect()
        got = {(r["model"], r["touch_type"]): (r["conversions"], r["total_value"]) for r in out}
        assert got[("first_touch", "view")] == (2, 30.0)
        assert got[("first_touch", "signup")] == (1, 7.5)
        assert got[("last_touch", "click")] == (2, 30.0)
        assert got[("last_touch", "signup")] == (1, 7.5)
        # untouched conversion (user 2) appears under no model
        assert sum(v[0] for k, v in got.items() if k[0] == "first_touch") == 3

    def test_conversion_type_cannot_be_a_touch(self, spark):
        import pytest as _pytest

        from datacompy_spark.operators.analytics import attribution_rollup

        with _pytest.raises(ValueError):
            attribution_rollup(
                self._events(spark), "user_id", "ts", "event_type", "value",
                "purchase", ["purchase", "click"], tiebreak_col="event_id",
            )

    def test_tiebreak_col_is_required(self, spark):
        """r10 advice: the old monotonically_increasing_id fallback made
        first/last-touch credit partitioning-dependent under timestamp
        ties — the operator must refuse to run nondeterministically.
        Omission fails at the call site (required parameter); an explicit
        None fails with the determinism explanation."""
        import pytest as _pytest

        from datacompy_spark.operators.analytics import attribution_rollup

        with _pytest.raises(TypeError):
            attribution_rollup(
                self._events(spark), "user_id", "ts", "event_type", "value",
                "purchase", ["click", "view", "signup"],
            )
        with _pytest.raises(ValueError, match="tiebreak_col"):
            attribution_rollup(
                self._events(spark), "user_id", "ts", "event_type", "value",
                "purchase", ["click", "view", "signup"], tiebreak_col=None,
            )
