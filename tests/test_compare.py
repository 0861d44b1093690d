"""End-to-end SparkCompare scenarios — FIXTURES.md F2/F3/F4/F5/F7 shapes."""

import math
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F

from datacompy_spark import SparkCompare
from conftest import jobs


@pytest.fixture()
def f2(spark):
    df1 = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id bigint, name string, amount double",
    )
    df2 = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.005), (4, "dave", 40.0)],
        "id bigint, name string, amount double",
    )
    return df1, df2


class TestBasics:
    def test_known_diff(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        assert not c.matches()
        assert c.df1_unq_rows_count == 1
        assert c.df2_unq_rows_count == 1
        assert c.intersect_rows_count == 2
        assert c.count_matching_rows() == 1
        assert c.columns_with_mismatches == ["amount"]
        assert c.all_columns_match()
        assert not c.all_rows_overlap()
        assert not c.intersect_rows_match()

    def test_abs_tol_turns_match(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id", abs_tol=0.01)
        assert c.count_matching_rows() == 2
        assert c.intersect_rows_match()
        assert not c.matches()  # still has unique rows

    def test_identical(self, spark, f2):
        df1, _ = f2
        c = SparkCompare(spark, df1, df1.select(*df1.columns), join_columns="id")
        assert c.matches()
        assert c.intersect_rows_match()
        assert c.subset()

    def test_per_column_tolerance_dict(self, spark, f2):
        c = SparkCompare(
            spark, *f2, join_columns="id", abs_tol={"amount": 0.01, "default": 0}
        )
        assert c.count_matching_rows() == 2
        c2 = SparkCompare(
            spark, *f2, join_columns="id", abs_tol={"default": 0.000001}
        )
        assert c2.count_matching_rows() == 1

    def test_unq_rows_content(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        assert [r["id"] for r in c.df1_unq_rows.collect()] == [3]
        assert [r["id"] for r in c.df2_unq_rows.collect()] == [4]
        assert c.df1_unq_rows.columns == ["id", "name", "amount"]

    def test_column_stats_contract(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        st = {s["column"]: s for s in c.column_stats}
        # join columns are included as always-matching entries (ref parity)
        assert set(st) == {"id", "name", "amount"}
        assert st["id"]["unequal_cnt"] == 0
        assert st["id"]["match_cnt"] == c.intersect_rows_count
        assert st["amount"]["unequal_cnt"] == 1
        assert st["amount"]["max_diff"] == pytest.approx(0.005, abs=1e-9)
        assert st["name"]["all_match"]


class TestColumnSets:
    def test_unique_columns(self, spark):
        df1 = spark.createDataFrame([(1, "x", 9)], "id bigint, shared string, only_1 int")
        df2 = spark.createDataFrame([(1, "x", 8)], "id bigint, shared string, only_2 int")
        c = SparkCompare(spark, df1, df2, join_columns="id")
        assert c.df1_unq_columns() == ["only_1"]
        assert c.df2_unq_columns() == ["only_2"]
        assert not c.all_columns_match()
        assert not c.matches()
        assert c.matches(ignore_extra_columns=True)

    def test_case_folding(self, spark):
        df1 = spark.createDataFrame([(1, "x")], "ID bigint, Name string")
        df2 = spark.createDataFrame([(1, "x")], "id bigint, name string")
        c = SparkCompare(spark, df1, df2, join_columns="ID")
        assert c.matches()

    def test_join_column_missing_raises(self, spark, f2):
        with pytest.raises(ValueError, match="missing join columns"):
            SparkCompare(spark, *f2, join_columns="nope")

    def test_same_names_raise(self, spark, f2):
        with pytest.raises(ValueError, match="must differ"):
            SparkCompare(spark, *f2, join_columns="id", df1_name="x", df2_name="x")

    def test_unknown_tolerance_column_raises(self, spark, f2):
        with pytest.raises(ValueError, match="unknown columns"):
            SparkCompare(spark, *f2, join_columns="id", abs_tol={"amonut": 0.1})


class TestNullKeys:
    def test_null_join_keys_pair(self, spark):
        df1 = spark.createDataFrame([(None, "a"), (1, "b")], "id bigint, v string")
        df2 = spark.createDataFrame([(None, "a"), (1, "c")], "id bigint, v string")
        c = SparkCompare(spark, df1, df2, join_columns="id")
        # NULL keys join to each other (null-safe join)
        assert c.intersect_rows_count == 2
        assert c.count_matching_rows() == 1

    def test_datacompy_null_sentinel_not_needed(self, spark):
        # the reference errors on literal 'DATACOMPY_NULL' + NULL keys
        # (spark.py:1146-1147); our window-based ordinal has no sentinel,
        # so this just works.
        df1 = spark.createDataFrame(
            [("DATACOMPY_NULL", 1.0), (None, 2.0), (None, 3.0)], "k string, v double"
        )
        df2 = spark.createDataFrame(
            [("DATACOMPY_NULL", 1.0), (None, 2.0), (None, 3.5)], "k string, v double"
        )
        c = SparkCompare(spark, df1, df2, join_columns="k", dup_order_by=["v"])
        assert c.intersect_rows_count == 3
        assert c.count_matching_rows() == 2


class TestDuplicates:
    def test_equal_dupes_pair(self, spark):
        df1 = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "id bigint, v string")
        df2 = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "id bigint, v string")
        c = SparkCompare(spark, df1, df2, join_columns="id", dup_order_by=["v"])
        assert c.has_duplicates
        assert c.matches()

    def test_unbalanced_dupes(self, spark):
        df1 = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c")], "id bigint, v string"
        )
        df2 = spark.createDataFrame([(1, "a"), (1, "b")], "id bigint, v string")
        c = SparkCompare(spark, df1, df2, join_columns="id", dup_order_by=["v"])
        # third duplicate on the left becomes a df1-unique row
        assert c.intersect_rows_count == 2
        assert c.df1_unq_rows_count == 1
        assert c.df2_unq_rows_count == 0
        assert c.count_matching_rows() == 2


class TestRowClassMatrix:
    def test_matrix_agrees_with_derived_frames(self, spark):
        df1 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"
        )
        df2 = spark.createDataFrame(
            [(1, "a"), (2, "X"), (4, "d")], "id bigint, v string"
        )
        c = SparkCompare(spark, df1, df2, join_columns="id")
        m = {r["id"]: r for r in c.row_class_matrix().collect()}
        assert set(m) == {1, 2, 3, 4}
        assert m[1]["row_class"] == "both" and m[1]["v_match"] is True
        assert m[2]["row_class"] == "both" and m[2]["v_match"] is False
        # match booleans are NULL outside the 'both' class
        assert m[3]["row_class"] == "left_only" and m[3]["v_match"] is None
        assert m[4]["row_class"] == "right_only" and m[4]["v_match"] is None
        # one row per outer-join row: classes sum to the three frame counts
        assert c.row_class_matrix().count() == (
            c.intersect_rows_count + c.df1_unq_rows_count + c.df2_unq_rows_count
        )


class TestMismatchOutputs:
    def test_sample_mismatch(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        s = c.sample_mismatch("amount", 10)
        rows = s.collect()
        assert len(rows) == 1
        assert rows[0]["id"] == 2
        assert s.columns == ["id", "amount_df1", "amount_df2"]
        disp = c.sample_mismatch("amount", 10, for_display=True)
        assert disp.columns == ["id", "amount (df1)", "amount (df2)"]

    def test_all_mismatch(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        m = c.all_mismatch()
        assert m.columns == ["id", "name_df1", "name_df2", "amount_df1", "amount_df2"]
        assert [r["id"] for r in m.collect()] == [2]
        m2 = c.all_mismatch(ignore_matching_cols=True)
        assert m2.columns == ["id", "amount_df1", "amount_df2"]

    def test_join_columns_only(self, spark):
        df1 = spark.createDataFrame([(1,), (2,)], "id bigint")
        df2 = spark.createDataFrame([(1,), (3,)], "id bigint")
        c = SparkCompare(spark, df1, df2, join_columns="id")
        assert c.only_join_columns()
        # mismatches reroute to the union of unique rows (ref spark.py:786-790)
        assert sorted(r["id"] for r in c.all_mismatch().collect()) == [2, 3]
        assert c.intersect_rows_count == 1
        assert c.count_matching_rows() == 1
        assert c.intersect_rows_match()


class TestSensitive:
    def test_hide_and_reveal(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        c.hide_sensitive_columns(["name"])
        vals = {r["name_df1"] for r in c.intersect_rows.collect()}
        assert vals == {"*******"}
        assert {r["name"] for r in c.df1_unq_rows.collect()} == {"*******"}
        # stats computed pre-mask stay intact
        assert c.count_matching_rows() == 1
        c.reveal_sensitive_columns()
        assert {r["name"] for r in c.df1_unq_rows.collect()} == {"carol"}

    def test_cannot_mask_join_columns(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        with pytest.raises(ValueError, match="join columns"):
            c.hide_sensitive_columns(["id"])


class TestEmptyIntersection:
    def test_empty_intersection_never_matches(self, spark):
        df1 = spark.createDataFrame([(1, "a")], "id bigint, v string")
        df2 = spark.createDataFrame([(2, "b")], "id bigint, v string")
        c = SparkCompare(spark, df1, df2, join_columns="id")
        assert c.intersect_rows_count == 0
        assert not c.intersect_rows_match()  # empty → False (ref spark.py:681-686)
        assert not c.matches()


class TestReport:
    def test_report_smoke(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        text = c.report()
        assert "Column Summary" in text
        assert "Row Summary" in text
        assert "amount" in text
        data = c.build_report_data()
        d = data.to_dict()
        assert d["row_summary"]["common_rows"] == 2
        assert data.to_json()
        html = data.to_html()
        assert html.startswith("<html><head>")  # reference format (report.py:282-299)

    def test_report_html_file(self, spark, f2, tmp_path):
        c = SparkCompare(spark, *f2, join_columns="id")
        out = tmp_path / "r.html"
        c.report(html_file=str(out))
        assert out.read_text().startswith("<html><head>")


class TestTestdata:
    def test_lineitem_self_compare(self, spark, lineitem):
        c = SparkCompare(
            spark,
            lineitem,
            lineitem.select(*lineitem.columns),
            join_columns=["l_orderkey", "l_linenumber"],
        )
        assert c.matches()

    def test_lineitem_perturbed(self, spark, lineitem):
        df2 = lineitem.withColumn(
            "l_extendedprice",
            F.when(F.col("l_orderkey") % 10 == 3, F.col("l_extendedprice") + 0.001)
            .otherwise(F.col("l_extendedprice")),
        )
        c = SparkCompare(
            spark, lineitem, df2, join_columns=["l_orderkey", "l_linenumber"]
        )
        assert not c.intersect_rows_match()
        c2 = SparkCompare(
            spark, lineitem, df2,
            join_columns=["l_orderkey", "l_linenumber"], abs_tol=0.01,
        )
        assert c2.matches()


class TestSensitiveNoLeak:
    """ADVICE r1: masking must also cover the _exceptions-backed paths —
    sample_mismatch/all_mismatch/report read the exceptions cache, which the
    reference serves from the masked intersect frame (spark.py:720-791)."""

    def test_sample_and_all_mismatch_masked(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        c.hide_sensitive_columns(["amount"])
        sm = c.sample_mismatch("amount").collect()
        assert sm, "expected at least one mismatch row"
        for r in sm:
            assert r["amount_df1"] == "*******"
            assert r["amount_df2"] == "*******"
        am = c.all_mismatch().collect()
        for r in am:
            assert r["amount_df1"] == "*******"
            assert r["amount_df2"] == "*******"

    def test_report_masked(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        c.hide_sensitive_columns(["amount"])
        text = c.report()
        assert "20.005" not in text
        assert "*******" in text

    def test_reveal_restores_exceptions(self, spark, f2):
        c = SparkCompare(spark, *f2, join_columns="id")
        c.hide_sensitive_columns(["amount"])
        c.reveal_sensitive_columns()
        vals = {r["amount_df2"] for r in c.sample_mismatch("amount").collect()}
        assert 20.005 in vals

    def test_mask_before_exceptions_built(self, spark, f2):
        # masking before any mismatch accessor is called must still cover
        # the lazily-built exceptions frame
        c = SparkCompare(spark, *f2, join_columns="id")
        c.hide_sensitive_columns(["amount"])
        for r in c.sample_mismatch("amount").collect():
            assert r["amount_df1"] == "*******"


class TestSuffixCollision:
    def test_column_named_like_suffixed_sibling(self, spark):
        # a frame holding both `v` and `v_df1` must not double-rename the
        # freshly-suffixed `v` (sequential withColumnsRenamed did, dying
        # with AMBIGUOUS_REFERENCE); the reference's pandas merge yields
        # v -> v_df1, v_df1 -> v_df1_df1 — ours must match
        df1 = spark.createDataFrame([(1, 10, 99)], "id bigint, v bigint, v_df1 bigint")
        df2 = spark.createDataFrame([(1, 11, 99)], "id bigint, v bigint, v_df1 bigint")
        c = SparkCompare(spark, df1, df2, join_columns="id")
        stats = {s["column"]: s["unequal_cnt"] for s in c.column_stats}
        assert stats == {"id": 0, "v": 1, "v_df1": 0}
        assert set(c.all_mismatch().columns) == {
            "id", "v_df1", "v_df2", "v_df1_df1", "v_df1_df2"
        }


    def test_reserved_internal_names_compare_as_data(self, spark):
        # columns named like engine internals are ordinary data: the
        # engine probes for collision-free internal names instead of
        # stomping on (or rejecting) the user's columns — the Spark
        # analog of the reference's temp_column_name (base.py:649-672)
        df1 = spark.createDataFrame(
            [(1, 5, "x", True, 7)],
            "id bigint, __dc_ordinal bigint, _merge string, __present_lhs boolean, __dc_ord bigint",
        )
        df2 = spark.createDataFrame(
            [(1, 6, "x", True, 7)],
            "id bigint, __dc_ordinal bigint, _merge string, __present_lhs boolean, __dc_ord bigint",
        )
        c = SparkCompare(spark, df1, df2, join_columns="id")
        stats = {s["column"]: s["unequal_cnt"] for s in c.column_stats}
        assert stats == {
            "id": 0, "__dc_ordinal": 1, "_merge": 0,
            "__present_lhs": 0, "__dc_ord": 0,
        }
        assert c.intersect_rows_count == 1 and not c.matches()
        bad = c.all_mismatch().collect()
        assert len(bad) == 1
        assert bad[0]["__dc_ordinal_df1"] == 5 and bad[0]["__dc_ordinal_df2"] == 6
        # row_classes still exposes the public name regardless of probing
        assert c.row_classes().columns == ["id", "row_class"]

    def test_reserved_lowered_key_names_compare_as_data(self, spark):
        # the materialized null-safe key columns of a paired compare are
        # probed like every other internal name
        schema = "id bigint, __dc_keyc0 bigint, __dc_keyn0 boolean"
        df1 = spark.createDataFrame([(1, 5, True), (None, 7, False)], schema)
        df2 = spark.createDataFrame([(1, 6, True), (None, 7, False)], schema)
        c = SparkCompare(spark, df1, df2, join_columns="id")
        stats = {s["column"]: s["unequal_cnt"] for s in c.column_stats}
        assert stats == {"id": 0, "__dc_keyc0": 1, "__dc_keyn0": 0}
        assert c.intersect_rows_count == 2
        c.uncache()

    def test_reserved_name_differs_only_by_case(self, spark):
        # Spark's default resolver is case-insensitive, so `_Merge` would
        # collide with the `_merge` indicator alias exactly like an exact
        # match — the probe must fold case
        df1 = spark.createDataFrame([("k1", 1.0)], ["_Merge", "v"])
        df2 = spark.createDataFrame([("k1", 2.0)], ["_Merge", "v"])
        c = SparkCompare(
            spark, df1, df2, join_columns="_Merge", cast_column_names_lower=False
        )
        assert c.intersect_rows_count == 1 and not c.matches()
        assert c.row_classes().columns == ["_Merge", "row_class"]

    def test_reserved_name_as_join_column(self, spark):
        # even the JOIN key may be named _merge / __dc_ordinal: dup-key
        # ordinal pairing and the merge indicator must not collide with it
        df1 = spark.createDataFrame(
            [("k1", 1.0), ("k1", 2.0), ("k2", 3.0)], "_merge string, v double"
        )
        df2 = spark.createDataFrame(
            [("k1", 1.0), ("k1", 2.5), ("k3", 4.0)], "_merge string, v double"
        )
        c = SparkCompare(
            spark, df1, df2, join_columns="_merge", dup_order_by=["v"]
        )
        assert c.intersect_rows_count == 2
        assert c.count_matching_rows() == 1
        assert c.df1_unq_rows_count == 1 and c.df2_unq_rows_count == 1
        assert c.has_duplicates


class TestExoticColumnNames:
    def test_unicode_column_names_end_to_end(self, spark):
        # reference tests/test_spark.py:1595 compares frames with unicode
        # column names; keys, value compare, mismatch pull and the report
        # must all survive non-ASCII identifiers
        df1 = spark.createDataFrame(
            [(1, "東京", 3.5), (2, "大阪", 1.25)], ["id", "都市", "値"]
        )
        df2 = spark.createDataFrame(
            [(1, "東京", 3.5), (2, "京都", 1.25)], ["id", "都市", "値"]
        )
        c = SparkCompare(spark, df1, df2, join_columns="id")
        stats = {s["column"]: s["unequal_cnt"] for s in c.column_stats}
        assert stats == {"id": 0, "都市": 1, "値": 0}
        bad = c.all_mismatch().collect()
        assert len(bad) == 1 and bad[0]["都市_df1"] == "大阪"
        rep = c.report(sample_count=2)
        assert "都市" in rep

    def test_unicode_join_key(self, spark):
        df1 = spark.createDataFrame([("α", 1), ("β", 2)], ["κλειδί", "v"])
        df2 = spark.createDataFrame([("α", 1), ("γ", 3)], ["κλειδί", "v"])
        c = SparkCompare(spark, df1, df2, join_columns="κλειδί")
        assert c.intersect_rows_count == 1
        assert c.df1_unq_rows_count == 1 and c.df2_unq_rows_count == 1

    def test_case_sensitive_duplicates_rejected(self, spark):
        # reference tests/test_spark.py:2849: columns differing only by
        # case collapse under lower-casing — reject with a clear error
        # instead of silently comparing the wrong pair
        df = spark.createDataFrame([(1, 2, 3)], ["id", "Val", "val"])
        ok = spark.createDataFrame([(1, 2)], ["id", "val"])
        with pytest.raises(ValueError, match="duplicate column names"):
            SparkCompare(spark, df, ok, join_columns="id")
        with pytest.raises(ValueError, match="duplicate column names"):
            SparkCompare(spark, ok, df, join_columns="id")
        # lower-casing off does NOT make them referencable: Spark's default
        # case-insensitive resolver would die with AMBIGUOUS_REFERENCE deep
        # in the join — reject up front with an actionable message instead
        with pytest.raises(ValueError, match="differing only by case"):
            SparkCompare(
                spark, df, df, join_columns="id", cast_column_names_lower=False
            )
        # with a case-SENSITIVE resolver the columns are distinct and legal
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            c = SparkCompare(
                spark, df, df, join_columns="id", cast_column_names_lower=False
            )
            assert c.matches()
        finally:
            spark.conf.set("spark.sql.caseSensitive", "false")


class TestKeyExprPerSide:
    def test_trim_decided_by_owning_side(self, spark):
        # df1 key is a padded numeric STRING, df2 key is bigint. The
        # reference trims each side by its own dtype (spark.py:416-427):
        # left gets trimmed (string), right stays bigint, and ' 01 ' vs 1
        # matches via numeric coercion. The old code looked up df1's dtype
        # for BOTH sides.
        df1 = spark.createDataFrame([(" 01 ", "x"), ("2", "y")], "id string, v string")
        df2 = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, v string")
        c = SparkCompare(spark, df1, df2, join_columns="id", ignore_spaces=True)
        assert c.intersect_rows_count == 2
        assert c.count_matching_rows() == 2


class TestIgnoreSpacesDuplicatePairing:
    def test_trimmed_duplicate_keys_share_one_ordinal(self, spark):
        # "a" and "a " are one key under ignore_spaces, so the pairing
        # window must number them as one key group: a window on the raw
        # key gave both ordinal 0 and paired a third row into df2
        df1 = spark.createDataFrame([("a", 1), ("a ", 2)], "k string, v int")
        df2 = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
        c = SparkCompare(
            spark, df1, df2, join_columns="k", ignore_spaces=True, dup_order_by=["v"]
        )
        assert c.df1_row_count == 2 and c.df2_row_count == 2
        assert c.intersect_rows_count == 2
        assert c.matches()
        c.uncache()


class TestPopulateFailure:
    def test_failed_populate_memoizes_nothing_and_releases_cache(self, spark):
        # a populate action that fails must leave neither memo behind (a
        # retry would otherwise read a half-built cache) and must release
        # whatever blocks it cached before the failure
        from datacompy_spark.functions.comparators import BaseComparator

        class Boom(BaseComparator):
            def compare(self, df, col1, col2, **kwargs):
                return F.raise_error(F.lit("comparator boom")).cast("boolean")

        def cached_ids():
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return {i.id() for i in infos if i.numCachedPartitions() > 0}

        df = spark.range(0, 200).select(F.col("id").alias("k"), F.col("id").alias("v"))
        spark.catalog.clearCache()
        before = cached_ids()
        c = SparkCompare(spark, df, df, join_columns="k", custom_comparators=[Boom()])
        for entry in (c.report, c.matches):
            with pytest.raises(Exception, match="comparator boom"):
                entry()
            assert "_exceptions" not in c.__dict__
            assert "_stats" not in c.__dict__
            assert not (cached_ids() - before)


class TestPlainEquiJoin:
    def test_null_keys_become_unique_rows(self, spark):
        # null_safe_join=False: null keys never pair (SQL equi-join
        # semantics) — they surface as unique rows on each side instead
        df1 = spark.createDataFrame([(1, "a"), (None, "b")], "id int, v string")
        df2 = spark.createDataFrame([(1, "a"), (None, "b")], "id int, v string")
        safe = SparkCompare(spark, df1, df2, join_columns="id")
        plain = SparkCompare(spark, df1, df2, join_columns="id", null_safe_join=False)
        assert safe.intersect_rows_count == 2  # null pairs with null
        assert plain.intersect_rows_count == 1
        assert plain.df1_unq_rows_count == 1
        assert plain.df2_unq_rows_count == 1
        assert not plain.matches()


class TestConsistentKeySample:
    def test_sampled_compare_is_a_true_subcompare(self, spark, lineitem):
        from datacompy_spark import consistent_key_sample

        keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
        df1 = lineitem
        df2 = lineitem.withColumn(
            "l_tax",
            F.when(F.col("l_orderkey") % 11 == 0, F.col("l_tax") + 0.01)
            .otherwise(F.col("l_tax")),
        )
        s1 = consistent_key_sample(df1, keys, 0.2)
        s2 = consistent_key_sample(df2, keys, 0.2)
        # same key membership on both sides → no spurious unique rows
        full = SparkCompare(spark, df1, df2, join_columns=keys)
        samp = SparkCompare(spark, s1, s2, join_columns=keys)
        assert samp.df1_unq_rows_count == 0 and samp.df2_unq_rows_count == 0
        n_full, n_samp = full.intersect_rows_count, samp.intersect_rows_count
        assert 0 < n_samp < n_full
        # mismatch RATE estimates the full rate
        rate_full = (n_full - full.count_matching_rows()) / n_full
        rate_samp = (n_samp - samp.count_matching_rows()) / n_samp
        assert abs(rate_full - rate_samp) < 0.05
        # deterministic: re-sampling selects the same rows
        assert consistent_key_sample(df1, keys, 0.2).count() == s1.count()


class TestScaleShapes:
    def test_wide_frame_single_agg_survives(self, spark):
        # 60 value columns: the single statistics aggregate must neither
        # explode codegen nor fall back to per-column actions
        n_cols = 60
        cols = [f"cast(id * {i} % 97 as double) as v{i}" for i in range(n_cols)]
        df1 = spark.range(2000).selectExpr("id", *cols)
        df2 = df1.withColumn("v7", F.col("v7") + 0.5)
        stats = {}

        def column_stats():
            c = SparkCompare(spark, df1, df2, join_columns="id", assume_unique=True)
            stats.update((s["column"], s) for s in c.column_stats)

        assert jobs(spark, column_stats) <= 8, "wide agg split into many actions"
        assert len(stats) == n_cols + 1
        assert stats["v7"]["unequal_cnt"] == 2000
        assert stats["v7"]["max_diff"] == 0.5
        assert all(stats[f"v{i}"]["unequal_cnt"] == 0 for i in range(n_cols) if i != 7)

    def test_heavy_key_skew_pairing(self, spark):
        # one key carries 5000 duplicates: ordinal pairing must stay correct
        # (k-th with k-th) and duplicate detection must fire
        hot = [(1, i, float(i)) for i in range(5000)]
        cold = [(k, 0, float(k)) for k in range(2, 100)]
        df = spark.createDataFrame(hot + cold, "k bigint, ord bigint, v double")
        c = SparkCompare(spark, df, df, join_columns="k", dup_order_by=["ord"])
        assert c.has_duplicates
        assert c.intersect_rows_count == len(hot) + len(cold)
        assert c.count_matching_rows() == len(hot) + len(cold)  # self-compare pairs k-th with k-th


class TestSkew:
    def test_single_hot_key_pairs_correctly(self, spark):
        """Pathological key skew: one join key carrying 20k duplicate rows
        (plus a normal tail). The pairing ordinal windows per key, so the
        hot key serializes onto one task — bounded by a single sort, never
        quadratic — and the k-th-by-order pairing must stay exact."""
        from pyspark.sql import functions as F

        hot = spark.range(20_000).select(
            F.lit(1).alias("id"), F.col("id").alias("seq"), (F.col("id") * 2).alias("v")
        )
        tail = spark.range(2, 1_000).select(
            F.col("id"), F.lit(0).alias("seq"), (F.col("id") * 10).alias("v")
        )
        df1 = hot.unionAll(tail)
        # same rows, two perturbed values inside the hot key
        df2 = df1.withColumn(
            "v",
            F.when((F.col("id") == 1) & (F.col("seq").isin(7, 19_999)), F.col("v") + 1)
            .otherwise(F.col("v")),
        )
        c = SparkCompare(
            spark, df1, df2, join_columns="id", dup_order_by=["seq"]
        )
        assert c.has_duplicates
        stats = {s["column"]: s for s in c.column_stats}
        assert stats["v"]["unequal_cnt"] == 2  # exactly the two perturbed rows
        assert c.intersect_rows_count == 20_000 + 998
        assert c.df1_unq_rows_count == 0 and c.df2_unq_rows_count == 0
        mism = c.all_mismatch().collect()
        # all_mismatch carries join cols + suffixed value pairs
        assert {(r["id"], r["seq_df1"]) for r in mism} == {(1, 7), (1, 19_999)}

    def test_hot_key_warning_names_the_mitigation(self, spark, caplog):
        """r13 verdict item 3: AQE's OptimizeSkewedJoin never splits a
        FULL OUTER join, so a hot compare key serializes onto one task at
        any scale — and the engine already owns the fix
        (dup_join_on_ordinal=True). The statistics pass must self-diagnose
        the condition from the pairing ordinal it already computes (zero
        extra work) and log a warning naming the flag; the re-keyed mode
        and uniform keys stay silent."""
        import logging
        import warnings as _w

        from pyspark.sql import functions as F

        from datacompy_spark.operators import compare as cmp_mod

        # ~30%-hot-key shape (the SCALING.md skew-probe fixture, shrunk):
        # one key carries 12k rows, comfortably over the 10k threshold
        hot = spark.range(12_000).select(
            F.lit(1).alias("id"), F.col("id").alias("seq"), (F.col("id") * 2).alias("v")
        )
        tail = spark.range(2, 28_000).select(
            F.col("id"), F.lit(0).alias("seq"), (F.col("id") * 10).alias("v")
        )
        df1 = hot.unionAll(tail)
        df2 = df1.withColumn(
            "v", F.when(F.col("seq") == 7, F.col("v") + 1).otherwise(F.col("v"))
        )

        def run(**kw):
            c = SparkCompare(spark, df1, df2, join_columns="id",
                             dup_order_by=["seq"], **kw)
            with caplog.at_level(logging.WARNING, logger=cmp_mod.__name__):
                caplog.clear()
                with _w.catch_warnings(record=True) as seen:
                    _w.simplefilter("always")
                    n_matching = c.count_matching_rows()
            hot_msgs = [r for r in caplog.records if "hot join key" in r.message]
            hot_warns = [w for w in seen if "hot join key" in str(w.message)]
            return c, n_matching, hot_msgs, hot_warns

        c_def, n_def, logs, warns = run()
        assert c_def.hot_key_rows == 12_000
        assert len(logs) == 1 and len(warns) == 1
        msg = logs[0].message
        assert "dup_join_on_ordinal=True" in msg  # names the mitigation
        assert "12,000" in msg and "FULL OUTER" in msg  # says why

        # the mitigation mode IS the fix — it must not nag
        c_ord, n_ord, logs, warns = run(dup_join_on_ordinal=True)
        assert not logs and not warns
        assert n_ord == n_def  # identical results either way

        # uniform keys: max ordinal 0, nowhere near the threshold
        u1 = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
        cu = SparkCompare(spark, u1, u1, join_columns="id")
        with caplog.at_level(logging.WARNING, logger=cmp_mod.__name__):
            caplog.clear()
            cu.count_matching_rows()
        assert not [r for r in caplog.records if "hot join key" in r.message]
        assert cu.hot_key_rows == 1


def test_row_classes_one_pass(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id bigint, v string")
    df2 = spark.createDataFrame([(2, "b"), (3, "x"), (4, "d")], "id bigint, v string")
    c = SparkCompare(spark, df1, df2, join_columns="id")
    got = {r["id"]: r["row_class"] for r in c.row_classes().collect()}
    assert got == {1: "left_only", 2: "both", 3: "both", 4: "right_only"}


class TestExplainAndCsvOptions:
    def test_explain_returns_plan_without_jobs(self, spark, lineitem):
        from datacompy_spark import SparkCompare

        c = SparkCompare(
            spark, lineitem, lineitem,
            join_columns=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
        )
        p = c.explain("simple")
        assert isinstance(p, str) and "Physical Plan" in p
        assert "Join" in p
        pf = c.explain("formatted")
        assert "Exchange" in pf or "Join" in pf

    def test_read_csv_dialect_options(self, spark, tmp_path):
        from datacompy_spark.sources.loaders import read_csv

        path = str(tmp_path / "dialect.csv")
        with open(path, "w") as fh:
            fh.write("a;b\n'x;y';NULLISH\n'p';2\n")
        df = read_csv(
            spark, path, delimiter=";", quote="'", nullValue="NULLISH"
        )
        rows = sorted(df.collect(), key=lambda r: r["a"])
        assert rows[1]["a"] == "x;y" and rows[1]["b"] is None
        assert rows[0]["a"] == "p" and rows[0]["b"] == 2


class TestToleranceValidation:
    """A NaN tolerance fails every ``<=`` test, so every non-identical
    value would be a silent mismatch: it is rejected at the API boundary,
    naming the column. An infinite tolerance stays legal."""

    def test_nan_scalar_tolerance_rejected(self, spark, f2):
        for kw in ("abs_tol", "rel_tol"):
            with pytest.raises(ValueError, match=r"columns \['name', 'amount'\] is NaN"):
                SparkCompare(spark, *f2, join_columns="id", **{kw: float("nan")})

    def test_nan_dict_tolerance_names_the_column(self, spark, f2):
        with pytest.raises(ValueError, match="'amount' is NaN"):
            SparkCompare(spark, *f2, join_columns="id", abs_tol={"amount": float("nan")})
        with pytest.raises(ValueError, match="'default' is NaN"):
            SparkCompare(
                spark, *f2, join_columns="id", rel_tol={"default": float("nan"), "amount": 0}
            )

    def test_infinite_tolerance_still_compares(self, spark):
        rows1 = [(1, 1.0), (2, 1.0), (3, float("inf")), (4, float("nan")), (5, -5.0)]
        rows2 = [(1, 1e308), (2, float("inf")), (3, float("inf")), (4, float("nan")), (5, 7.0)]
        df1 = spark.createDataFrame(rows1, "id int, v double")
        df2 = spark.createDataFrame(rows2, "id int, v double")
        for kw in ({"abs_tol": float("inf")}, {"rel_tol": {"v": float("inf")}}):
            c = SparkCompare(spark, df1, df2, join_columns="id", **kw)
            got = {r["id"]: r["v_match"] for r in c.intersect_rows.collect()}
            # non-finite values only match exactly; any finite pair matches
            assert got == {1: True, 2: False, 3: True, 4: True, 5: True}, kw


def _matches_by_key(c, column):
    return {
        r[c.join_columns[0]]: r[f"{column}_match"] for r in c.intersect_rows.collect()
    }


class TestSqlNamesAndLiterals:
    """Identifiers and literals that the compare writes into its plan:
    keyword and spaced names, mixed case under a case-sensitive resolver,
    tolerances across the double range, every lowered join-key type (with
    NULL keys, with and without duplicates) and the string options."""

    @pytest.mark.parametrize("assume_unique", [False, True])
    @pytest.mark.parametrize(
        "key, cols", [("select", ["order", "my col"]), ("my key", ["select", "order"])]
    )
    def test_keyword_and_spaced_names(self, spark, assume_unique, key, cols):
        schema = ", ".join(f"`{c}` {t}" for c, t in [(key, "int"), (cols[0], "string"), (cols[1], "double")])
        df1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], schema)
        df2 = spark.createDataFrame([(1, "a", 1.0), (2, "B", 2.5), (4, "d", 4.0)], schema)
        c = SparkCompare(spark, df1, df2, join_columns=key, assume_unique=assume_unique)
        assert not c.matches()
        assert (c.df1_unq_rows_count, c.df2_unq_rows_count, c.intersect_rows_count) == (1, 1, 2)
        assert c.count_matching_rows() == 1
        assert c.columns_with_mismatches == cols
        assert _matches_by_key(c, cols[0]) == {1: True, 2: False}
        assert _matches_by_key(c, cols[1]) == {1: True, 2: False}
        assert c.all_mismatch().count() == 1
        assert c.sample_mismatch(cols[1]).collect()[0][f"{cols[1]}_df2"] == 2.5
        assert [r[key] for r in c.df1_unq_rows.collect()] == [3]
        assert [r[cols[0]] for r in c.df2_unq_rows.collect()] == ["d"]
        assert c.row_class_matrix().filter("row_class = 'both'").count() == 2
        rep = c.report(sample_count=5)
        assert cols[1] in rep and "2.5" in rep
        c.uncache()

    def test_mixed_case_names_case_sensitive(self, spark):
        df1 = spark.createDataFrame([(1, 10, 20), (2, 11, 21)], "Id int, Val int, val int")
        df2 = spark.createDataFrame([(1, 10, 99), (2, 12, 21)], "Id int, Val int, val int")
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            c = SparkCompare(spark, df1, df2, join_columns="Id", cast_column_names_lower=False)
            assert c.intersect_rows_count == 2 and c.count_matching_rows() == 0
            assert _matches_by_key(c, "Val") == {1: True, 2: False}
            assert _matches_by_key(c, "val") == {1: False, 2: True}
            unequal = {s["column"]: s["unequal_cnt"] for s in c.column_stats}
            assert unequal == {"Id": 0, "Val": 1, "val": 1}
            assert c.all_mismatch().count() == 2
            c.uncache()
        finally:
            spark.conf.set("spark.sql.caseSensitive", "false")

    @pytest.mark.parametrize(
        "tol, pairs",
        [
            # (df1 value, df2 value, expected match)
            (1e-300, [(0.0, 1e-301, True), (0.0, 1e-299, False), (1.0, 1.0, True)]),
            # 1.0 vs 1.1 differ by 0.10000000000000009 in binary64: a
            # DECIMAL 0.1 bound would compare the same way only by luck
            (0.1, [(1.0, 1.05, True), (1.0, 1.1, False), (1.0, 1.2, False)]),
            (1e20, [(1.0, 1e19, True), (0.0, 2e20, False), (-1e20, 0.0, True)]),
            (float("inf"), [(1.0, 1e308, True), (1.0, float("inf"), False), (0.0, -1e300, True)]),
        ],
    )
    def test_tolerance_literals(self, spark, tol, pairs):
        rows1 = [(i, a) for i, (a, _, _) in enumerate(pairs)]
        rows2 = [(i, b) for i, (_, b, _) in enumerate(pairs)]
        df1 = spark.createDataFrame(rows1, "id int, v double")
        df2 = spark.createDataFrame(rows2, "id int, v double")
        want = {i: m for i, (_, _, m) in enumerate(pairs)}
        c = SparkCompare(spark, df1, df2, join_columns="id", abs_tol=tol)
        assert _matches_by_key(c, "v") == want
        assert c.count_matching_rows() == sum(want.values())
        # the same bound reached through rel_tol * |df2 value|
        c = SparkCompare(spark, df1, df2, join_columns="id", rel_tol={"v": tol})
        finite = {i: math.isfinite(a) and math.isfinite(b) for i, (a, b, _) in enumerate(pairs)}
        assert _matches_by_key(c, "v") == {
            i: a == b or (finite[i] and abs(a - b) <= 0.0 + tol * abs(b))
            for i, (a, b, _) in enumerate(pairs)
        }

    @pytest.mark.parametrize("dups", [False, True])
    @pytest.mark.parametrize(
        "dtype, k1, k0, k2",
        [
            ("decimal(10,2)", Decimal("1.50"), Decimal("0.00"), Decimal("7.25")),
            ("date", date(2024, 1, 2), date(1970, 1, 1), date(1999, 12, 31)),
            ("timestamp_ntz", datetime(2024, 1, 2, 3, 4, 5), datetime(1970, 1, 1), datetime(1999, 12, 31, 23, 59)),
            ("string", "a", "", "z z"),
        ],
    )
    def test_nullable_join_keys(self, spark, dtype, k1, k0, k2, dups):
        # k0 is the type's lowering default: a NULL key pairs only with a
        # NULL key, never with the default value
        rows1 = [(k1, 1, "x"), (None, 2, "n"), (k0, 3, "d"), (k2, 4, "only1")]
        rows2 = [(k1, 1, "x"), (None, 2, "N"), (k0, 3, "d")]
        if dups:
            rows1 += [(k1, 5, "x2"), (None, 6, "n2")]
            rows2 += [(k1, 5, "x2"), (None, 6, "n2"), (None, 7, "only2")]
        schema = f"k {dtype}, o int, v string"
        df1 = spark.createDataFrame(rows1, schema)
        df2 = spark.createDataFrame(rows2, schema)
        c = SparkCompare(spark, df1, df2, join_columns="k", dup_order_by=["o"])
        n_both = 5 if dups else 3
        assert c.intersect_rows_count == n_both
        assert (c.df1_unq_rows_count, c.df2_unq_rows_count) == (1, 1 if dups else 0)
        assert c.count_matching_rows() == n_both - 1  # the NULL-key pair "n" vs "N"
        assert c.has_duplicates == dups
        bad = c.all_mismatch().collect()
        assert [(r["k"], r["v_df1"], r["v_df2"]) for r in bad] == [(None, "n", "N")]
        c.uncache()

    @pytest.mark.parametrize(
        "opts, want",
        [
            ({}, {1: True, 2: False, 3: False, 4: False}),
            ({"ignore_spaces": True}, {1: True, 2: True, 3: False, 4: False}),
            ({"ignore_case": True}, {1: True, 2: False, 3: True, 4: False}),
            ({"ignore_spaces": True, "ignore_case": True}, {1: True, 2: True, 3: True, 4: True}),
        ],
    )
    def test_string_options(self, spark, opts, want):
        df1 = spark.createDataFrame(
            [(1, "a"), (2, " a "), (3, "Ab"), (4, " aB")], "id int, s string"
        )
        df2 = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "aB"), (4, "Ab  ")], "id int, s string"
        )
        c = SparkCompare(spark, df1, df2, join_columns="id", **opts)
        assert _matches_by_key(c, "s") == want
        assert c.count_matching_rows() == sum(want.values())

    def test_padded_string_keys_under_ignore_spaces(self, spark):
        df1 = spark.createDataFrame([(" k1", 1), ("k2 ", 2), (None, 3)], "k string, v int")
        df2 = spark.createDataFrame([("k1", 1), ("k2", 2), (None, 3)], "k string, v int")
        assert SparkCompare(spark, df1, df2, join_columns="k").intersect_rows_count == 1
        c = SparkCompare(spark, df1, df2, join_columns="k", ignore_spaces=True)
        assert c.intersect_rows_count == 3 and c.matches()


class TestQuotedIdentifiers:
    """Names with a dot or a backtick are single identifiers in the
    compare's SQL text: before it was built from SQL text, resolving them
    raised UNRESOLVED_COLUMN / INVALID_ATTRIBUTE_NAME_SYNTAX."""

    @pytest.mark.parametrize("assume_unique", [False, True])
    @pytest.mark.parametrize("key, col", [("a.b", "x`y"), ("x`y", "a.b"), ("k", "a.b`c")])
    def test_dot_and_backtick_names(self, spark, assume_unique, key, col):
        q = lambda n: "`" + n.replace("`", "``") + "`"  # noqa: E731
        schema = f"{q(key)} int, {q(col)} double"
        df1 = spark.createDataFrame([(1, 1.0), (2, 2.0), (None, 3.0)], schema)
        df2 = spark.createDataFrame([(1, 1.0), (2, 2.5), (None, 3.0), (4, 4.0)], schema)
        c = SparkCompare(spark, df1, df2, join_columns=key, assume_unique=assume_unique)
        assert c.intersect_rows_count == 3 and c.df2_unq_rows_count == 1
        assert c.count_matching_rows() == 2
        assert c.columns_with_mismatches == [col]
        bad = c.all_mismatch().collect()
        assert [(r[key], r[f"{col}_df1"], r[f"{col}_df2"]) for r in bad] == [(2, 2.0, 2.5)]
        assert c.sample_mismatch(col).count() == 1
        assert [r[col] for r in c.df2_unq_rows.collect()] == [4.0]
        assert col in c.report(sample_count=3)
        c.uncache()
