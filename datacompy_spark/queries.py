"""Driver-contract queries: Spark implementations + DuckDB oracle SQL twins.

Each query exercises one operator family from SURVEY.md §2 on the shared
testdata tables. The Spark side runs through the real engine
(``SparkCompare`` / the pipeline operators); the oracle side re-expresses
the same semantics in ANSI SQL that DuckDB executes over the same parquet.

CROSS-ENGINE RULES (the driver hash-compares values after sorting columns
by name):
* every computed column carries the SAME alias in both engines;
* float literals are written ``x::DOUBLE`` in SQL so both engines do
  identical IEEE double arithmetic;
* null-safe equality is ``eqNullSafe`` / ``IS NOT DISTINCT FROM``;
* derivations of the "right-hand" comparison frame are deterministic
  functions of the shared tables, expressed identically in both engines.

Data caveat driving key choice: ``(l_orderkey, l_linenumber)`` is ~24%
duplicated in the testdata; ``(l_orderkey, l_linenumber, l_partkey,
l_suppkey)`` is unique at sf0.01+ — the main comparison scenario joins on
the 4-column key, and the dedicated duplicate-key query exercises the
ordinal path explicitly with a total-order tiebreak.
"""

from __future__ import annotations

import json
import re
from functools import reduce
from pathlib import Path
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacompy_spark.operators.compare import SparkCompare
from datacompy_spark.sources.loaders import load_table

# --------------------------------------------------------------------------
# shared lineitem comparison scenario (FIXTURES.md F7)
# --------------------------------------------------------------------------

LI_KEYS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
LI_VALS = [
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]
LI_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate",
]
_LI_NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_LI_ABS_TOL = {"l_extendedprice": 0.01, "default": 0.0}

_LI_DF2_SELECT = """
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    CASE WHEN l_orderkey % 10 = 3 THEN l_extendedprice + 0.001::DOUBLE ELSE l_extendedprice END AS l_extendedprice,
    CASE WHEN l_orderkey % 17 = 0 THEN NULL ELSE l_discount END AS l_discount,
    CASE WHEN l_orderkey % 11 = 0 THEN l_tax + 0.5::DOUBLE ELSE l_tax END AS l_tax,
    CASE WHEN l_orderkey % 13 = 0 THEN lower(l_returnflag) ELSE l_returnflag END AS l_returnflag,
    l_linestatus, l_shipdate
  FROM lineitem WHERE l_orderkey % 50 <> 1"""


def _li_pair(spark: SparkSession, sf_dir: str):
    """df1 = lineitem minus every 50th order; df2 = lineitem minus a different
    50th, with deterministic perturbations covering each comparator family:
    within-tolerance numeric, outside-tolerance numeric, nulled values,
    string case change."""
    li = load_table(spark, sf_dir, "lineitem")
    df1 = li.filter(F.col("l_orderkey") % 50 != 0)
    df2 = (
        li.filter(F.col("l_orderkey") % 50 != 1)
        .withColumn(
            "l_extendedprice",
            F.when(F.col("l_orderkey") % 10 == 3, F.col("l_extendedprice") + F.lit(0.001))
            .otherwise(F.col("l_extendedprice")),
        )
        .withColumn(
            "l_discount",
            F.when(F.col("l_orderkey") % 17 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("l_discount")),
        )
        .withColumn(
            "l_tax",
            F.when(F.col("l_orderkey") % 11 == 0, F.col("l_tax") + F.lit(0.5))
            .otherwise(F.col("l_tax")),
        )
        .withColumn(
            "l_returnflag",
            F.when(F.col("l_orderkey") % 13 == 0, F.lower(F.col("l_returnflag")))
            .otherwise(F.col("l_returnflag")),
        )
    )
    return df1, df2


def _li_compare(spark: SparkSession, sf_dir: str) -> SparkCompare:
    df1, df2 = _li_pair(spark, sf_dir)
    # assume_unique: the DuckDB oracles express a PLAIN outer join, and the
    # 4-col key is unique at the correctness-gate SF — skipping ordinal
    # pairing both matches the oracle semantics exactly and removes the
    # window shuffles (2 exchanges instead of 4)
    return SparkCompare(
        spark, df1, df2, join_columns=LI_KEYS, abs_tol=_LI_ABS_TOL, assume_unique=True
    )


def _li_key_cond(t1: str = "df1", t2: str = "df2") -> str:
    return " AND ".join(
        f"{t1}.{k} IS NOT DISTINCT FROM {t2}.{k}" for k in LI_KEYS
    )


def _li_ctes() -> str:
    """Shared DuckDB CTEs: df1, df2 (perturbed), j (suffixed outer join)."""
    keys = ",\n    ".join(
        f"COALESCE(df1.{k}, df2.{k}) AS {k}" for k in LI_KEYS
    )
    pairs = ",\n    ".join(
        f"df1.{c} AS {c}_df1, df2.{c} AS {c}_df2" for c in LI_VALS
    )
    return f"""
WITH df1 AS (SELECT * FROM lineitem WHERE l_orderkey % 50 <> 0),
df2 AS ({_LI_DF2_SELECT}
),
j AS (
  SELECT
    df1.l_orderkey IS NOT NULL AS in1, df2.l_orderkey IS NOT NULL AS in2,
    {keys},
    {pairs}
  FROM df1 FULL OUTER JOIN df2 ON {_li_key_cond()}
)"""


def _li_match_sql(c: str) -> str:
    """DuckDB predicate mirroring the engine's comparator for column c."""
    a, b = f"{c}_df1", f"{c}_df2"
    atol = _LI_ABS_TOL.get(c, _LI_ABS_TOL["default"])
    if c in _LI_NUMERIC and atol > 0:
        return (
            f"(({a} IS NOT DISTINCT FROM {b}) OR ({a} IS NOT NULL AND {b} IS NOT NULL"
            f" AND abs({a} - {b}) <= {atol}::DOUBLE))"
        )
    return f"({a} IS NOT DISTINCT FROM {b})"


def _li_all_match_sql() -> str:
    return " AND ".join(_li_match_sql(c) for c in LI_VALS)


# --------------------------------------------------------------------- Q1

def q_cmp_row_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row classification from the null-safe full outer join (J1/P3/P4) —
    one pass over the merge indicator (a 3-way union of the derived frames
    would evaluate the join three times)."""
    return _li_compare(spark, sf_dir).row_classes()


SQL_CMP_ROW_CLASSES = (
    _li_ctes()
    + f"""
SELECT {', '.join(LI_KEYS)},
  CASE WHEN NOT in2 THEN 'left_only' WHEN NOT in1 THEN 'right_only' ELSE 'both' END AS row_class
FROM j"""
)


# --------------------------------------------------------------------- Q2

def q_cmp_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column match/null-diff/max-diff statistics (A1+A3+A4, single agg)."""
    c = _li_compare(spark, sf_dir)
    rows = [
        (s["column"], s["match_cnt"], s["unequal_cnt"], s["null_diff"], float(s["max_diff"]))
        for s in c.column_stats
    ]
    schema = T.StructType(
        [
            T.StructField("col_name", T.StringType()),
            T.StructField("match_cnt", T.LongType()),
            T.StructField("unequal_cnt", T.LongType()),
            T.StructField("null_diff", T.LongType()),
            T.StructField("max_diff", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _sql_cmp_column_stats() -> str:
    parts = []
    # join columns appear as always-matching entries with zero diffs
    # (reference parity, spark.py:588-600)
    for c in LI_KEYS:
        parts.append(
            f"""SELECT '{c}' AS col_name,
  sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END)::BIGINT AS match_cnt,
  0::BIGINT AS unequal_cnt,
  0::BIGINT AS null_diff,
  0.0::DOUBLE AS max_diff
FROM j"""
        )
    for c in LI_VALS:
        a, b = f"{c}_df1", f"{c}_df2"
        if c in _LI_NUMERIC:
            maxd = f"COALESCE(max(CASE WHEN in1 AND in2 AND {a} IS NOT NULL AND {b} IS NOT NULL THEN abs({a} - {b}) END), 0.0::DOUBLE)"
        else:
            maxd = "0.0::DOUBLE"
        parts.append(
            f"""SELECT '{c}' AS col_name,
  sum(CASE WHEN in1 AND in2 AND {_li_match_sql(c)} THEN 1 ELSE 0 END)::BIGINT AS match_cnt,
  sum(CASE WHEN in1 AND in2 AND NOT {_li_match_sql(c)} THEN 1 ELSE 0 END)::BIGINT AS unequal_cnt,
  sum(CASE WHEN in1 AND in2 AND (({a} IS NULL) <> ({b} IS NULL)) THEN 1 ELSE 0 END)::BIGINT AS null_diff,
  {maxd} AS max_diff
FROM j"""
        )
    return _li_ctes() + "\n" + "\nUNION ALL\n".join(parts)


SQL_CMP_COLUMN_STATS = _sql_cmp_column_stats()


# --------------------------------------------------------------------- Q3

def q_cmp_unique_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-row extraction with original column names (P4/P8)."""
    c = _li_compare(spark, sf_dir)
    cols = c.df1.columns
    return (
        c.df1_unq_rows.select(F.lit("df1").alias("side"), *cols)
        .unionAll(c.df2_unq_rows.select(F.lit("df2").alias("side"), *cols))
    )


def _sql_cmp_unique_rows() -> str:
    cols = ", ".join(LI_COLS)
    return f"""
WITH df1 AS (SELECT * FROM lineitem WHERE l_orderkey % 50 <> 0),
df2 AS ({_LI_DF2_SELECT}
)
SELECT 'df1' AS side, {cols} FROM df1
WHERE NOT EXISTS (SELECT 1 FROM df2 WHERE {_li_key_cond('df2', 'df1')})
UNION ALL
SELECT 'df2' AS side, {cols} FROM df2
WHERE NOT EXISTS (SELECT 1 FROM df1 WHERE {_li_key_cond('df1', 'df2')})"""


SQL_CMP_UNIQUE_ROWS = _sql_cmp_unique_rows()


# --------------------------------------------------------------------- Q4

def q_cmp_all_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every intersect row with >=1 mismatching column (L2/P6/A2)."""
    return _li_compare(spark, sf_dir).all_mismatch()


def _sql_cmp_all_mismatch() -> str:
    pairs = ", ".join(f"{c}_df1, {c}_df2" for c in LI_VALS)
    return (
        _li_ctes()
        + f"""
SELECT {', '.join(LI_KEYS)}, {pairs}
FROM j WHERE in1 AND in2 AND NOT ({_li_all_match_sql()})"""
    )


SQL_CMP_ALL_MISMATCH = _sql_cmp_all_mismatch()


# --------------------------------------------------------------------- Q5

def q_cmp_matches_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean check API as one summary row (SURVEY §2.11)."""
    c = _li_compare(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("n_df1", T.LongType()),
            T.StructField("n_df2", T.LongType()),
            T.StructField("n_common", T.LongType()),
            T.StructField("n_left_only", T.LongType()),
            T.StructField("n_right_only", T.LongType()),
            T.StructField("n_matching_rows", T.LongType()),
            T.StructField("matches", T.BooleanType()),
            T.StructField("all_rows_overlap", T.BooleanType()),
            T.StructField("intersect_rows_match", T.BooleanType()),
        ]
    )
    row = (
        c.df1_row_count,
        c.df2_row_count,
        c.intersect_rows_count,
        c.df1_unq_rows_count,
        c.df2_unq_rows_count,
        c.count_matching_rows(),
        c.matches(),
        c.all_rows_overlap(),
        c.intersect_rows_match(),
    )
    return spark.createDataFrame([row], schema)


SQL_CMP_MATCHES_SUMMARY = (
    _li_ctes()
    + f""",
agg AS (
  SELECT
    sum(CASE WHEN in1 THEN 1 ELSE 0 END)::BIGINT AS n_df1,
    sum(CASE WHEN in2 THEN 1 ELSE 0 END)::BIGINT AS n_df2,
    sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END)::BIGINT AS n_common,
    sum(CASE WHEN in1 AND NOT in2 THEN 1 ELSE 0 END)::BIGINT AS n_left_only,
    sum(CASE WHEN in2 AND NOT in1 THEN 1 ELSE 0 END)::BIGINT AS n_right_only,
    sum(CASE WHEN in1 AND in2 AND {_li_all_match_sql()} THEN 1 ELSE 0 END)::BIGINT AS n_matching_rows
  FROM j)
SELECT n_df1, n_df2, n_common, n_left_only, n_right_only, n_matching_rows,
  (n_left_only = 0 AND n_right_only = 0 AND n_common > 0 AND n_matching_rows = n_common) AS matches,
  (n_left_only = 0 AND n_right_only = 0) AS all_rows_overlap,
  (n_common > 0 AND n_matching_rows = n_common) AS intersect_rows_match
FROM agg"""
)


# --------------------------------------------------------------------- Q6

_DUP_ORDER = ["l_linenumber", "l_partkey", "l_suppkey"]  # total order within key group
_DUP_VALS = [
    "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
]


def q_cmp_dupes_by_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key ordinal pairing (J2/W1): join lineitem on the non-unique
    l_orderkey alone; the k-th line on the left pairs with the k-th on the
    right, ordered by a deterministic total order."""
    li = load_table(spark, sf_dir, "lineitem")
    df1 = li
    df2 = li.filter(F.col("l_linenumber") <= 5).withColumn(
        "l_quantity",
        F.when(
            (F.col("l_orderkey") % 9 == 0) & (F.col("l_linenumber") == 1),
            F.col("l_quantity") + F.lit(1.0),
        ).otherwise(F.col("l_quantity")),
    )
    # l_orderkey is a TPC-H primary-key component — never NULL — so the
    # null-safe join lowers to plain equality: the outer join then reuses
    # the ordinal window's key partitioning instead of re-shuffling on
    # (coalesce(k), isnull(k)) hash keys (measured: 10 → fewer exchanges).
    # Same results; the oracle twin joins on plain equality too.
    c = SparkCompare(
        spark,
        df1,
        df2,
        join_columns=["l_orderkey"],
        dup_order_by=_DUP_ORDER,
        null_safe_join=False,
    )
    # single-pass rollup over row_class_matrix(): the outer join is
    # evaluated ONCE and aggregated ONCE. The previous shape — per-class
    # groupBys over intersect_rows and df1_unq_rows stitched by a third
    # full-outer join — re-evaluated the join per branch (12 exchanges /
    # 6 SMJ / 8 scans pre-AQE → 4 / 1 / 2 with this rollup).
    all_match = reduce(lambda a, b: a & b, [F.col(f"{v}_match") for v in _DUP_VALS])
    both = F.col("row_class") == "both"
    return c.row_class_matrix().groupBy("l_orderkey").agg(
        F.sum(F.when(both, 1).otherwise(0)).alias("n_both"),
        F.sum(F.when(both & all_match, 1).otherwise(0)).alias("n_row_match"),
        F.sum(F.when(F.col("row_class") == "left_only", 1).otherwise(0)).alias(
            "n_left_only"
        ),
    )


def _sql_cmp_dupes() -> str:
    order = ", ".join(_DUP_ORDER)
    eq = " AND ".join(f"(d1.{v} IS NOT DISTINCT FROM d2.{v})" for v in _DUP_VALS)
    return f"""
WITH d1 AS (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY {order}) - 1 AS ord
  FROM lineitem),
d2 AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
    CASE WHEN l_orderkey % 9 = 0 AND l_linenumber = 1 THEN l_quantity + 1.0::DOUBLE ELSE l_quantity END AS l_quantity,
    l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
    row_number() OVER (PARTITION BY l_orderkey ORDER BY {order}) - 1 AS ord
  FROM lineitem WHERE l_linenumber <= 5)
SELECT COALESCE(d1.l_orderkey, d2.l_orderkey) AS l_orderkey,
  sum(CASE WHEN d1.l_orderkey IS NOT NULL AND d2.l_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_both,
  sum(CASE WHEN d1.l_orderkey IS NOT NULL AND d2.l_orderkey IS NOT NULL AND {eq} THEN 1 ELSE 0 END)::BIGINT AS n_row_match,
  sum(CASE WHEN d2.l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_left_only
FROM d1 FULL OUTER JOIN d2
  ON d1.l_orderkey IS NOT DISTINCT FROM d2.l_orderkey AND d1.ord = d2.ord
GROUP BY 1"""


SQL_CMP_DUPES = _sql_cmp_dupes()


# --------------------------------------------------------------------- Q7

def q_cmp_string_timestamp_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type string↔timestamp comparison with TRY_CAST for malformed
    strings (C4, ref string.py:315-321)."""
    ev = load_table(spark, sf_dir, "events")
    df1 = ev.select("event_id", "ts")
    df2 = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit("not-a-timestamp"))
        .otherwise(F.col("ts").cast("string"))
        .alias("ts"),
    )
    c = SparkCompare(spark, df1, df2, join_columns=["event_id"], assume_unique=True)
    return c.intersect_rows.select("event_id", F.col("ts_match").alias("ts_match"))


SQL_CMP_STRING_TS_CAST = """
WITH df2 AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN 'not-a-timestamp' ELSE ts::VARCHAR END AS ts_s
  FROM events)
SELECT e.event_id, (TRY_CAST(d.ts_s AS TIMESTAMP) IS NOT DISTINCT FROM e.ts) AS ts_match
FROM events e JOIN df2 d USING (event_id)"""


# --------------------------------------------------------------------- Q8

def q_cmp_bool_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boolean↔numeric comparison: True↔1 / False↔0 (C2, ref boolean.py:170-274)."""
    ev = load_table(spark, sf_dir, "events")
    df1 = ev.select("event_id", (F.col("value") > F.lit(0.5)).alias("flag"))
    base = (F.col("value") > F.lit(0.5)).cast("int")
    df2 = ev.select(
        "event_id",
        F.when(F.col("event_id") % 11 == 0, F.lit(1) - base).otherwise(base).alias("flag"),
    )
    c = SparkCompare(spark, df1, df2, join_columns=["event_id"], assume_unique=True)
    return c.intersect_rows.select("event_id", F.col("flag_match").alias("flag_match"))


SQL_CMP_BOOL_NUMERIC = """
WITH df1 AS (SELECT event_id, (value > 0.5::DOUBLE) AS flag FROM events),
df2 AS (
  SELECT event_id,
    CASE WHEN event_id % 11 = 0 THEN 1 - (value > 0.5::DOUBLE)::INT
         ELSE (value > 0.5::DOUBLE)::INT END AS flag
  FROM events)
SELECT df1.event_id,
  CASE WHEN df1.flag IS NULL AND df2.flag IS NULL THEN TRUE
       WHEN df1.flag IS NULL OR df2.flag IS NULL THEN FALSE
       WHEN df1.flag THEN df2.flag = 1
       ELSE df2.flag = 0 END AS flag_match
FROM df1 JOIN df2 USING (event_id)"""


# --------------------------------------------------------------------- Q9

def q_cmp_array_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive null-safe array equality (C1, ref array.py:129-160)."""
    emb = load_table(spark, sf_dir, "embeddings")
    df1 = emb.select("vec_id", "embedding")
    df2 = emb.select(
        "vec_id",
        F.when(F.col("label") % 5 == 0, F.reverse(F.col("embedding")))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    c = SparkCompare(spark, df1, df2, join_columns=["vec_id"], assume_unique=True)
    return c.intersect_rows.select(
        "vec_id", F.col("embedding_match").alias("embedding_match")
    )


SQL_CMP_ARRAY_EQUAL = """
WITH df2 AS (
  SELECT vec_id,
    CASE WHEN label % 5 = 0 THEN list_reverse(embedding) ELSE embedding END AS embedding
  FROM embeddings)
SELECT e.vec_id, (e.embedding IS NOT DISTINCT FROM d.embedding) AS embedding_match
FROM embeddings e JOIN df2 d USING (vec_id)"""


# -------------------------------------------------------------------- Q10

def q_cmp_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-valued join keys through the null-safe outer join (J1's core
    semantic: NULL <=> NULL pairs, NULL vs value does not). The two sides
    null the region_key on DIFFERENT divisor rules, so custkeys divisible
    by exactly one of {37, 41} land as left_only + right_only (key
    disagreement), divisible by both pair NULL==NULL, and the rest pair
    normally with a value perturbation every 10th key."""
    cust = load_table(spark, sf_dir, "customer")

    def side(null_mod: int, perturb: bool) -> DataFrame:
        key = F.when(
            F.col("c_custkey") % null_mod == 0, F.lit(None).cast("long")
        ).otherwise(F.col("c_nationkey"))
        bal = F.col("c_acctbal")
        if perturb:
            bal = F.when(F.col("c_custkey") % 10 == 0, bal + 0.01).otherwise(bal)
        return cust.select(
            key.alias("region_key"), "c_custkey", bal.alias("c_acctbal")
        )

    c = SparkCompare(
        spark,
        side(37, False),
        side(41, True),
        join_columns=["region_key", "c_custkey"],
        assume_unique=True,
    )
    rc = c.row_classes().select("c_custkey", "row_class")
    m = c.intersect_rows.select(
        "c_custkey", F.col("c_acctbal_match").alias("acctbal_match")
    )
    return rc.join(m, "c_custkey", "left").select(
        "c_custkey",
        "row_class",
        # non-null boolean: engines disagree on how a NULL bool serializes
        # (None vs NaN), and row_class already disambiguates non-both rows
        F.coalesce(F.col("acctbal_match"), F.lit(False)).alias("acctbal_match"),
    )


SQL_CMP_NULL_KEYS = """
WITH df1 AS (
  SELECT CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE c_nationkey END AS region_key,
         c_custkey, c_acctbal
  FROM customer),
df2 AS (
  SELECT CASE WHEN c_custkey % 41 = 0 THEN NULL ELSE c_nationkey END AS region_key,
         c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 0.01 ELSE c_acctbal END AS c_acctbal
  FROM customer),
j AS (
  SELECT COALESCE(df1.c_custkey, df2.c_custkey) AS c_custkey,
    df1.c_custkey IS NOT NULL AS in1, df2.c_custkey IS NOT NULL AS in2,
    (df1.c_acctbal IS NOT DISTINCT FROM df2.c_acctbal) AS m
  FROM df1 FULL OUTER JOIN df2
    ON df1.region_key IS NOT DISTINCT FROM df2.region_key
   AND df1.c_custkey = df2.c_custkey)
SELECT c_custkey,
  CASE WHEN NOT in2 THEN 'left_only'
       WHEN NOT in1 THEN 'right_only'
       ELSE 'both' END AS row_class,
  coalesce(CASE WHEN in1 AND in2 THEN m END, FALSE) AS acctbal_match
FROM j"""


# -------------------------------------------------------------------- Q11

def q_cmp_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct / map / binary comparison through ``ComplexComparator`` — the
    one comparator family that extends BEYOND the reference (which leaves
    these types to the constant-False fallthrough, ref spark.py:989-990).

    Three complex columns ride one pass over ``orders``:

    * ``meta`` struct(status, prio): side 2 nulls ``status`` on the same
      %23 rows as side 1 (inner NULL==NULL must match — probed: Spark's
      struct ``eqNullSafe`` treats inner nulls as equal, identical to
      per-field IS NOT DISTINCT FROM) and perturbs it to '?' on %13 rows.
    * ``props`` map: side 2 reverses INSERTION order (sorted-entry
      comparison must still match) and perturbs the 'prio' value on %17.
    * ``payload`` binary: utf-8 bytes of priority, perturbed on %29.
    """
    ords = load_table(spark, sf_dir, "orders")
    null23 = F.col("o_orderkey") % 23 == 0
    s1 = F.when(null23, F.lit(None).cast("string")).otherwise(F.col("o_orderstatus"))
    s2 = F.when(null23, F.lit(None).cast("string")).otherwise(
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("?")).otherwise(
            F.col("o_orderstatus")
        )
    )
    prio2 = F.when(
        F.col("o_orderkey") % 17 == 0, F.concat(F.col("o_orderpriority"), F.lit("_x"))
    ).otherwise(F.col("o_orderpriority"))
    pay2 = F.when(
        F.col("o_orderkey") % 29 == 0, F.concat(F.col("o_orderpriority"), F.lit("!"))
    ).otherwise(F.col("o_orderpriority"))
    df1 = ords.select(
        "o_orderkey",
        F.struct(s1.alias("status"), F.col("o_orderpriority").alias("prio")).alias("meta"),
        F.create_map(
            F.lit("prio"), F.col("o_orderpriority"),
            F.lit("cust"), F.col("o_custkey").cast("string"),
        ).alias("props"),
        F.encode(F.col("o_orderpriority"), "utf-8").alias("payload"),
    )
    df2 = ords.select(
        "o_orderkey",
        F.struct(s2.alias("status"), F.col("o_orderpriority").alias("prio")).alias("meta"),
        # reversed insertion order — content-equal except the %17 perturbation
        F.create_map(
            F.lit("cust"), F.col("o_custkey").cast("string"),
            F.lit("prio"), prio2,
        ).alias("props"),
        F.encode(pay2, "utf-8").alias("payload"),
    )
    c = SparkCompare(spark, df1, df2, join_columns=["o_orderkey"], assume_unique=True)
    return c.intersect_rows.select(
        "o_orderkey",
        F.col("meta_match").alias("meta_match"),
        F.col("props_match").alias("props_match"),
        F.col("payload_match").alias("payload_match"),
    )


SQL_CMP_STRUCT_MAP = """
WITH s AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 23 = 0 THEN NULL ELSE o_orderstatus END AS s1,
    CASE WHEN o_orderkey % 23 = 0 THEN NULL
         WHEN o_orderkey % 13 = 0 THEN '?'
         ELSE o_orderstatus END AS s2,
    o_orderpriority AS p1,
    CASE WHEN o_orderkey % 17 = 0 THEN o_orderpriority || '_x'
         ELSE o_orderpriority END AS p2,
    CASE WHEN o_orderkey % 29 = 0 THEN o_orderpriority || '!'
         ELSE o_orderpriority END AS b2
  FROM orders)
SELECT o_orderkey,
  (s1 IS NOT DISTINCT FROM s2) AS meta_match,
  (p1 IS NOT DISTINCT FROM p2) AS props_match,
  (p1 IS NOT DISTINCT FROM b2) AS payload_match
FROM s"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

from datacompy_spark.queries_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402

def _newest_green_rounds() -> Dict[str, int]:
    """Newest driver round in which each query was green, read from the
    ``CORRECTNESS_r<N>.json`` history files in the repository root. Green
    is ``rows_match`` with no ``err`` and a ``hash_match`` that is not
    ``False`` (a failed value hash is a red row). Files whose names do not
    end in ``_r<N>.json`` and files that do not parse are skipped."""
    newest: Dict[str, int] = {}
    for path in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if m is None:
            continue
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        rnd = int(m.group(1))
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and not row.get("err")
                and row.get("hash_match") is not False
            ):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


# The driver's correctness sweep samples the FIRST 50 registry names each
# round, so the registry is ordered oldest-driver-evidence-first: names
# never green (round 0) lead, then ascending newest green round; ties keep
# registry order (a stable sort). With no history files the order is the
# registry order. ``tools/check_oracles.py --unswept`` covers the rest.
_NEWEST_GREEN = _newest_green_rounds()


def _sweep_order(merged: dict) -> dict:
    """Return ``merged`` reordered oldest-driver-evidence-first."""
    return dict(sorted(merged.items(), key=lambda kv: _NEWEST_GREEN.get(kv[0], 0)))


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cmp_row_classes": q_cmp_row_classes,
    "cmp_column_stats": q_cmp_column_stats,
    "cmp_unique_rows": q_cmp_unique_rows,
    "cmp_all_mismatch": q_cmp_all_mismatch,
    "cmp_matches_summary": q_cmp_matches_summary,
    "cmp_dupes_by_ordinal": q_cmp_dupes_by_ordinal,
    "cmp_string_timestamp_cast": q_cmp_string_timestamp_cast,
    "cmp_bool_numeric": q_cmp_bool_numeric,
    "cmp_array_equal": q_cmp_array_equal,
    "cmp_null_keys": q_cmp_null_keys,
    "cmp_struct_map": q_cmp_struct_map,
    **PIPELINE_QUERIES,
}
QUERIES = _sweep_order(QUERIES)

ORACLES: Dict[str, str] = {
    "cmp_row_classes": SQL_CMP_ROW_CLASSES,
    "cmp_column_stats": SQL_CMP_COLUMN_STATS,
    "cmp_unique_rows": SQL_CMP_UNIQUE_ROWS,
    "cmp_all_mismatch": SQL_CMP_ALL_MISMATCH,
    "cmp_matches_summary": SQL_CMP_MATCHES_SUMMARY,
    "cmp_dupes_by_ordinal": SQL_CMP_DUPES,
    "cmp_string_timestamp_cast": SQL_CMP_STRING_TS_CAST,
    "cmp_bool_numeric": SQL_CMP_BOOL_NUMERIC,
    "cmp_array_equal": SQL_CMP_ARRAY_EQUAL,
    "cmp_null_keys": SQL_CMP_NULL_KEYS,
    "cmp_struct_map": SQL_CMP_STRUCT_MAP,
    **PIPELINE_ORACLES,
}
ORACLES = _sweep_order(ORACLES)
