"""Spark Connect lane.

The engine is written to be Connect-portable: no ``.rdd`` in hot paths,
client-side explain capture, a partition probe with a Connect fallback,
and an input-type guard that accepts ``pyspark.sql.connect.dataframe
.DataFrame``. Those branches are worthless untested, so this module has
two tiers:

* **Tier 1 (real Connect)** — when ``grpcio`` is importable, a
  subprocess starts a local Connect server (``SparkSession.builder
  .remote("local[2]")``) and runs the core ``SparkCompare`` flow
  end-to-end over ``sc://``. The subprocess keeps the Connect session out
  of the classic-session process the rest of the suite uses (one process
  cannot host both). Skips with an explicit reason where grpcio is not
  installed (this container bans installs).

* **Tier 2 (always-on)** — the Connect-only fallback branches executed
  against classic Spark through a surface proxy that hides the
  classic-only API (``_jdf``/``_sc``/``rdd``) exactly as a Connect
  DataFrame does, while delegating execution. This is real execution
  coverage for code that would otherwise stay dead until a Connect
  regression finds it.
"""

import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from datacompy_spark import SparkCompare
from datacompy_spark.plans.partitioning import fan_out


class _ConnectSurface:
    """Delegates to a classic DataFrame but hides the classic-only API
    (``_jdf``, ``_sc``, ``rdd``) the way a Connect DataFrame does —
    ``hasattr(df, "_jdf")`` is exactly the dispatch the library uses."""

    _HIDDEN = frozenset({"_jdf", "_sc", "rdd"})

    def __init__(self, df):
        object.__setattr__(self, "_df", df)

    def __getattr__(self, name):
        if name in _ConnectSurface._HIDDEN:
            raise AttributeError(name)
        return getattr(object.__getattribute__(self, "_df"), name)


class TestConnectFallbacksAlwaysOn:
    def test_fan_out_default_guard_skipped_not_blind_shuffle(self, spark):
        # the partition-count probe is impossible on Connect: the frame
        # must pass through untouched (no blind shuffle injected)
        df = spark.range(100).coalesce(1)
        proxy = _ConnectSurface(df)
        assert fan_out(proxy) is proxy

    def test_explain_capture_branch_without_jvm_handle(self, spark, lineitem):
        # SparkCompare.explain falls back to capturing the client-side
        # print when the plan frame has no _jdf (Connect) — exercise that
        # branch with a real plan underneath
        df1 = lineitem.limit(200)
        df2 = lineitem.limit(200)
        c = SparkCompare(
            spark, df1, df2,
            join_columns=["l_orderkey", "l_linenumber"],
            assume_unique=True,
        )
        c._outer  # build the plan with the classic frames first
        c._outer = _ConnectSurface(c._outer)
        text = c.explain("simple")
        assert "Physical Plan" in text and "Join" in text

    def test_input_type_guard_message_names_connect(self, spark):
        # the accepted-types guard must exist even where the connect
        # extras are not importable, and its rejection message must point
        # at both accepted classes
        import pandas as pd

        with pytest.raises(TypeError, match="connect"):
            SparkCompare(
                spark,
                pd.DataFrame({"k": [1]}),
                pd.DataFrame({"k": [1]}),
                join_columns="k",
            )


class TestConnectRealSession:
    def test_compare_end_to_end_over_sc(self, sf_dir, tmp_path):
        pytest.importorskip(
            "grpc",
            reason="grpcio not installed — Spark Connect client library "
            "unavailable in this environment (installs are banned here); "
            "this tier runs automatically where pyspark[connect] exists",
        )
        script = textwrap.dedent(
            f"""
            from pyspark.sql import SparkSession, functions as F
            spark = SparkSession.builder.remote("local[2]").getOrCreate()
            from datacompy_spark import SparkCompare
            base = spark.read.parquet("{sf_dir}/lineitem.parquet").limit(2000)
            new = base.withColumn(
                "l_discount",
                F.when(F.col("l_orderkey") % 7 == 0, F.col("l_discount") + 0.004)
                 .otherwise(F.col("l_discount")))
            c = SparkCompare(spark, base, new,
                             join_columns=["l_orderkey", "l_linenumber"])
            rep = c.report(sample_count=2)
            assert "l_discount" in rep
            assert c.count_matching_rows() > 0
            assert "Join" in c.explain("simple")
            print("CONNECT_E2E_OK")
            """
        )
        import pathlib

        repo_root = str(pathlib.Path(__file__).resolve().parents[1])
        proc = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True, text=True, timeout=600, cwd=repo_root,
        )
        assert "CONNECT_E2E_OK" in proc.stdout, proc.stderr[-2000:]
