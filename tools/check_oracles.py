"""Replay the driver's correctness gate locally: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB, compare row counts + sorted values.

Usage: python tools/check_oracles.py [--unswept] [sf_dir] [query ...]

``--unswept`` restricts the run to the registry names OUTSIDE the driver's
50-name sweep window (positions 51+), closing the per-round verification
gap for the half the driver won't reach this round.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, type-normalized frame for comparison."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (list, tuple)):
            s = s.map(lambda v: tuple(v) if v is not None else None)
        try:
            import numpy as np
            if s.dtype == object and s.map(lambda v: isinstance(v, np.ndarray) if v is not None else False).any():
                s = s.map(lambda v: tuple(v.tolist()) if v is not None else None)
        except Exception:
            pass
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda col: col.map(str))


def values_close(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if a.shape != b.shape or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver hashes raw values, so an int 0 vs float 0.0 column is a
        # real mismatch (e.g. DuckDB HUGEINT sums arriving as float64). Flag
        # float-vs-integer dtype drift instead of coercing it away.
        kinds = {av.dtype.kind, bv.dtype.kind}
        if "f" in kinds and kinds & {"i", "u"}:
            print(f"      dtype drift on '{c}': spark={av.dtype} duckdb={bv.dtype}")
            return False
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = [
                (pd.isna(x) and pd.isna(y))
                or (
                    not pd.isna(x)
                    and not pd.isna(y)
                    and (x == y or math.isclose(float(x), float(y), rel_tol=1e-12, abs_tol=1e-12))
                )
                for x, y in zip(av, bv)
            ]
            if not all(ok):
                return False
        else:
            if not av.map(str).equals(bv.map(str)):
                return False
    return True


def main() -> int:
    args = sys.argv[1:]
    # --unswept: check exactly the registry names the driver's 50-name
    # sweep window will NOT reach this round, so the non-swept half still
    # gets a local oracle run every round (CI-side gap closure; the
    # registry is ordered oldest-driver-evidence-first by
    # queries._sweep_order, so the window rotates with the history).
    unswept = "--unswept" in args
    args = [a for a in args if a != "--unswept"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pyspark.sql import SparkSession

    # SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_GRAFT_AQE: partition-count
    # INVARIANCE probe — every oracle result must be identical under a
    # perverse partitioning (e.g. 7 partitions, AQE off); a hash that moves
    # with the partition count is a distributed-nondeterminism bug that
    # would surface as flaky results on a real cluster.
    # SPARK_GRAFT_MASTER (e.g. local-cluster[2,8,8192]): TRANSPORT
    # invariance — the same sweep across a real multi-JVM serializer/
    # network boundary, catching anything that only works because tasks
    # share the driver's JVM or Python process (r13 axis).
    master = os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]",
    )
    if master.startswith("local-cluster"):
        import pyspark as _ps

        os.environ.setdefault(
            "SPARK_HOME", os.path.dirname(_ps.__file__)
        )
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16"),
        )
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    if unswept:
        tail = set(list(qs)[50:])
        only = tail if not only else only & tail
        print(f"--unswept: {len(only)} queries outside the 50-name sweep window")
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(got)} (no oracle, rows-only check)")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        g, w = canon(got), canon(want)
        if len(g) != len(w):
            print(f"FAIL  {name}: rows spark={len(g)} duckdb={len(w)}")
            failures.append(name)
        elif list(g.columns) != list(w.columns):
            print(f"FAIL  {name}: cols spark={list(g.columns)} duckdb={list(w.columns)}")
            failures.append(name)
        elif not values_close(g, w):
            diff_preview = ""
            for i in range(len(g)):
                if not g.iloc[i].map(str).equals(w.iloc[i].map(str)):
                    diff_preview = f" first diff row {i}: spark={g.iloc[i].to_dict()} duckdb={w.iloc[i].to_dict()}"
                    break
            print(f"FAIL  {name}: value mismatch.{diff_preview}")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(g)}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match their oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
