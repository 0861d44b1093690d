"""r14 optimization measurement harness: per-query timing + plan capture.

Usage: python tools/opt_measure.py [--sf DIR] [--tag before|after] [--runs N]
           [--plan-only] query [query ...]

For each named registry query:
  * captures ``explain("formatted")`` to ``plans/r14/<query>_<tag>.txt``
  * times the bench's action (``.count()``) N times in one session
    (bench methodology: same session config, cache cleared between runs)
  * prints per-run seconds and the min/last

Runs on an otherwise-idle machine; this is the A/B instrument for the
optimization round, not a driver artifact (bench.py stays the record).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default=None, help="plan file suffix; no plan capture if omitted")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from datacompy_spark.session import apply_recommended_conf  # mirror bench.py

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        apply_recommended_conf(SparkSession.builder.master(f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("opt-measure")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from datacompy_spark.queries import QUERIES
    from perfbench.trace import StatusStore

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r15"),
    )
    os.makedirs(plans_dir, exist_ok=True)

    # status-store deltas over the LAST run — the pressure-proof A/B proxy
    # (shared-VM wall clocks lie; job and task counts cannot)
    store = StatusStore(spark)

    for name in args.queries:
        if name not in QUERIES:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        fn = QUERIES[name]
        if args.tag:
            from datacompy_spark.plans import barrier

            barrier.PLAN_AUDIT_SINK = []
            try:
                df = fn(spark, args.sf)
                txt = spark.sparkContext._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                fragments = list(barrier.PLAN_AUDIT_SINK)
            finally:
                barrier.PLAN_AUDIT_SINK = None
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
                for i, qe in enumerate(fragments):
                    fh.write(
                        f"\n\n=== pre-barrier fragment {i + 1}/{len(fragments)} "
                        "(lineage_barrier truncates these from the final plan) ===\n"
                    )
                    fh.write(
                        spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted")
                    )
            spark.catalog.clearCache()
            print(f"{name}: plan -> {path} (+{len(fragments)} fragments)", flush=True)
        if args.plan_only:
            continue
        runs = []
        for i in range(args.runs):
            spark.sparkContext.setJobGroup(f"{name}#r{i}", name)
            start = store.mark()
            t0 = time.perf_counter()
            fn(spark, args.sf).count()
            runs.append(round(time.perf_counter() - t0, 3))
            last = store.since(start)
            spark.catalog.clearCache()
        print(
            f"{name}: runs={runs} min={min(runs)} last={runs[-1]} "
            f"jobs={last['jobs']} tasks={last['tasks']} evicted={last['evicted']}",
            flush=True,
        )

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
