"""Benchmark of the datacompy_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload compare_lineitem --seed 1 --seconds 16 --trace 0

Run from the repository root. The run starts a fresh Spark session on
``local[<cores>]`` in this process, writes its inputs from the seed, computes
their ground truth with DuckDB, times one cold unit of work, runs
the workload's ``warmup_units`` untimed and then times as many warm units as fit in
``--seconds`` (one client, closed loop), checking every unit's output. Everything it writes lives in a temporary directory inside the
checkout that it removes on exit.

The last line of standard output is the result, a JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the spans around each
layer call are printed one per line, and the metrics are the per-layer ones.
The line before the result holds the detail: sample counts, the tail
percentile, the failure rate, the per-unit counters and the Spark conf.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# counters that must repeat exactly from one unit to the next
DETERMINISTIC = ("jobs", "stages", "tasks", "shuffle_write_bytes")
# end-to-end metrics printed in the detail line but not in the result
DETAIL_ONLY = ("failure_rate", "latency_tail_s")


def tail(samples):
    """``(percentile, value)``: the highest whole percentile with at least
    ten samples above it, or the maximum when that percentile would fall
    below the median (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 100, xs[-1]
    p = (100 * (n - 10)) // n
    return p, xs[max((p * n + 99) // 100 - 1, 0)]


def start_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    from datacompy_spark.session import apply_recommended_conf

    tmp = os.path.join(work, "tmp")
    builder = apply_recommended_conf(
        SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    )
    conf = {
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # counters are status-store deltas: keep every job and stage of a run
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus this process's maximum RSS."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def per_layer(tr, units):
    """Median per unit of each layer metric over the timed units."""
    rows = []
    for root_id in units:
        root = tr.spans[root_id]
        kids = [s for s in tr.spans if s["parent"] == root_id]

        def total(name, key=None, spark_key=None):
            picked = [s for s in kids if s["name"] == name]
            if spark_key:
                return sum(s["spark"][spark_key] for s in picked)
            return sum(s.get(key or "wall_s", 0.0) or 0.0 for s in picked)

        row = {
            "operators.compare.init_s": total("operators.compare.init"),
            "operators.compare.init_py4j_calls": total("operators.compare.init", "py4j_calls"),
            "plans.report.build_s": total("plans.report.build"),
            "plans.report.build_jobs": total("plans.report.build", spark_key="jobs"),
            "plans.report.build_tasks": total("plans.report.build", spark_key="tasks"),
            "plans.report.render_s": total("plans.report.render"),
            "plans.cache.stored_bytes": total("plans.report.build", "stored_bytes"),
            "operators.compare.checks_s": total("operators.compare.checks"),
            "operators.compare.checks_jobs": total("operators.compare.checks", spark_key="jobs"),
            "operators.compare.mismatch_s": total("operators.compare.mismatch"),
            "operators.compare.mismatch_jobs": total("operators.compare.mismatch", spark_key="jobs"),
            "queries.build_s": total("queries.build"),
            "queries.build_jobs": total("queries.build", spark_key="jobs"),
            "queries.action_s": total("queries.action"),
            "queries.action_jobs": total("queries.action", spark_key="jobs"),
            "queries.catalyst_s": total("queries.action", "catalyst_s"),
            "trace.unit_s": root["wall_s"],
        }
        row.update({f"spark.{k}": v for k, v in root["spark"].items() if k != "evicted"})
        rows.append(row)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def run(args, work: str) -> dict:
    from perfbench.trace import StatusStore, Tracer, spark_metrics
    from perfbench.workloads import WORKLOADS, data_dir, release

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    scale = args.scale if args.scale is not None else wl.default_scale

    t0 = time.perf_counter()
    spark = start_session(cores, work)
    try:
        session_s = time.perf_counter() - t0
        prep = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup(spark, args.seed, scale, data_dir(work, f"data{i}"))
            prep.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prep)

        store = StatusStore(spark)
        tr = Tracer(spark, cores, enabled=bool(args.trace))
        problems = []

        def one_unit():
            """Run and check one unit; returns its wall time, its counters
            and its root span id (traced runs only)."""
            mark = store.mark()
            t = time.perf_counter()
            try:
                with tr.span("unit") as root:
                    bad = wl.unit(spark, tr)
            except Exception as exc:  # a failed unit is counted, not fatal
                bad = [f"raised {type(exc).__name__}: {exc}"]
                traceback.print_exc()
            wall = time.perf_counter() - t
            delta = spark_metrics(store.since(mark), wall, cores)
            release(spark)
            problems.append(bad + (["status store evicted stages"] if delta["evicted"] else []))
            return wall, delta, root.get("id")

        cold_s = one_unit()[0]
        # the self-check compares every warm unit, the warm-up ones included
        counters = []
        for _ in range(wl.warmup_units):
            delta = one_unit()[1]
            counters.append({k: delta[k] for k in DETERMINISTIC})
        walls, units = [], []
        deadline = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < deadline:
            wall, delta, root_id = one_unit()
            walls.append(wall)
            counters.append({k: delta[k] for k in DETERMINISTIC})
            units.append(root_id)
        rss = peak_rss_mb(spark)
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_session(spark)

    failed = sum(1 for b in problems if b)
    attempted = len(problems)
    drift = {k: sorted({c[k] for c in counters}) for k in DETERMINISTIC if len({c[k] for c in counters}) > 1}
    p, tail_v = tail(walls)
    e2e = {
        "latency_p50_s": (statistics.median(walls), "s", len(walls)),
        "latency_tail_s": (tail_v, "s", len(walls)),
        "throughput_rows_per_s": (wl.rows * len(walls) / sum(walls), "rows/s", len(walls)),
        "cold_s": (cold_s, "s", 1),
        "setup_s": (setup_s, "s", SETUP_REPEATS),
        "failure_rate": (failed / attempted, "ratio", attempted),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": scale,
        "cores": cores,
        "rows_per_unit": wl.rows,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
        "tail_percentile": p,
        "unit_walls_s": walls,
        "peak_rss_mb": rss,
        "problems": [b for b in problems if b][:5],
        "counters_per_unit": counters[0],
        "counter_drift": drift,
        "setup_parts_s": {"session": session_s, "inputs_and_truth": prep},
        "spark_conf": conf,
    }
    if tr.enabled:
        for s in tr.spans:
            print(json.dumps({"span": s}, default=str))
        layers = per_layer(tr, units)
        layers["peak_rss_mb"] = rss
        metrics = {k: {"value": v, "unit": _LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        # failure_rate is 0 on a correct run, so it travels as failed/attempted.
        # latency_tail_s stays in the detail line: with at most a dozen timed
        # units no percentile has ten samples beyond it, so it is the slowest
        # unit, and one stall on a shared host moves it past any bound
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()
                   if k not in DETAIL_ONLY}
    print(json.dumps({"detail": detail}, default=str))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


_LAYER_UNITS = {
    "operators.compare.init_s": "s",
    "operators.compare.init_py4j_calls": "count",
    "plans.report.build_s": "s",
    "plans.report.build_jobs": "count",
    "plans.report.build_tasks": "count",
    "plans.report.render_s": "s",
    "plans.cache.stored_bytes": "bytes",
    "operators.compare.checks_s": "s",
    "operators.compare.checks_jobs": "count",
    "operators.compare.mismatch_s": "s",
    "operators.compare.mismatch_jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "queries.catalyst_s": "s",
    "trace.unit_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.slot_busy_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size; default is the workload's own")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT]
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
