"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {"q1": sec, ...},
   "gates": {...}, "noise": [...], "sf": ...}

The headline metric mirrors the reference's published benchmark unit of work —
one full compare + report (BASELINE.md: compare+report seconds) — on the
lineitem comparison scenario. Individual driver-contract queries are timed
separately in "queries". Timings are raw best-of-N wall clocks; "noise" holds
the raw samples of a fixed CPU-bound sentinel job taken through the run.
Warm timings, errors and each timed name's status-store counters (jobs,
stages, tasks, bytes, executor time) go to BENCH_DETAIL.json. Gain claims are
judged by the paired runs of ``perfbench/run.py``, not by this line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = "compare_report"

#: the driver parses the bench line out of the last ~2,000 characters of
#: stdout (a ~2,800-character line once made it record parsed=null at rc=0)
LINE_LIMIT = 1900


def one_line(record: dict) -> str:
    """``record`` as one compact JSON line of at most LINE_LIMIT characters.

    ``record["queries"]`` is cut to fit: the headline always stays, then the
    slowest timings of this run are added while the line fits, ties broken
    by name. Failed (None) timings are left out; every timing and error is
    in BENCH_DETAIL.json."""
    timings = record["queries"]
    ranked = sorted(
        (k for k, v in timings.items() if v is not None and k != HEADLINE),
        key=lambda k: (-timings[k], k),
    )
    kept = {HEADLINE: timings.get(HEADLINE)}

    def dump(queries: dict) -> str:
        return json.dumps({**record, "queries": queries}, separators=(",", ":"))

    line = dump(kept)
    for k in ranked:
        trial = dump({**kept, k: timings[k]})
        if len(trial) > LINE_LIMIT:
            break
        kept[k] = timings[k]
        line = trial
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from pyspark.sql import SparkSession

    # the engine-recommended session settings — the bench consumes the same
    # recommendation users get (datacompy_spark.session has the measurements
    # and trade-offs). Correctness paths (check_oracles) deliberately keep
    # the PySpark defaults.
    from datacompy_spark.session import apply_recommended_conf

    spark = (
        apply_recommended_conf(SparkSession.builder.master(f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # NTZ→TIMESTAMP normalization at the source boundary is
        # value-preserving only under a fixed UTC session tz
        .config("spark.sql.session.timeZone", "UTC")
        .appName("datacompy-spark-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from datacompy_spark.operators.compare import SparkCompare
    from datacompy_spark.queries import QUERIES, _li_compare
    from perfbench.trace import StatusStore, spark_metrics

    # warm up JVM/codegen through the same code path on a tiny table so the
    # headline measures the engine, not first-call compilation
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    SparkCompare(spark, nation, nation.select(*nation.columns), join_columns="n_nationkey").report()

    sc = spark.sparkContext
    store = StatusStore(spark)
    # status-store deltas of each timed name's LAST run (the one whose wall
    # clock lands in "queries_warm") → BENCH_DETAIL.json "counters"
    counters: dict = {}

    def timed(name: str, action) -> float:
        """Wall seconds of one ``action()`` under job group ``name``. The
        status-store reads sit outside the timed region: ``mark()`` drains
        the listener bus, which must not land in the number."""
        sc.setJobGroup(name, name)
        start = store.mark()
        t0 = time.perf_counter()
        action()
        elapsed = time.perf_counter() - t0
        counters[name] = spark_metrics(store.since(start), elapsed, int(cpus))
        sc.setJobGroup("bench-overhead", "between timed sections")
        return elapsed

    # VM-noise sentinel: a FIXED CPU-bound job (no I/O, no shuffle, no
    # cache) timed before the headline, after the headline sections, every
    # 40 queries and at sweep end. On a healthy machine every sample lands
    # in the same narrow band; in a shared-VM pressure window the sentinel
    # inflates with everything else, so a slow number next to an inflated
    # sample is attributable inside the record.
    def _noise_probe() -> float:
        sc.setJobGroup("noise-probe", "VM pressure sentinel")
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, int(cpus)).selectExpr(
            "sum(hash(id)) AS h"
        ).collect()
        elapsed = round(time.perf_counter() - t0, 3)
        # restore a neutral label so headline stages are not attributed to
        # the sentinel in the status store
        sc.setJobGroup("bench-overhead", "between timed sections")
        return elapsed

    _noise_probe()  # unrecorded: first call pays this expression's codegen (~3 s)
    noise = [_noise_probe()]

    timings = {}
    # steady-state (warm) companions: the LAST run of each query, after JVM/
    # codegen warmup — best-of-N damps shared-VM noise spikes but can hide a
    # real regression behind one lucky run
    warm = {}
    errors = {}

    # headline: full compare + report, the reference's benchmark unit of work
    def headline_once() -> float:
        spark.catalog.clearCache()
        return timed(HEADLINE, lambda: _li_compare(spark, sf_dir).report(sample_count=10))

    try:
        # best-of-3: the first run can still carry residual codegen/JIT work
        # past the nation warmup (measured: run0 18 s, run1 4.4 s, run2 4.3 s
        # in one session), so two samples aren't enough for a stable floor
        headline_runs = [headline_once(), headline_once(), headline_once()]
        # when the warm runs disagree badly the min is still suspect — buy
        # one more sample
        if max(headline_runs[1:]) > 1.25 * min(headline_runs[1:]):
            headline_runs.append(headline_once())
        timings[HEADLINE] = round(min(headline_runs), 4)
        warm[HEADLINE] = round(headline_runs[-1], 4)
    except Exception as exc:  # noqa: BLE001 — a failed headline must not kill the run
        errors[HEADLINE] = f"{type(exc).__name__}: {exc}"[:300]
        timings[HEADLINE] = None
        warm[HEADLINE] = None

    # second headline: the RECURRING-compare fast path. Both sides written
    # once as bucketed+sorted catalog tables on the 4-col join key (the
    # nightly-snapshot-diff amortization: bucket once, compare every night),
    # then the compare runs with null_safe_join=False so the sort-merge join
    # needs no Exchange and no Sort per side (zero-shuffle plan, pinned by
    # tests/test_plan_shapes.py). The bucketing write is setup, not metric.
    def bucketed_once() -> float:
        spark.catalog.clearCache()
        return timed(
            "compare_report_bucketed",
            lambda: SparkCompare(
                spark,
                spark.table("bench_cmp_left"),
                spark.table("bench_cmp_right"),
                join_columns=_B_KEYS,
                abs_tol=_B_TOL,
                assume_unique=True,
                null_safe_join=False,
            ).report(sample_count=10),
        )

    try:
        from datacompy_spark.queries import _LI_ABS_TOL as _B_TOL
        from datacompy_spark.queries import LI_KEYS as _B_KEYS
        from datacompy_spark.queries import _li_pair
        from datacompy_spark.sources.loaders import write_bucketed

        b1, b2 = _li_pair(spark, sf_dir)
        write_bucketed(b1, "bench_cmp_left", _B_KEYS, num_buckets=int(cpus))
        write_bucketed(b2, "bench_cmp_right", _B_KEYS, num_buckets=int(cpus))
        bucketed_runs = [bucketed_once(), bucketed_once()]
        timings["compare_report_bucketed"] = round(min(bucketed_runs), 4)
        warm["compare_report_bucketed"] = round(bucketed_runs[-1], 4)
    except Exception as exc:  # noqa: BLE001
        errors["compare_report_bucketed"] = f"{type(exc).__name__}: {exc}"[:300]
        timings["compare_report_bucketed"] = None
        warm["compare_report_bucketed"] = None
    finally:
        for t in ("bench_cmp_left", "bench_cmp_right"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:  # noqa: BLE001
                pass

    # diagnostic gates: composite approximation-quality checks (e.g.
    # knn_recall runs brute force + three approx paths + grading as ONE
    # job). They guard correctness, not user-visible operator speed, so
    # they are reported under "gates" — outside the per-query comparison set.
    GATE_QUERIES = {"knn_recall"}

    gates = {}
    spark.catalog.clearCache()
    noise.append(_noise_probe())  # closes the headline sections, opens the sweep

    for qi, (name, fn) in enumerate(QUERIES.items()):
        # accumulated JVM garbage from earlier queries is the prime suspect
        # for late-sweep inflation; a periodic explicit GC hint lets
        # collection happen between timings instead of inside one
        if qi and qi % 20 == 0:
            try:
                sc._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
        if qi and qi % 40 == 0:
            noise.append(_noise_probe())

        def once() -> float:
            try:
                return timed(name, lambda: fn(spark, sf_dir).count())
            finally:
                spark.catalog.clearCache()  # drop per-query exception caches

        # a single failing query must not zero the whole bench (round-4
        # lesson: query #23 threw and the driver recorded rc=1, no numbers)
        try:
            if name in GATE_QUERIES:
                # gates: best-of-2 at the SAME sf. A tiny-SF pre-warm does
                # NOT transfer (AQE finalizes different physical plans at
                # different sizes, so the generated code differs); the
                # first same-SF run pays compilation, the second is the
                # honest steady-state number.
                gates[name] = round(min(once(), once()), 4)
                continue
            runs = [once()]
            # single-run numbers on a shared VM carry multi-second noise
            # spikes; re-run anything slow enough for a spike to distort and
            # keep the min (measured: an untouched 0.9 s query recorded
            # 6.3 s in one sweep)
            if runs[0] > 1.0:
                runs.append(once())
            timings[name] = round(min(runs), 4)
            warm[name] = round(runs[-1], 4)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            if name in GATE_QUERIES:
                gates[name] = None
            else:
                timings[name] = None
                warm[name] = None

    noise.append(_noise_probe())  # end of sweep

    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {"queries": timings, "queries_warm": warm, "gates": gates,
             "errors": errors, "noise_probe": noise,
             # sweep order, so noise_probe samples (taken at positions
             # 0 / 40 / 80 / end) correlate to the queries that ran
             # between them
             "sweep_order": list(QUERIES),
             "sf": sf, "counters": counters},
            fh,
            indent=1,
        )

    def _2dp(d: dict) -> dict:
        return {k: (round(v, 2) if v is not None else None) for k, v in d.items()}

    queries = _2dp(timings)
    print(
        one_line(
            {
                "metric": "compare_report_sec",
                "value": queries[HEADLINE],
                "unit": "sec",
                "queries": queries,
                "gates": _2dp(gates),
                "noise": noise,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
