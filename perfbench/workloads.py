"""The benchmark's workloads.

Each workload writes its inputs from the seed in ``setup``, computes its
ground truth there with DuckDB, and then runs ``unit`` repeatedly. A unit
returns the list of problems its output has against the ground truth; an
empty list is a correct unit. ``rows`` is the input rows one unit consumes.
"""

from __future__ import annotations

import os
from typing import Dict, List

from perfbench import gen, truth
from perfbench.trace import Tracer, catalyst_s


class Workload:
    name = ""
    default_scale = 0.0
    rows = 0
    # untimed units after the cold one, so that the timed units miss the
    # steepest part of the JIT warm-up
    warmup_units = 1

    def setup(self, spark, seed: int, scale: float, data_dir: str) -> None:
        raise NotImplementedError

    def unit(self, spark, tr: Tracer) -> List[str]:
        raise NotImplementedError


class CompareLineitem(Workload):
    """Both flows of ``SparkCompare`` over one pair of lineitem files.

    The report flow: a compare on the unique 4-column key with
    ``assume_unique``, then ``build_report_data()`` and ``render()``, exactly
    what ``SparkCompare.report()`` does. The check flow a CI gate runs: a
    second compare, on the duplicated key ``(l_orderkey, l_linenumber)`` with
    ``dup_order_by`` and no report, then ``matches()``, ``column_stats`` and
    ``all_mismatch().count()``. Without a report the statistics come from
    the standalone aggregate and the rows are paired by the ordinal window.

    Orders are dropped whole, so every duplicated-key group is complete or
    absent on each side, and both compares must report the same counts."""

    name = "compare_lineitem"
    default_scale = 0.01
    warmup_units = 2

    def setup(self, spark, seed, scale, data_dir):
        self.p1, self.p2, n = gen.lineitem_pair(seed, scale, data_dir)
        self.rows = n["df1_rows"] + n["df2_rows"]
        self.truth = truth.compare_counts(self.p1, self.p2, gen.LI_KEYS)

    def unit(self, spark, tr):
        from datacompy_spark import SparkCompare

        df1, df2 = spark.read.parquet(self.p1), spark.read.parquet(self.p2)
        with tr.span("operators.compare.init", count_py4j=True):
            c = SparkCompare(spark, df1, df2, join_columns=gen.LI_KEYS,
                             abs_tol=gen.LI_ABS_TOL, assume_unique=True)
        with tr.span("plans.report.build") as s:
            data = c.build_report_data(sample_count=10)
            if tr.enabled:
                s["stored_bytes"] = tr.store.stored_bytes()
        with tr.span("plans.report.render"):
            text = data.render()
        with tr.span("operators.compare.init", count_py4j=True):
            g = SparkCompare(spark, df1, df2, join_columns=gen.LI_DUP_KEYS,
                             abs_tol=gen.LI_ABS_TOL, dup_order_by=gen.LI_DUP_ORDER)
        with tr.span("operators.compare.checks"):
            matches = g.matches()
            stats = g.column_stats
        with tr.span("operators.compare.mismatch"):
            n_mismatch = g.all_mismatch().count()
        return truth.check_report(data, text, self.truth) + truth.check_checks(
            matches, stats, n_mismatch, self.truth
        )


# registry queries with the tables each one reads: the n-gram Jaccard family
# (ROADMAP Direction 4). mad_outliers (Direction 3) is left out: its 27 small
# jobs per pass slowed by up to half when other machines on the host were
# busy, which put the spread across seeds past every bound. graph_pagerank
# is left out: its task count and shuffle bytes change from one run of the
# same input to the next.
MIX_QUERIES = {
    "dedup_ngram_jaccard": ["documents"],
}


class OperatorMix(Workload):
    """One pass over :data:`MIX_QUERIES`: build each query's frame, then
    collect it."""

    name = "operator_mix"
    default_scale = 0.005
    # plan building and job scheduling are driver code, which the JIT keeps
    # speeding up for several units after the cold one
    warmup_units = 6

    def setup(self, spark, seed, scale, data_dir):
        from datacompy_spark import queries

        self.dir = data_dir
        counts = gen.query_tables(seed, scale, data_dir)
        tables = sorted({t for ts in MIX_QUERIES.values() for t in ts})
        self.rows = sum(counts[t] for ts in MIX_QUERIES.values() for t in ts)
        self.queries = {q: queries.QUERIES[q] for q in MIX_QUERIES}
        self.truth = truth.oracle_frames(
            data_dir, tables, {q: queries.ORACLES[q] for q in MIX_QUERIES}
        )

    def unit(self, spark, tr):
        bad = []
        for name, build in self.queries.items():
            with tr.span("queries.build", query=name):
                df = build(spark, self.dir)
            with tr.span("queries.action", query=name) as s:
                got = df.toPandas()
                if tr.enabled:
                    s["catalyst_s"] = catalyst_s(df)
            bad += [f"{name}: {p}" for p in truth.frame_problems(got, self.truth[name])]
        return bad


WORKLOADS = {w.name: w for w in (CompareLineitem, OperatorMix)}


def release(spark) -> None:
    """Drop everything a unit left cached or checkpointed."""
    from datacompy_spark.plans.cache import release_caches, release_checkpoints

    release_caches()
    release_checkpoints()
    spark.catalog.clearCache()


def data_dir(root: str, name: str) -> str:
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    return path
