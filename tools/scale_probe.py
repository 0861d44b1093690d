"""Scaling probe: the headline compare at 1x / 4x / 16x of sf0.1 lineitem.

Synthesizes larger inputs by unioning key-offset copies (every copy gets
distinct join keys, so row counts AND join cardinality scale together),
then times the full compare+report. The question it answers is the one a
cluster operator asks before a 100 TB run: does wall-clock grow ~linearly
with input at fixed parallelism, or does some stage go quadratic / spill?

Usage: python tools/scale_probe.py [multipliers...]   (default: 1 4 16)
Prints one line per scale: rows, seconds, rows/sec, and the ratio of
seconds to the 1x run (linear scaling => ratio ~= multiplier).

Env knobs: SPARK_GRAFT_SECTIONS selects sections as a comma list out of
{compare,minhash,spans,incr,cdc,bucketed,cc,kmeans,ivfindex,pagerank,hotkey,longdoc,ks,fk,editdist,quantiles,increditdist,checksum,skewaqe}
(default: all) — a x64 compare
datapoint or a memory-constrained minhash rerun shouldn't pay for every
other section; SPARK_GRAFT_DRIVER_MEM bounds the single-JVM heap (the
local-mode stand-in for executor memory) for constrained-memory probes;
SPARK_GRAFT_MASTER overrides the master (e.g. local-cluster[2,8,4096]
for a real multi-JVM serializer/transport boundary).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    muls = [int(m) for m in (sys.argv[1:] or ["1", "4", "16"])]
    all_sections = (
        "compare", "minhash", "spans", "incr", "cdc", "bucketed", "cc",
        "kmeans", "ivfindex", "pagerank", "hotkey", "longdoc", "ks", "fk", "editdist",
        "quantiles", "increditdist", "checksum", "skewaqe"
    )
    sections = set(
        s.strip() for s in os.environ.get(
            "SPARK_GRAFT_SECTIONS", ",".join(all_sections)
        ).split(",") if s.strip()
    )
    unknown = sections - set(all_sections)
    if unknown:
        raise SystemExit(
            f"unknown sections {sorted(unknown)}; pick from {all_sections}"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER overrides the master, e.g. local-cluster[2,8,4096]
    # (2 executor JVMs x 8 cores x 4 GiB). local[N] runs everything in ONE
    # JVM, so shuffle "transfer" is a map-status lookup and rows cross
    # stages without serialization — exactly the costs that dominate a
    # 1000-executor 100 TB run. A local-cluster leg sends every shuffled
    # row through real serialization + a netty block transfer between
    # processes, validating the ~384 B/row shuffle-cost figure against an
    # actual serializer/transport boundary (r12 verdict item 3).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if master.startswith("local-cluster"):
        # executor launch needs SPARK_HOME; the pip install's package dir
        # carries the jars/ and the launcher scripts it looks for
        import pyspark as _ps

        os.environ.setdefault("SPARK_HOME", os.path.dirname(_ps.__file__))
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = (
        SparkSession.builder.master(master)
        # executor JVMs in local-cluster mode spawn their own Python
        # workers, which must be able to import datacompy_spark (pandas
        # UDFs pickle references to package functions); harmless in local
        # mode where workers inherit the driver's sys.path anyway
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: do NOT raise spark.ui.retainedStages to protect the
        # shuffle-byte deltas — A/B measured 47.0 s vs 34.8 s on the x16
        # compare leg (~35% tax) with retainedStages=20000, the status
        # store's tracking cost scaling with retention. Stage eviction at
        # the 1000 default is instead DETECTED below (StatusStore.since
        # reports it as "evicted"), which reports -1 (unknown) rather than
        # an undercount.
        .appName("datacompy-spark-scale-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from datacompy_spark.operators.compare import SparkCompare
    from datacompy_spark.queries import LI_COLS, LI_KEYS, _LI_ABS_TOL
    from perfbench.trace import StatusStore

    store = StatusStore(spark)

    def shuffle_write_mb(start: dict) -> float:
        """Shuffle-write MB since ``start`` (a ``store.mark()``) — the number
        that predicts 100 TB network cost where wall-clock on a 32-core VM
        cannot; -1 (unknown) when the store evicted stages in between."""
        delta = store.since(start)
        return -1 if delta["evicted"] else delta["shuffle_write_bytes"] / 1e6

    base = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(*LI_COLS)

    def at_scale(mult: int):
        """mult key-offset copies; offsetting l_orderkey keeps keys distinct
        across copies so the join result scales with the input."""
        parts = [
            base.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(10_000_000 * i)
            )
            for i in range(mult)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        return df

    def perturb(df):
        return df.select(
            *[c for c in LI_COLS if c not in ("l_extendedprice", "l_returnflag")],
            F.when(
                F.col("l_orderkey") % 10 == 3,
                F.col("l_extendedprice") + 0.001,
            ).otherwise(F.col("l_extendedprice")).alias("l_extendedprice"),
            F.when(F.col("l_orderkey") % 17 == 5, F.lit("Z"))
            .otherwise(F.col("l_returnflag")).alias("l_returnflag"),
        ).filter(F.col("l_orderkey") % 1000 != 7)

    # JVM/codegen warmup through the same path
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    SparkCompare(spark, nation, nation.select(*nation.columns), join_columns="n_nationkey").report()

    base_parts = max(int(cpus), 8)
    t1 = None
    for mult in muls if "compare" in sections else []:
        # size shuffle partitions WITH the data (the 100 TB rule applied
        # at probe scale): fixed 32 partitions at x32 means ~600 k-row
        # sort/join partitions that spill — measured 128 s vs 90 s with
        # 128 partitions on the same session. AQE coalesces the excess at
        # small scales, so scaling up is free there.
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(base_parts * max(1, mult // 8))
        )
        df1 = at_scale(mult)
        df2 = perturb(df1)
        n = df1.count()
        start = store.mark()
        t0 = time.perf_counter()
        cmp_ = SparkCompare(
            spark, df1, df2, join_columns=LI_KEYS, abs_tol=_LI_ABS_TOL
        )
        cmp_.report(sample_count=10)
        el = time.perf_counter() - t0
        shuffle_mb = shuffle_write_mb(start)
        if t1 is None:
            t1 = el
        print(
            f"compare x{mult:<3d} rows={n:>10,d}  sec={el:7.2f}"
            f"  rows/s={n/el:>10,.0f}  vs_x1={el/t1:5.2f} (linear => ~{mult})"
            f"  shuffle_write_mb={shuffle_mb:,.0f}",
            flush=True,
        )

    spark.conf.set("spark.sql.shuffle.partitions", str(base_parts))
    # ---- dedup scaling: minhash-LSH pairs over a corpus scaled by copies
    # with per-copy DISJOINT vocabulary (every token suffixed by the copy
    # index), so each copy contributes the same within-copy near-dup
    # structure and zero cross-copy similarity — pair output scales
    # linearly, as a real corpus's would.
    from datacompy_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    t1 = None
    for mult in muls if "minhash" in sections else []:
        parts = []
        for i in range(mult):
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(10_000_000 * i)).alias("doc_id"),
                    F.regexp_replace(
                        F.col("text"), r"(\S+)", r"$1" + f"_c{i}"
                    ).alias("text"),
                )
            )
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        n = corpus.count()
        t0 = time.perf_counter()
        n_pairs = minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3,
            threshold=0.3,
        ).count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"minhash x{mult:<3d} docs={n:>9,d}  pairs={n_pairs:>8,d}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )
    # ---- edit-distance join scaling: the typo'd-twin scenario scaled by
    # copies with per-copy DISTINCT key prefixes (copy marker prepended, so
    # the normalized 64-char keys never collide across copies) — matched
    # pairs and candidate volume must both scale linearly; superlinear time
    # here would mean the pigeonhole inverted index degenerated to all-pairs.
    from datacompy_spark.operators.dedup import edit_distance_pairs
    from datacompy_spark.queries_pipeline import _corrupted_docs

    t1 = None
    for mult in muls if "editdist" in sections else []:
        pooled0 = docs.unionAll(_corrupted_docs(docs))
        parts = [
            pooled0.select(
                (F.col("doc_id") + F.lit(100_000_000 * i)).alias("doc_id"),
                # marker = digit repeated 4×: any two distinct copies are
                # ≥ 4 edits apart ("copy0 "/"copy1 " would be distance 1
                # and every same-doc cross-copy pair would qualify)
                F.concat(F.lit(str(i) * 4 + " "), F.col("text")).alias("text"),
            )
            for i in range(mult)
        ]
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        n = corpus.count()
        t0 = time.perf_counter()
        n_pairs = edit_distance_pairs(
            corpus, "doc_id", "text", max_dist=2, prefix_len=64
        ).count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"editdist x{mult:<3d} keys={n:>9,d}  pairs={n_pairs:>8,d}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )
    # ---- KS drift: BOTH snapshot size AND distinct-value cardinality
    # scale (each copy jitters values by i*1e-7, so the pooled ECDF grows
    # ∝ mult — the axis that would break a naive global ORDER BY window;
    # the distributed two-phase prefix sum must stay ~linear)
    from datacompy_spark.operators.analytics import ks_drift

    li_ks = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    t1 = None
    for mult in muls if "ks" in sections else []:
        parts = []
        for i in range(mult):
            parts.append(
                li_ks.select(
                    (F.col("l_extendedprice") + F.lit(i * 1e-7)).alias("v"),
                    "l_orderkey",
                    "l_partkey",
                )
            )
        base = parts[0]
        for p in parts[1:]:
            base = base.unionAll(p)
        old_s = base.select(F.col("v").alias("x"))
        new_s = base.filter(F.col("l_orderkey") % 5 != 0).select(
            F.when(F.col("l_partkey") % 3 == 0, F.col("v") + F.lit(100.0))
            .otherwise(F.col("v"))
            .alias("x")
        )
        n = base.count()
        t0 = time.perf_counter()
        r = ks_drift(old_s, new_s, "x").collect()[0]
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"ks      x{mult:<3d} rows={n:>10,d}  ks={r['ks_stat']:.4f}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )
    # ---- exact quantiles: distinct-value cardinality scales with mult
    # (same jitter discipline as the ks probe) — the distributed-ECDF
    # quantile must track the ks curve, since it is the same prefix-sum
    # machinery plus a constant-size broadcast rank probe
    from datacompy_spark.operators.profile import exact_quantiles_distributed

    t1 = None
    for mult in muls if "quantiles" in sections else []:
        parts = [
            li_ks.select((F.col("l_extendedprice") + F.lit(i * 1e-7)).alias("v"))
            for i in range(mult)
        ]
        base = parts[0]
        for p in parts[1:]:
            base = base.unionAll(p)
        n = base.count()
        t0 = time.perf_counter()
        rows = exact_quantiles_distributed(
            base, "v", [0.01, 0.25, 0.5, 0.75, 0.99]
        ).collect()
        el = time.perf_counter() - t0
        med = next(r["quantile"] for r in rows if r["prob"] == 0.5)
        if t1 is None:
            t1 = el
        print(
            f"quantile x{mult:<3d} rows={n:>10,d}  p50={med:.4f}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )
    # ---- duplicated-span removal: corpus scaled with per-copy suffixed
    # vocabulary (same discipline as the minhash probe: copies never
    # cross-match, so the duplicated-gram RATE stays constant while volume
    # grows — the growth curve isolates the machinery, not the data). The
    # expensive stages are the gram aggregate and two doc-partitioned
    # stages (coverage window + reassembly), all linear; ratio should
    # track the multiplier.
    from datacompy_spark.operators.textops import remove_dup_spans

    t1 = None
    for mult in muls if "spans" in sections else []:
        parts = []
        for i in range(mult):
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(10_000_000 * i)).alias("doc_id"),
                    F.regexp_replace(
                        F.col("text"), r"(\S+)", r"$1" + f"_c{i}"
                    ).alias("text"),
                )
            )
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        n = corpus.count()
        t0 = time.perf_counter()
        agg = (
            remove_dup_spans(corpus, "doc_id", "text", n=5)
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_removed").alias("removed"),
            )
            .collect()[0]
        )
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"spans   x{mult:<3d} docs={n:>9,d}  cut={int(agg['removed']):>9,d}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )
    # ---- incremental dedup: BATCH FIXED, corpus scaled — the recurring-
    # ingest shape incremental_dedup is designed for. The corpus side is
    # only ever hashed in a narrow scan and semi-joined against a broadcast
    # of the batch's distinct hashes (no corpus shuffle), so seconds should
    # track the corpus SCAN (linear, small constant), never corpus-pairing
    # work. Copy 0 keeps original text (every batch doc finds a corpus
    # match); later copies are suffixed noise that must not add matches.
    from datacompy_spark.operators.dedup import incremental_dedup

    t1 = None
    for mult in muls if "incr" in sections else []:
        parts = []
        for i in range(mult):
            text = (
                F.col("text")
                if i == 0
                else F.regexp_replace(F.col("text"), r"(\S+)", r"$1" + f"_c{i}")
            )
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(10_000_000 * (i + 1))).alias(
                        "doc_id"
                    ),
                    text.alias("text"),
                )
            )
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        n_corpus = corpus.count()
        n_batch = docs.count()
        t0 = time.perf_counter()
        verdicts = incremental_dedup(
            docs, corpus, "doc_id", "text", method="exact"
        )
        n_dup = verdicts.filter(F.col("verdict") == "dup_corpus").count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"incr    x{mult:<3d} corpus={n_corpus:>9,d}  batch={n_batch:>7,d}"
            f"  dup_corpus={n_dup:>7,d}  sec={el:7.2f}"
            f"  vs_x1={el/t1:5.2f} (corpus-scan-bound => << {mult})",
            flush=True,
        )
    # ---- incremental editdist: batch FIXED, corpus scaled — the cross-set
    # join must stay corpus-scan-bound (two narrow corpus streams joined
    # against the broadcast batch side), never corpus×corpus. Copy 0 keeps
    # the original texts so batch↔corpus dup structure is constant; later
    # copies prepend a ≥4-edit marker so they can never qualify.
    from datacompy_spark.operators.dedup import incremental_dedup as _incr_ed

    t1 = None
    for mult in muls if "increditdist" in sections else []:
        parts = []
        for i in range(mult):
            text = (
                F.col("text")
                if i == 0
                else F.concat(F.lit(str(i % 10) * 4 + " "), F.col("text"))
            )
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(10_000_000 * (i + 1))).alias("doc_id"),
                    text.alias("text"),
                )
            )
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        n_corpus = corpus.count()
        n_batch = docs.count()
        t0 = time.perf_counter()
        verdicts = _incr_ed(
            docs, corpus, "doc_id", "text", method="editdist", max_dist=2
        )
        n_dup = verdicts.filter(F.col("verdict") == "dup_corpus").count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"increditdist x{mult:<3d} corpus={n_corpus:>9,d}  batch={n_batch:>7,d}"
            f"  dup_corpus={n_dup:>7,d}  sec={el:7.2f}"
            f"  vs_x1={el/t1:5.2f} (corpus-scan-bound => << {mult})",
            flush=True,
        )
    # ---- FK audit: CANDIDATE COUNT scaled (tables fixed) — the single-
    # pass melt's claim is that a lake audit pays TWO shuffles total no
    # matter how many candidate pairs it checks (the old per-pair
    # formulation paid 3 per pair), so wall time should grow well below
    # the pair count (scan volume grows linearly, stages do not).
    from datacompy_spark.operators.analytics import fk_discovery

    if "fk" in sections:
        tabs = {
            t: spark.read.parquet(f"{sf_dir}/{t}.parquet")
            for t in ("lineitem", "orders", "part", "supplier", "customer", "nation")
        }
        base_pairs = [
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("customer", "c_nationkey", "nation", "n_nationkey"),
            ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ]
        t1 = None
        for mult in muls:
            pairs = [
                (f"{cn}#{i}", tabs[cn], cc, pn, tabs[pn], pc)
                for i in range(mult)
                for cn, cc, pn, pc in base_pairs
            ]
            t0 = time.perf_counter()
            n = fk_discovery(pairs).count()
            el = time.perf_counter() - t0
            if t1 is None:
                t1 = el
            print(
                f"fk      x{mult:<3d} pairs={len(pairs):>4d}  rows={n:>4d}"
                f"  sec={el:7.2f}  vs_x1={el/t1:5.2f}"
                f" (2 shuffles total, scan-volume-bound => << {mult})",
                flush=True,
            )

    # ---- CDC scaling: snapshot diff of orders scaled by key-offset copies,
    # each copy perturbed identically (same delete/update/insert rates), so
    # the change-feed size grows linearly with the snapshot — the recurring
    # nightly-diff workload shape.
    from datacompy_spark.operators.cdc import snapshot_cdc

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t1 = None
    for mult in muls if "cdc" in sections else []:
        parts = [
            orders.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000 * i)
            )
            for i in range(mult)
        ]
        old = parts[0]
        for p in parts[1:]:
            old = old.unionAll(p)
        new = old.filter(F.col("o_orderkey") % 101 != 0).select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 7 == 3, F.col("o_totalprice") + 1.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderdate",
            F.when(F.col("o_orderkey") % 11 == 4, F.lit("RECHECK"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
        n = old.count()
        t0 = time.perf_counter()
        n_changes = snapshot_cdc(old, new, ["o_orderkey"]).count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"cdc     x{mult:<3d} rows={n:>10,d}  changes={n_changes:>9,d}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )
    if "bucketed" in sections:
        # ---- bucketed fast path: the recurring-compare claim, measured.
        # Both snapshot sides persisted once as bucket-sorted catalog tables,
        # then compared with null_safe_join=False + assume_unique (plain
        # equi-join on non-null unique keys) — the sort-merge join needs zero
        # Exchange and zero Sort. The interesting number is the marginal cost
        # of ONE compare after the one-time bucketing investment.
        from datacompy_spark.sources.loaders import write_bucketed

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(*LI_COLS)
        agg_keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
        left = li.dropDuplicates(agg_keys)
        right = left.filter(F.col("l_orderkey") % 997 != 0).select(
            *[c for c in left.columns if c != "l_quantity"],
            F.when(F.col("l_partkey") % 13 == 2, F.col("l_quantity") + 1.0)
            .otherwise(F.col("l_quantity"))
            .alias("l_quantity"),
        )
        n = left.count()

        t0 = time.perf_counter()
        cmp_plain = SparkCompare(
            spark, left, right, join_columns=agg_keys, assume_unique=True
        )
        cmp_plain.report(sample_count=10)
        t_plain = time.perf_counter() - t0

        t0 = time.perf_counter()
        write_bucketed(left, "sp_left", agg_keys, num_buckets=int(cpus))
        write_bucketed(right, "sp_right", agg_keys, num_buckets=int(cpus))
        t_bucket = time.perf_counter() - t0
        try:
            start = store.mark()
            t0 = time.perf_counter()
            cmp_b = SparkCompare(
                spark,
                spark.table("sp_left"),
                spark.table("sp_right"),
                join_columns=agg_keys,
                assume_unique=True,
                null_safe_join=False,
            )
            cmp_b.report(sample_count=10)
            t_bucketed = time.perf_counter() - t0
            b_mb = shuffle_write_mb(start)
            print(
                f"bucketed rows={n:>10,d}  plain={t_plain:6.2f}s  "
                f"bucket_once={t_bucket:6.2f}s  bucketed_cmp={t_bucketed:6.2f}s  "
                f"speedup={t_plain / t_bucketed:5.2f}x per recurring compare  "
                f"bucketed_shuffle_mb={b_mb:,.1f}",
                flush=True,
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS sp_left")
            spark.sql("DROP TABLE IF EXISTS sp_right")

    # ---- distributed connected components: force driver_cap=0 so the
    # label-propagation loop (with conditional pointer doubling) runs even
    # at probe scale. The synthetic graph mixes the two adversarial shapes:
    # dense star clusters (propagation converges geometrically) and ONE
    # long chain whose diameter grows with the scale factor — the shape
    # that needs doubling to stay O(log d) rounds. Verified against the
    # exact expectation (every chain/star labels to its min id).
    from datacompy_spark.operators.dedup import connected_components

    t1 = None
    for mult in muls if "cc" in sections else []:
        chain_len = 4096 * mult
        n_stars, star_size = 2000 * mult, 8
        chain = spark.range(0, chain_len - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        star_base = 10_000_000
        stars = spark.range(0, n_stars * (star_size - 1)).select(
            (F.lit(star_base) + (F.col("id") / (star_size - 1)).cast("long") * star_size).alias("id_a"),
            (F.lit(star_base) + (F.col("id") / (star_size - 1)).cast("long") * star_size
             + F.col("id") % (star_size - 1) + 1).alias("id_b"),
        )
        pairs = chain.unionAll(stars)
        n_edges = pairs.count()
        stats: dict = {}
        t0 = time.perf_counter()
        labels = connected_components(
            pairs, max_iter=30, driver_cap=0, stats_out=stats
        )
        n_comp = labels.select("component").distinct().count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        want_comp = 1 + n_stars
        ok = "OK" if n_comp == want_comp else f"WRONG(want {want_comp})"
        print(
            f"cc      x{mult:<3d} edges={n_edges:>9,d}  chain={chain_len:>7,d}"
            f"  rounds={stats.get('rounds'):>2}  doubling@{stats.get('doubling_from')}"
            f"  comps={n_comp:,d} {ok}  sec={el:7.2f}  vs_x1={el/t1:5.2f}",
            flush=True,
        )

    # ---- k-means: corpus scaled by id-offset copies, k and iters FIXED —
    # the iterative-operator shape. Per iteration the work is one broadcast
    # assignment pass (n·k integer folds) + one (cid,dim) partial agg, so
    # seconds should track n linearly; the driver-side state is k×dim ints
    # regardless of scale (the collect can never grow with the corpus).
    from datacompy_spark.operators.similarity import kmeans_lloyd

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    t1 = None
    for mult in muls if "kmeans" in sections else []:
        emb = spark.read.parquet(emb_path)
        parts = [
            emb.select(
                (F.col("vec_id") + F.lit(10_000_000 * i)).alias("vec_id"),
                "embedding",
            )
            for i in range(mult)
        ]
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        n = corpus.count()
        t0 = time.perf_counter()
        out = kmeans_lloyd(corpus, "vec_id", "embedding", k=8, iters=2)
        n_out = out.count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        ok = "OK" if n_out == n else f"WRONG(want {n})"
        print(
            f"kmeans  x{mult:<3d} vecs={n:>9,d}  assigned={n_out:>9,d} {ok}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )

    # ---- persisted IVF index: corpus scaled, probe set FIXED — the ANN
    # serving shape. Build cost should track the corpus (one assignment
    # pass + partitioned write); PROBE cost should stay ~flat, because a
    # fixed nprobe reads the same number of cell directories no matter how
    # many exist (partition pruning) and each cell grows only ~linearly
    # with corpus/|cells|. Pivot count grows with the corpus (ids % 37), so
    # cells stay ~constant-sized and probe work is genuinely ~flat.
    import shutil
    import tempfile

    from datacompy_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    t1 = None
    for mult in muls if "ivfindex" in sections else []:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        parts = [
            emb.select(
                (F.col("vec_id") + F.lit(10_000_000 * i)).alias("vec_id"),
                "embedding",
            )
            for i in range(mult)
        ]
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionAll(p)
        probes_df = emb.filter(F.col("vec_id") % 97 == 0)  # fixed ~20 queries
        d = tempfile.mkdtemp(prefix="ivfidx_")
        try:
            tb0 = time.perf_counter()
            summary = build_ivf_index(corpus, "vec_id", "embedding", d)
            build_s = time.perf_counter() - tb0
            tq0 = time.perf_counter()
            n_out = query_ivf_index(
                spark, d, probes_df, "vec_id", "embedding", k=5, nprobe=2
            ).count()
            probe_s = time.perf_counter() - tq0
        finally:
            shutil.rmtree(d, ignore_errors=True)
        if t1 is None:
            t1 = probe_s
        print(
            f"ivfidx  x{mult:<3d} vecs={summary['n_rows']:>9,d}"
            f"  cells={summary['n_cells']:>5,d}  build={build_s:7.2f}s"
            f"  probe={probe_s:6.2f}s ({n_out} rows)"
            f"  probe_vs_x1={probe_s/t1:5.2f} (flat => ~1)",
            flush=True,
        )

    # ---- PageRank: the transaction graph replicated with node offsets —
    # nodes AND edges grow ×mult, iterations fixed at 3. Each iteration is
    # an edges⋈ranks shuffle join + a dst-keyed integer sum, so wall time
    # should grow ~linearly with the edge count; the lineage barriers keep
    # the unrolled plan from re-deriving earlier iterations (without them
    # the x16 plan would replay the x16 join 3x per reference).
    t1 = None
    for mult in muls if "pagerank" in sections else []:
        from datacompy_spark.operators.graph import pagerank

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        g0 = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_custkey", "l_suppkey")
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
        parts = [
            g0.select(
                (F.col("o_custkey") + F.lit(10_000_000 * i)).alias("c"),
                (F.col("l_suppkey") + F.lit(10_000_000 * i)).alias("s"),
                "w",
            )
            for i in range(mult)
        ]
        g = parts[0]
        for p in parts[1:]:
            g = g.unionAll(p)
        cust = F.concat(F.lit("c:"), F.col("c").cast("string"))
        supp = F.concat(F.lit("s:"), F.col("s").cast("string"))
        edges = g.select(cust.alias("src"), supp.alias("dst"), "w").unionAll(
            g.select(supp.alias("src"), cust.alias("dst"), "w")
        )
        n_edges = edges.count()
        t0 = time.perf_counter()
        n_nodes = pagerank(edges, weight_col="w", iterations=3).count()
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"pagerank x{mult:<3d} edges={n_edges:>10,d}  nodes={n_nodes:>9,d}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (linear => ~{mult})",
            flush=True,
        )

    # ---- hot-key compare: ONE key duplicated k times on both sides (plus
    # a uniform background), range-pair mode vs dup_join_on_ordinal mode.
    # The range-pair residual is O(k²) inside the hot key's task; the
    # ordinal-equi-key mode is linear in k at one extra exchange. The
    # numbers justify the default (small k: range-pair wins by avoiding a
    # shuffle) and the escape hatch (hot k: ordinal mode is the only one
    # that finishes).
    def hotkey_frame(k_hot: int, n_bg: int = 200_000):
        hot = spark.range(0, k_hot).select(
            F.lit(0).cast("long").alias("k"), F.col("id").alias("v")
        )
        bg = spark.range(1, n_bg + 1).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        return hot.unionAll(bg)

    for k_hot, modes in [
        (1_000, ("range", "ordinal")),
        (10_000, ("range", "ordinal")),
        (1_000_000, ("ordinal",)),  # range-pair mode: ~10^12 residual evals — excluded by design
    ] if "hotkey" in sections else []:
        for mode in modes:
            df = hotkey_frame(k_hot)
            df2 = df.select("k", F.when(F.col("v") % 5 == 0, F.col("v") + 1).otherwise(F.col("v")).alias("v"))
            t0 = time.perf_counter()
            # r14: the hot-key advisory (compare.py::_warn_if_hot_key) must
            # fire on exactly this fixture at k >= HOT_KEY_WARN_THRESHOLD in
            # the default range-pair mode, and stay silent in ordinal mode
            # (it already IS the mitigation the advisory names).
            import warnings as _w

            with _w.catch_warnings(record=True) as _caught:
                _w.simplefilter("always")
                cmp_ = SparkCompare(
                    spark, df, df2, join_columns=["k"], dup_order_by=["v"],
                    dup_join_on_ordinal=(mode == "ordinal"),
                )
                n_match = cmp_.count_matching_rows()
            el = time.perf_counter() - t0
            warned = any(
                issubclass(c.category, RuntimeWarning)
                and "hot join key" in str(c.message)
                for c in _caught
            )
            print(
                f"hotkey  k={k_hot:>9,d} mode={mode:<7s} matched={n_match:>9,d}"
                f"  sec={el:7.2f}  hottest={cmp_.hot_key_rows:>9,d} warn={warned}",
                flush=True,
            )

    # ---- long-document robustness (r14): a multi-MB outlier document in
    # an otherwise normal corpus. Shingling is a JVM-side array transform
    # with ~k× transient per-row amplification (word_shingles materializes
    # T-k+1 k-word strings inside ONE Tungsten row), so a monster document
    # is the one input whose cost cannot be spread across partitions — at
    # 100 TB a web/book corpus WILL contain them. Legs per size: columnar
    # text/token stats (linear, whole-stage codegen), simhash signatures
    # (per-token hash + 60-bit vote), minhash LSH pairs (persists the
    # per-representative DISTINCT-shingle sets — the heaviest single-row
    # amplification in the engine). The monster's word stream is aperiodic
    # (two coprime moduli), so its shingles are mostly DISTINCT — repeated
    # text would collapse under array_distinct and understate the stress.
    # Degradation must be a slowdown bounded by the one serial task, never
    # a failure; rerun with SPARK_GRAFT_DRIVER_MEM=2g for the constrained
    # leg (r13 memory-cliff axis).
    if "longdoc" in sections:
        from datacompy_spark.operators.dedup import simhash_signatures
        from datacompy_spark.operators.textops import text_stats, token_counts

        def monster(doc_id: int, n_words: int):
            return spark.range(1).select(
                F.lit(doc_id).cast("long").alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(n_words)),
                        lambda i: F.concat(
                            F.lit("w"), (i % 50021).cast("string"),
                            F.lit("x"), (i % 7919).cast("string"),
                        ),
                    ),
                    " ",
                ).alias("text"),
            )

        for size_mb in (0, 1, 8, 32):
            n_words = size_mb * 95_000  # ~11 bytes/word
            corpus = docs if size_mb == 0 else docs.unionAll(
                monster(10_000_000 + size_mb, n_words)
            )
            legs = {}
            # every leg forces evaluation through an aggregate over the
            # COMPUTED columns — a bare count() lets Catalyst prune the
            # projection and time an empty scan (observed: simhash "cost"
            # a flat 0.5 s at every size until this forced it)
            t0 = time.perf_counter()
            st = text_stats(corpus, "doc_id", "text")
            metric_cols = [c for c, t in st.dtypes if c != "doc_id" and t != "string"]
            stats_row = st.agg(
                F.count("*").alias("n"), *[F.sum(c).alias(c) for c in metric_cols]
            ).collect()[0]
            stats_rows = stats_row["n"]
            mon_tokens = (
                token_counts(corpus, "doc_id", "text")
                .agg(F.max("ws_tokens").alias("m")).collect()[0]["m"]
            )
            legs["stats"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            n_sigs = (
                simhash_signatures(corpus, "doc_id", "text")
                .agg(F.count("*").alias("n"), F.max("simhash")).collect()[0]["n"]
            )
            legs["simhash"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            n_pairs = minhash_lsh_pairs(
                corpus, "doc_id", "text", num_hashes=16, bands=4,
                shingle_k=3, threshold=0.3,
            ).count()
            legs["minhash"] = time.perf_counter() - t0
            print(
                f"longdoc sz={size_mb:>2d}MB docs={stats_rows:>7,d} "
                f"max_tokens={int(mon_tokens):>10,d} sigs={n_sigs:>7,d} "
                f"pairs={n_pairs:>6,d}  "
                + "  ".join(f"{k}={v:6.2f}s" for k, v in legs.items()),
                flush=True,
            )
            spark.catalog.clearCache()

    # ---- AQE skew-join evidence for the core compare's outer join (r12
    # verdict item 4). Data: 2M rows/side, ONE join-key value carrying 30%
    # of the rows (600k), background keys unique. Three legs in one
    # session with skew thresholds lowered to probe scale:
    #   inner-ctl : the same skewed shuffle through an INNER sort-merge
    #               join — AQE's OptimizeSkewedJoin should engage
    #               (skew=true in the final adaptive plan). Proves the
    #               session/thresholds CAN split, isolating the next leg.
    #   outer     : identical data through a FULL OUTER sort-merge join —
    #               the compare's J1 shape. Spark's OptimizeSkewedJoin
    #               supports Inner/LeftOuter/RightOuter/LeftSemi/LeftAnti
    #               only (splitting a full-outer side would duplicate the
    #               preserved null-extension on every split), so skew=true
    #               must NOT appear: at 100 TB a hot key in a plain
    #               compare lands on one task, AQE or not.
    #   ordinal   : the engine's mitigation — dup_join_on_ordinal=True
    #               re-keys the pairing join to (key, ordinal), which is
    #               UNIFORM (built-in salting: the ordinal is the salt and
    #               the pairing semantics make it exact, not approximate).
    #               Residual skew is the one window sort computing
    #               ordinals for the hot key — O(k log k) in a single
    #               task, measured here as the leg's wall clock.
    if "skewaqe" in sections:
        _SKEW_CONFS = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
            # both legs must shuffle — a broadcast join has no skew to split
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        saved_confs = {}
        for k, v in _SKEW_CONFS.items():
            try:
                saved_confs[k] = spark.conf.get(k)
            except Exception:  # noqa: BLE001 — unset conf
                saved_confs[k] = None
            spark.conf.set(k, v)

        def _final_plan(df) -> str:
            try:
                return df._jdf.queryExecution().executedPlan().toString()
            except Exception:  # noqa: BLE001 — diagnostics only
                return ""

        try:
            n_bg, k_hot = 1_400_000, 600_000
            hot = spark.range(0, k_hot).select(
                F.lit(0).cast("long").alias("k"), F.col("id").alias("v")
            )
            bg = spark.range(1, n_bg + 1).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            )
            skewed = hot.unionAll(bg)
            # right side: ONE row per key (no duplicates), so join output
            # stays O(input) while the left shuffle partition for k=0 is
            # ~10 MB vs a ~0.7 MB median — comfortably past factor=2 +
            # threshold=1m
            dim = spark.range(0, n_bg + 1).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("w")
            )
            for how, label in (("inner", "inner-ctl"), ("full_outer", "outer")):
                out = skewed.join(dim, "k", how).select(
                    F.sum(F.col("v") + F.col("w")).alias("s")
                )
                t0 = time.perf_counter()
                n_out = out.collect()[0]["s"]
                el = time.perf_counter() - t0
                plan = _final_plan(out)
                engaged = "skew=true" in plan
                print(
                    f"skewaqe {label:<9s} rows={2_000_000:>9,d} hot=30%"
                    f"  sec={el:7.2f}  aqe_skew_split="
                    f"{'ENGAGED' if engaged else 'not-engaged'}"
                    f"  (checksum={n_out})",
                    flush=True,
                )
            # mitigation leg: the compare itself, hot key duplicated on
            # BOTH sides, ordinal pairing mode
            df1 = skewed
            df2 = skewed.select(
                "k",
                F.when(F.col("v") % 5 == 0, F.col("v") + 1)
                .otherwise(F.col("v"))
                .alias("v"),
            )
            t0 = time.perf_counter()
            cmp_ = SparkCompare(
                spark, df1, df2, join_columns=["k"], dup_order_by=["v"],
                dup_join_on_ordinal=True,
            )
            n_match = cmp_.count_matching_rows()
            el = time.perf_counter() - t0
            print(
                f"skewaqe ordinal   rows={2_000_000:>9,d} hot=30%"
                f"  sec={el:7.2f}  matched={n_match:>9,d}"
                f"  (uniform (k,ordinal) join key — the salting mitigation)",
                flush=True,
            )
        finally:
            for k, v in saved_confs.items():
                try:
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
                except Exception:  # noqa: BLE001
                    pass

    # ---- grouped snapshot checksums: input scaled, group domain fixed.
    # Claim: scan-bound — the digest is one 60-bit hash + integer add per
    # row folded into the scan, map-side combined to one partial sum per
    # (task, group); the join runs on the 12-row month domain at every
    # scale. The bad-month verdict set must be scale-invariant (the same
    # months corrupt at every mult — losslessness riding along).
    t1 = None
    for mult in muls if "checksum" in sections else []:
        from datacompy_spark.operators.profile import checksum_diff_by

        left = at_scale(mult).withColumn("ship_month", F.month("l_shipdate"))
        right = (
            at_scale(mult)
            .withColumn(
                "l_quantity",
                F.when(
                    (F.col("l_orderkey") % 13 == 0)
                    & F.month("l_shipdate").isin(3, 7),
                    F.col("l_quantity") + F.lit(1.0),
                ).otherwise(F.col("l_quantity")),
            )
            .withColumn("ship_month", F.month("l_shipdate"))
        )
        n = left.count()
        t0 = time.perf_counter()
        bad = sorted(
            r["ship_month"]
            for r in checksum_diff_by(
                left, right, ["ship_month"], columns=LI_COLS
            ).filter(~F.col("content_match")).collect()
        )
        el = time.perf_counter() - t0
        if t1 is None:
            t1 = el
        print(
            f"checksum x{mult:<3d} rows={n:>11,d}  bad_months={bad}"
            f"  sec={el:7.2f}  vs_x1={el/t1:5.2f} (scan-bound => <= {mult})",
            flush=True,
        )

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
