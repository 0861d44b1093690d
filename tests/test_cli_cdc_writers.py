"""CLI cdc subcommand + partitioned writer sink tests."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from datacompy_spark.cli import main
from datacompy_spark.sources.loaders import write_partitioned


@pytest.fixture()
def snapshots(spark, tmp_path):
    old_p, new_p = str(tmp_path / "old.parquet"), str(tmp_path / "new.parquet")
    spark.createDataFrame(
        [Row(k=1, v="a", n=1.0), Row(k=2, v="b", n=2.0), Row(k=3, v="c", n=3.0)]
    ).write.parquet(old_p)
    spark.createDataFrame(
        [Row(k=1, v="a", n=1.0), Row(k=2, v="B", n=2.0), Row(k=4, v="d", n=4.0)]
    ).write.parquet(new_p)
    return old_p, new_p


class TestCliCdc:
    def test_feed_and_summary(self, spark, snapshots, tmp_path, capsys):
        old_p, new_p = snapshots
        out = str(tmp_path / "feed")
        rc = main(["cdc", "--old", old_p, "--new", new_p, "--keys", "k",
                   "--export", out])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["inserts"] == 1      # k=4
        assert summary["deletes"] == 1      # k=3
        assert summary["updates"] == 1      # k=2 (v changed)
        feed = {r["k"]: r for r in spark.read.parquet(out).collect()}
        assert feed[2]["changed_cols"] == ["v"]

    def test_fail_on_change_gate(self, snapshots, tmp_path, capsys):
        old_p, new_p = snapshots
        rc = main(["cdc", "--old", old_p, "--new", new_p, "--keys", "k",
                   "--export", str(tmp_path / "f1"), "--fail-on-change"])
        assert rc == 1
        capsys.readouterr()
        # identical snapshots → empty feed → gate passes
        rc = main(["cdc", "--old", old_p, "--new", old_p, "--keys", "k",
                   "--export", str(tmp_path / "f2"), "--fail-on-change"])
        assert rc == 0
        assert json.loads(capsys.readouterr().out.strip())["updates"] == 0

    def test_column_subset_and_errors(self, snapshots, tmp_path, capsys):
        old_p, new_p = snapshots
        # comparing only n: the v-change at k=2 disappears from the feed
        rc = main(["cdc", "--old", old_p, "--new", new_p, "--keys", "k",
                   "--columns", "n", "--export", str(tmp_path / "f3")])
        assert rc == 0
        assert json.loads(capsys.readouterr().out.strip())["updates"] == 0
        # bad key column → exit 2, no traceback
        rc = main(["cdc", "--old", old_p, "--new", new_p, "--keys", "nope",
                   "--export", str(tmp_path / "f4")])
        assert rc == 2

    def test_cli_flags_map_to_operator_kwargs(self):
        """Drift guard (mirrors the compare-subcommand guard): every cdc
        run-path kwarg is a real snapshot_cdc parameter."""
        import inspect

        from datacompy_spark.operators.cdc import snapshot_cdc

        params = set(inspect.signature(snapshot_cdc).parameters)
        assert {"old", "new", "keys", "compare_cols", "include_unchanged"} <= params


class TestWritePartitioned:
    def test_layout_pruning_and_file_caps(self, spark, tmp_path):
        df = spark.range(0, 1000).select(
            F.col("id"),
            (F.col("id") % 4).alias("part"),
            (F.col("id") % 7).alias("v"),
        )
        out = str(tmp_path / "partitioned")
        write_partitioned(df, out, "part", sort_columns="v", max_records_per_file=100)
        # hive layout: one directory per key
        dirs = sorted(d for d in os.listdir(out) if d.startswith("part="))
        assert dirs == ["part=0", "part=1", "part=2", "part=3"]
        # maxRecordsPerFile honored: 250 rows/partition → ≥3 files each
        files = [f for f in os.listdir(f"{out}/part=0") if f.endswith(".parquet")]
        assert len(files) >= 3
        back = spark.read.parquet(out)
        assert back.count() == 1000
        # partition pruning visible in the plan for a key filter
        plan = (
            back.filter(F.col("part") == 2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters: [isnotnull(part" in plan

    def test_shuffle_is_rebalance_not_strict_hash(self, spark):
        # the pre-write shuffle must be a REBALANCE hint, not a strict hash
        # repartition: only rebalance shuffles are eligible for AQE's
        # optimizeSkewsInRebalancePartitions, which splits a hot partition
        # value across several write tasks
        from datacompy_spark.sources.loaders import write_partitioned  # noqa: F401

        df = spark.range(0, 1000).select(
            F.col("id"), (F.col("id") % 4).alias("part")
        )
        staged = df.hint("rebalance", F.col("part"))  # same expr the writer builds
        plan = staged._jdf.queryExecution().executedPlan().toString()
        assert "REBALANCE_PARTITIONS_BY_COL" in plan
        # and the writer itself goes through that path (source-level guard)
        import inspect

        from datacompy_spark.sources import loaders

        src = inspect.getsource(loaders.write_partitioned)
        assert 'hint("rebalance"' in src and ".repartition(" not in src

    def test_round_trip_values(self, spark, tmp_path):
        df = spark.createDataFrame(
            [Row(g="x", v=1), Row(g="y", v=2), Row(g="x", v=3)]
        )
        out = str(tmp_path / "p2")
        write_partitioned(df, out, ["g"])
        got = sorted(
            (r["g"], r["v"]) for r in spark.read.parquet(out).collect()
        )
        assert got == [("x", 1), ("x", 3), ("y", 2)]


class TestCliCurate:
    def test_verdict_export_and_summary(self, spark, tmp_path, capsys):
        docs_p = str(tmp_path / "docs.parquet")
        eval_p = str(tmp_path / "eval.parquet")
        # per-document unique vocabulary so only the planted eval overlap
        # (doc 5) trips decontamination
        rows = [
            Row(
                doc_id=i,
                text=(
                    f"document {i} covers topic{i} alpha{i} beta{i} gamma{i} "
                    f"delta{i} epsilon{i} zeta{i} eta{i} theta{i} iota{i} "
                    f"kappa{i} lambda{i} mu{i}"
                ),
            )
            for i in range(20)
        ]
        rows.append(Row(doc_id=100, text="x"))                    # quality drop
        rows.append(Row(doc_id=101, text=rows[0].text))           # exact dup of doc 0
        spark.createDataFrame(rows).write.parquet(docs_p)
        # eval set shares doc 5's text → contamination hit
        spark.createDataFrame([Row(doc_id=1000, text=rows[5].text)]).write.parquet(eval_p)

        out = str(tmp_path / "verdict")
        rc = main(["curate", "--input", docs_p, "--eval", eval_p,
                   "--verdict", out])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["n_docs"] == 22
        v = summary["verdicts"]
        assert v.get("quality", 0) >= 1
        assert v.get("duplicate", 0) >= 1
        assert v.get("contaminated", 0) >= 1
        assert v.get("kept", 0) >= 15
        # split assigned only for kept docs, and all three splits total kept
        assert sum(summary["splits"].values()) == v["kept"]
        feed = spark.read.parquet(out)
        assert set(feed.columns) >= {"doc_id", "verdict", "keep", "split"}

    def test_bad_split_pcts_rejected(self, tmp_path, capsys):
        rc = main(["curate", "--input", "x.parquet", "--eval", "y.parquet",
                   "--verdict", str(tmp_path / "v"), "--train-pct", "90",
                   "--val-pct", "20"])
        assert rc == 2

    def test_dsir_weights_export(self, spark, tmp_path, capsys):
        """--dsir scores every input doc against --eval; docs that read
        like the eval set rank higher than off-domain ones."""
        docs_p = str(tmp_path / "docs.parquet")
        eval_p = str(tmp_path / "eval.parquet")
        on_domain = "physics energy momentum quantum field theory lattice"
        off_domain = "recipe butter sugar flour oven whisk batter frosting"
        spark.createDataFrame(
            [Row(doc_id=1, text=on_domain), Row(doc_id=2, text=off_domain)]
        ).write.parquet(docs_p)
        spark.createDataFrame(
            [Row(doc_id=9, text="quantum field theory of lattice physics")]
        ).write.parquet(eval_p)

        verdict, dsir = str(tmp_path / "verdict"), str(tmp_path / "dsir")
        rc = main(["curate", "--input", docs_p, "--eval", eval_p,
                   "--verdict", verdict, "--dsir", dsir])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["dsir"] == dsir and summary["n_dsir"] == 2
        w = {r["doc_id"]: r["logratio_q"] for r in spark.read.parquet(dsir).collect()}
        assert set(w) == {1, 2}
        assert w[1] > w[2]  # eval-like doc carries the higher weight

    def test_dsir_path_releases_its_checkpoint_blocks(self, spark, tmp_path, capsys):
        """End-to-end pin of the r11 ADVICE fix: in a BORROWED session (the
        CLI here runs inside the test's long-lived session), the --dsir
        path must leave no lineage_barrier localCheckpoint blocks behind —
        release_caches() alone never reached them, and the first fix's
        weakref ledger was provably a no-op at this very call site."""
        from datacompy_spark import release_checkpoints

        release_checkpoints()  # drain other tests' leftovers
        spark.catalog.clearCache()

        def ckpt_blocks() -> int:
            sc = spark.sparkContext
            return sum(
                i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo()
            )

        docs_p = str(tmp_path / "docs2.parquet")
        eval_p = str(tmp_path / "eval2.parquet")
        spark.createDataFrame(
            [Row(doc_id=i, text=f"alpha beta gamma delta token{i}") for i in range(6)]
        ).write.parquet(docs_p)
        spark.createDataFrame(
            [Row(doc_id=9, text="alpha beta gamma delta")]
        ).write.parquet(eval_p)
        before = ckpt_blocks()
        rc = main(["curate", "--input", docs_p, "--eval", eval_p,
                   "--verdict", str(tmp_path / "v2"),
                   "--dsir", str(tmp_path / "d2"), "--quiet"])
        assert rc == 0
        assert ckpt_blocks() == before, (
            "curate --dsir left localCheckpoint blocks in the borrowed session"
        )


class TestCliCluster:
    def test_assignments_centroids_and_cap(self, spark, tmp_path, capsys):
        import random

        rng = random.Random(3)
        centers = {0: [4.0] * 6, 1: [-4.0] * 6}
        rows = [
            Row(
                vec_id=i,
                embedding=[v + rng.uniform(-0.2, 0.2) for v in centers[i % 2]],
            )
            for i in range(40)
        ]
        inp = str(tmp_path / "emb.parquet")
        spark.createDataFrame(rows).write.parquet(inp)
        out = str(tmp_path / "assign")
        cents_p = str(tmp_path / "cents")
        rc = main([
            "cluster", "--input", inp, "--k", "2", "--iters", "3",
            "--assignments", out, "--centroids", cents_p,
        ])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["n_rows"] == 40
        assert summary["k_effective"] == 2
        assert summary["largest_cluster"] == 20  # perfect blob split
        feed = spark.read.parquet(out)
        assert set(feed.columns) == {"vec_id", "cluster_id", "dist_q"}
        # every even id shares a cluster, every odd id the other
        got = {r["vec_id"]: r["cluster_id"] for r in feed.collect()}
        assert len({got[i] for i in range(0, 40, 2)}) == 1
        assert len({got[i] for i in range(1, 40, 2)}) == 1
        cents = spark.read.parquet(cents_p)
        assert cents.count() == 2 and set(cents.columns) == {"cid", "cq"}

        # balanced-sample mode caps each cluster
        capped = str(tmp_path / "capped")
        rc = main([
            "cluster", "--input", inp, "--k", "2", "--iters", "3",
            "--cap", "5", "--assignments", capped,
        ])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["n_rows"] == 10 and summary["largest_cluster"] == 5

    def test_bad_args_rejected(self, tmp_path, capsys):
        rc = main([
            "cluster", "--input", "x.parquet", "--k", "0",
            "--assignments", str(tmp_path / "a"),
        ])
        assert rc == 2
        assert "k must be positive" in capsys.readouterr().err


class TestCliAnn:
    def test_build_then_query(self, spark, tmp_path, capsys):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        inp = str(tmp_path / "emb.parquet")
        emb.select("vec_id", "embedding").write.parquet(inp)
        idx = str(tmp_path / "idx")
        rc = main(["ann", "--index", idx, "--build", inp])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["n_rows"] == emb.count() and summary["n_cells"] >= 2

        q = str(tmp_path / "q.parquet")
        emb.filter(F.col("vec_id") % 97 == 0).select(
            "vec_id", "embedding"
        ).write.parquet(q)
        res = str(tmp_path / "res")
        rc = main(["ann", "--index", idx, "--queries", q, "--k", "3",
                   "--output", res])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip())
        assert summary["n_pairs"] == summary["n_queries"] * 3
        feed = spark.read.parquet(res)
        assert set(feed.columns) >= {"query_id", "neighbor_id", "cos_sim"}

    def test_build_and_query_mutually_exclusive(self, tmp_path, capsys):
        rc = main(["ann", "--index", str(tmp_path / "i")])
        assert rc == 2
        assert "exactly one" in capsys.readouterr().err

    def test_append_mode(self, spark, tmp_path, capsys):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = str(tmp_path / "a.parquet")
        b = str(tmp_path / "b.parquet")
        emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding").write.parquet(a)
        emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding").write.parquet(b)
        idx = str(tmp_path / "idx")
        assert main(["ann", "--index", idx, "--build", a]) == 0
        capsys.readouterr()
        rc = main(["ann", "--index", idx, "--append", b])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = json.loads(captured.out.strip())
        assert summary["appended"] == emb.count() - emb.filter(F.col("vec_id") % 2 == 0).count()
        total = spark.read.parquet(f"{idx}/cells").count()
        assert total == emb.count()

    def test_compact_mode(self, spark, tmp_path, capsys):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = str(tmp_path / "a.parquet")
        b = str(tmp_path / "b.parquet")
        emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding").write.parquet(a)
        emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding").write.parquet(b)
        idx = str(tmp_path / "idx")
        assert main(["ann", "--index", idx, "--build", a]) == 0
        assert main(["ann", "--index", idx, "--append", b]) == 0
        capsys.readouterr()
        rc = main(["ann", "--index", idx, "--compact"])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = json.loads(captured.out.strip())
        assert summary["n_rows"] == emb.count()
        cells = spark.read.parquet(f"{idx}/cells")
        assert {r["ingest"] for r in cells.select("ingest").distinct().collect()} == {0}


class TestCliSnapshot:
    def _dirs(self, spark, tmp_path):
        left = tmp_path / "L"
        right = tmp_path / "R"
        t = spark.createDataFrame(
            [(i, f"r{i}", float(i)) for i in range(30)],
            "k bigint, s string, x double",
        )
        t.write.parquet(str(left / "t1.parquet"))
        t.coalesce(1).write.parquet(str(right / "t1.parquet"))  # same content
        t.write.parquet(str(left / "t2.parquet"))
        t.withColumn("x", F.col("x") + F.when(F.col("k") == 7, 1.0).otherwise(0.0)) \
            .write.parquet(str(right / "t2.parquet"))
        return str(left), str(right)

    def test_verdicts_and_gate(self, spark, tmp_path, capsys):
        left, right = self._dirs(spark, tmp_path)
        rc = main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1,t2",
        ])
        assert rc == 0  # no gate flag: report only
        out = json.loads(capsys.readouterr().out.strip())
        assert out["tables"]["t1"]["content_match"] is True
        assert out["tables"]["t2"]["content_match"] is False
        assert out["tables"]["t2"]["rows_match"] is True
        assert out["mismatched"] == 1
        rc = main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1,t2", "--fail-on-mismatch",
        ])
        assert rc == 1  # CI gate trips

    def test_ignore_cols_excuses_volatile_column(self, spark, tmp_path, capsys):
        left, right = self._dirs(spark, tmp_path)
        rc = main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t2", "--ignore-cols", "t2=x", "--fail-on-mismatch",
        ])
        assert rc == 0  # only x differed
        out = json.loads(capsys.readouterr().out.strip())
        assert out["tables"]["t2"]["content_match"] is True

    def test_by_drilldown_localizes_bad_groups(self, spark, tmp_path, capsys):
        """--by TABLE=COL: a mismatched table reports WHICH group values
        differ (grouped checksums); clean tables and clean groups stay out."""
        left, right = self._dirs(spark, tmp_path)
        rc = main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1,t2", "--by", "t2=k", "--by", "t1=k",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip())
        # t1 matched → no drill-down section despite the --by spec
        assert "bad_groups" not in out["tables"]["t1"]
        # only k=7 was corrupted in t2 (value change, same row count)
        bad = out["tables"]["t2"]["bad_groups"]
        assert list(bad) == ["7"]
        assert bad["7"]["rows_match"] is True
        assert bad["7"]["n_rows_left"] == 1

    def test_by_bad_specs_rejected(self, spark, tmp_path):
        left, right = self._dirs(spark, tmp_path)
        assert main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1", "--by", "bogus",
        ]) == 2
        assert main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1", "--by", "t9=k",
        ]) == 2
        # group column missing from the table errors only when the table
        # actually mismatches (the drill-down runs on mismatched tables)
        assert main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t2", "--by", "t2=nope",
        ]) == 2

    def test_bad_specs_rejected(self, spark, tmp_path, capsys):
        left, right = self._dirs(spark, tmp_path)
        assert main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1", "--ignore-cols", "bogus",
        ]) == 2
        assert main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1", "--ignore-cols", "t1=nope",
        ]) == 2
        # a typo'd TABLE name must error, not silently not apply
        assert main([
            "snapshot", "--left", left, "--right", right,
            "--tables", "t1", "--ignore-cols", "t9=s",
        ]) == 2
        assert main([
            "snapshot", "--left", left, "--right", right, "--tables", " ",
        ]) == 2
