"""CLI tests: exit codes, thresholds, output formats (F2 fixture shape)."""

import argparse
import json
import subprocess
import sys

import pytest

from conftest import jobs
from datacompy_spark.cli import main


@pytest.fixture(scope="module")
def pair(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("cli")
    left = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id bigint, name string, amount double",
    )
    right = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.005), (4, "dave", 40.0)],
        "id bigint, name string, amount double",
    )
    lp, rp = str(d / "left.parquet"), str(d / "right.parquet")
    left.coalesce(1).write.parquet(lp)
    right.coalesce(1).write.parquet(rp)
    return lp, rp


@pytest.fixture()
def li_files(tmp_path, lineitem):
    """Two lineitem parquet files, every 7th order's tax shifted; returns
    (left path, right path, join keys)."""
    from pyspark.sql import functions as F

    lp, rp = str(tmp_path / "l.parquet"), str(tmp_path / "r.parquet")
    lineitem.write.parquet(lp)
    tax = F.col("l_tax")
    lineitem.withColumn(
        "l_tax", F.when(F.col("l_orderkey") % 7 == 0, tax + 0.01).otherwise(tax)
    ).write.parquet(rp)
    return lp, rp, ["l_orderkey", "l_linenumber"]


class TestExitCodes:
    def test_differ_exits_1(self, pair, capsys):
        rc = main(["compare", "--left", pair[0], "--right", pair[1], "--on", "id"])
        out = capsys.readouterr().out
        assert rc == 1
        assert "Column Summary" in out

    def test_identical_exits_0(self, pair, capsys):
        rc = main(["compare", "--left", pair[0], "--right", pair[0], "--on", "id"])
        assert rc == 0

    def test_threshold_pass(self, pair, capsys):
        # 1 unequal + 1 left-only + 1 right-only; unique rows count as
        # differing by default (ref cli/compare.py:124-157)
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--max-unequal-rows", "3"]
        )
        assert rc == 0
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--max-unequal-rows", "2"]
        )
        assert rc == 1

    def test_version_flag(self, capsys):
        from datacompy_spark import __version__

        with pytest.raises(SystemExit) as ex:
            main(["--version"])
        assert ex.value.code == 0
        assert __version__ in capsys.readouterr().out

    def test_debug_flag_both_sides_and_reraise(self, pair, capsys, monkeypatch):
        # accepted before or after the subcommand (shared parent parser,
        # ref cli/parser.py:545-562); with it, unexpected exceptions re-raise
        import datacompy_spark.cli as cli

        def boom(args):
            raise RuntimeError("kaboom")

        monkeypatch.setattr(cli, "run_compare", boom)
        base = ["compare", "--left", pair[0], "--right", pair[1], "--on", "id"]
        assert cli.main(base) == 2  # short message, exit 2
        assert "kaboom" in capsys.readouterr().err
        with pytest.raises(RuntimeError):
            cli.main(["--debug"] + base)
        with pytest.raises(RuntimeError):
            cli.main(base + ["--debug"])

    def test_where_predicate_scopes_compare(self, pair, capsys):
        # rows 2 (mismatch) and 3/4 (uniques) are outside the slice → equal
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--where", "id <= 1", "--quiet"]
        )
        assert rc == 0
        # slice includes the mismatching row → differ
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--where", "id <= 2", "--quiet"]
        )
        assert rc == 1

    def test_where_invalid_predicate_exits_2(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--where", "no_such_column = 1", "--quiet"]
        )
        assert rc == 2
        assert "where" in capsys.readouterr().err.lower()

    def test_cache_and_app_name_flags(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[0], "--on", "id",
             "--spark-app-name", "my-compare", "--quiet"]
        )
        assert rc == 0
        # the compare never persists the outer join, so there is no flag
        # to switch it off
        with pytest.raises(SystemExit) as exc:
            main(["compare", "--left", pair[0], "--right", pair[0], "--on", "id",
                  "--no-cache-intermediates", "--quiet"])
        assert exc.value.code == 2

    def test_ignore_unique_rows_excludes_uniques(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--max-unequal-rows", "1", "--ignore-unique-rows"]
        )
        assert rc == 0

    def test_ignore_unique_rows_requires_threshold(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--ignore-unique-rows"]
        )
        assert rc == 2
        assert "--max-unequal-rows" in capsys.readouterr().err

    def test_abs_tol_heals_value_diff(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--abs-tol", "0.01", "--max-unequal-rows", "2"]
        )
        assert rc == 0

    def test_per_column_tolerance_pairs(self, pair, capsys):
        # amount differs by 0.005: a per-column tolerance on amount heals it,
        # one naming another column does not
        base = ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
                "--max-unequal-rows", "2"]
        assert main(base + ["--abs-tol", "amount=0.01"]) == 0
        assert main(base + ["--abs-tol", "name=0.01"]) == 1

    def test_mixed_tolerance_forms_rejected(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--abs-tol", "0.01", "--abs-tol", "amount=0.02"]
        )
        assert rc == 2
        assert "not both" in capsys.readouterr().err

    def test_on_index_rejected(self, pair, capsys):
        rc = main(
            ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
             "--on-index"]
        )
        assert rc == 2
        err = capsys.readouterr().err
        assert "--on-index is not supported with --backend spark" in err
        assert "pandas" in err

    def test_bad_join_column_exits_2(self, pair, capsys):
        rc = main(["compare", "--left", pair[0], "--right", pair[1], "--on", "nope"])
        assert rc == 2
        assert "error:" in capsys.readouterr().err

    def test_missing_file_exits_2(self, pair, capsys):
        rc = main(["compare", "--left", "/does/not/exist.parquet",
                   "--right", pair[1], "--on", "id"])
        assert rc == 2


class TestOutputs:
    def test_json_format(self, pair, capsys):
        rc = main(["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
                   "--format", "json"])
        captured = capsys.readouterr()
        assert rc == 1, captured.err
        data = json.loads(captured.out)
        assert data["row_summary"]["common_rows"] == 2

    def test_html_to_file_quiet(self, pair, tmp_path, capsys):
        out = tmp_path / "report.html"
        rc = main(["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
                   "--format", "html", "--output", str(out), "--quiet"])
        assert out.read_text().startswith("<html><head>")  # reference format
        assert capsys.readouterr().out == ""

    def test_export_mismatches_and_unique(self, pair, tmp_path, capsys, spark):
        mp, up = str(tmp_path / "mm"), str(tmp_path / "uq")
        rc = main(["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
                   "--quiet", "--export-mismatches", mp, "--export-unique", up])
        assert rc == 1
        mm = spark.read.parquet(mp)
        assert [r["id"] for r in mm.collect()] == [2]
        uq = spark.read.parquet(up)
        assert sorted((r["side"], r["id"]) for r in uq.collect()) == [("left", 3), ("right", 4)]

    def test_export_mismatches_shares_the_report_pass(
        self, tmp_path, capsys, spark, li_files, monkeypatch
    ):
        # a report alone persists nothing, so the CLI populates the diff
        # before it builds the report: the report reads the populated diff
        # and the export reuses it. Job budget: the two loads, a populate, a
        # report and the export write.
        from datacompy_spark import SparkCompare

        lp, rp, keys = li_files

        built = []

        def build():
            built.append(SparkCompare(
                spark, spark.read.parquet(lp), spark.read.parquet(rp), join_columns=keys
            ))

        budget = jobs(spark, build)
        populated, reported = built[0], built
        build()
        budget += (
            jobs(spark, populated._ensure_cached)
            + jobs(spark, reported[1].build_report_data)
            + jobs(spark, lambda: populated.all_mismatch().write.parquet(str(tmp_path / "ref")))
        )
        n_mismatch = populated.all_mismatch().count()
        populated.uncache()

        saw_diff = []
        real = SparkCompare._report_samples

        def spy(self, *a, **kw):
            saw_diff.append("_exceptions" in self.__dict__)
            return real(self, *a, **kw)

        monkeypatch.setattr(SparkCompare, "_report_samples", spy)
        mp = str(tmp_path / "mm")
        args = ["compare", "--left", lp, "--right", rp, "--on", ",".join(keys),
                "--quiet", "--export-mismatches", mp]
        n = jobs(spark, lambda: main(args))
        assert saw_diff == [True], "the CLI report ran before the diff was populated"
        assert n <= budget, f"CLI ran {n} jobs, budget {budget}"
        assert n_mismatch > 0 and spark.read.parquet(mp).count() == n_mismatch

    def test_compare_runs_the_report_jobs_only(self, spark, li_files):
        # without exports the CLI compare is the two loads plus the
        # one-action report, exactly what the API's default constructor
        # runs: persisting the outer join would add a job nothing reads
        from datacompy_spark import SparkCompare

        lp, rp, keys = li_files
        budget = jobs(spark, lambda: SparkCompare(
            spark, spark.read.parquet(lp), spark.read.parquet(rp),
            join_columns=keys,
        ).build_report_data())
        args = ["compare", "--left", lp, "--right", rp, "--on", ",".join(keys),
                "--quiet"]
        assert [jobs(spark, lambda: main(args)) for _ in range(2)] == [budget] * 2

    def test_compare_leaves_nothing_cached(self, pair, tmp_path, capsys, spark):
        # the session is borrowed and outlives the command: the exported
        # diff may not stay cached after it returns
        cache = spark._jsparkSession.sharedState().cacheManager()
        base = ["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
                "--quiet"]
        for extra in ([], ["--export-mismatches", str(tmp_path / "mm")]):
            spark.catalog.clearCache()
            rc = main(base + extra)
            assert rc == 1, capsys.readouterr().err
            assert cache.isEmpty(), f"compare {extra} left a cache behind"

    def test_csv_inputs(self, tmp_path, capsys):
        lp, rp = tmp_path / "l.csv", tmp_path / "r.csv"
        lp.write_text("id,v\n1,a\n2,b\n")
        rp.write_text("id,v\n1,a\n2,c\n")
        rc = main(["compare", "--left", str(lp), "--right", str(rp), "--on", "id"])
        assert rc == 1
        assert "v" in capsys.readouterr().out


class TestParserConstructorDrift:
    """Every SparkCompare constructor parameter must be either mapped to a
    CLI flag or deliberately excluded here — adding a parameter without
    deciding its CLI story fails this test (pattern of the reference's
    ``tests/cli/test_parser.py`` drift guard)."""

    # constructor param -> CLI dest, or None when deliberately not exposed
    MAPPING = {
        "spark": None,              # session is created/borrowed by the CLI
        "df1": "left",
        "df2": "right",
        "join_columns": "on",
        "abs_tol": "abs_tol",
        "rel_tol": "rel_tol",
        "df1_name": "left_name",
        "df2_name": "right_name",
        "ignore_spaces": "ignore_spaces",
        "ignore_case": "ignore_case",
        "cast_column_names_lower": "no_lowercase_columns",
        "custom_comparators": None,  # Python-API-only extension hook
        # the report and the exports read only the diff, so persisting
        # the outer join never pays in a CLI run; Python API only
        "cache_intermediates": None,
        "dup_order_by": None,        # niche; Python API only for now
        "assume_unique": "assume_unique",
        "null_safe_join": "assume_no_null_keys",  # CLI flag is the negation
        "dup_join_on_ordinal": "dup_join_on_ordinal",
    }

    def test_constructor_params_all_mapped(self):
        import inspect

        from datacompy_spark import SparkCompare

        params = set(inspect.signature(SparkCompare.__init__).parameters) - {"self"}
        assert params == set(self.MAPPING), (
            "SparkCompare constructor changed; update the CLI mapping "
            f"(new: {params - set(self.MAPPING)}, "
            f"gone: {set(self.MAPPING) - params})"
        )

    def test_mapped_dests_exist_in_parser(self):
        from datacompy_spark.cli import build_parser

        sub = build_parser()._subparsers._group_actions[0].choices["compare"]
        dests = {a.dest for a in sub._actions}
        for param, dest in self.MAPPING.items():
            if dest is not None:
                assert dest in dests, f"{param} maps to missing CLI dest {dest}"


    def test_constructor_call_kwargs_are_real_params(self):
        """AST-check the actual SparkCompare(...) call in run_compare: every
        keyword it passes must be a real constructor parameter (the
        reference's test_parser.py direction — option→kwarg can't drift)."""
        import ast
        import inspect
        import pathlib

        import datacompy_spark.cli as cli
        from datacompy_spark import SparkCompare

        tree = ast.parse(pathlib.Path(cli.__file__).read_text())
        calls = [
            n
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "SparkCompare"
        ]
        assert calls, "run_compare no longer constructs SparkCompare directly"
        params = set(inspect.signature(SparkCompare.__init__).parameters)
        for call in calls:
            passed = {kw.arg for kw in call.keywords if kw.arg}
            bogus = passed - params
            assert not bogus, f"CLI passes unknown constructor kwargs: {bogus}"

    def test_every_cli_option_is_consumed(self):
        """Every dest the compare subparser defines must be read as
        ``args.<dest>`` somewhere in the CLI module — a flag nobody reads is
        silent drift."""
        import pathlib
        import re

        import datacompy_spark.cli as cli
        from datacompy_spark.cli import build_parser

        src = pathlib.Path(cli.__file__).read_text()
        choices = build_parser()._subparsers._group_actions[0].choices
        skip = {"help", "command", "version"}
        for sub in choices.values():
            for action in sub._actions:
                dest = action.dest
                if dest in skip or dest == argparse.SUPPRESS:
                    continue
                assert re.search(rf"args\.{dest}\b", src), (
                    f"CLI option dest {dest!r} is defined but never read"
                )


class TestSampleFraction:
    def test_sampled_compare_runs_and_validates(self, pair, capsys):
        rc = main(["compare", "--left", pair[0], "--right", pair[0], "--on", "id",
                   "--sample-fraction", "1.0"])
        assert rc == 0
        rc = main(["compare", "--left", pair[0], "--right", pair[1], "--on", "id",
                   "--sample-fraction", "1.5"])
        assert rc == 2
        assert "sample-fraction" in capsys.readouterr().err


class TestProfileCommand:
    def test_profile_json(self, tmp_path, capsys, spark):
        df = spark.createDataFrame([(1, "a"), (2, None)], "id bigint, v string")
        p = str(tmp_path / "t.parquet")
        df.write.parquet(p)
        rc = main(["profile", "--input", p, "--format", "json"])
        out = capsys.readouterr().out
        assert rc == 0
        import json as _json

        rows = {r["col_name"]: r for r in _json.loads(out)}
        assert rows["v"]["n_nulls"] == 1 and rows["id"]["n_rows"] == 2

    def test_profile_drift_exit_codes(self, tmp_path, capsys, spark):
        a = str(tmp_path / "a.parquet")
        b = str(tmp_path / "b.parquet")
        spark.createDataFrame([(i, i * 1.0) for i in range(50)], "id bigint, x double").write.parquet(a)
        spark.createDataFrame(
            [(i, None if i % 2 else i * 1.0) for i in range(50)],
            "id bigint, x double",
        ).write.parquet(b)
        assert main(["profile", "--input", a, "--compare-to", a, "--quiet"]) == 0
        assert main(["profile", "--input", a, "--compare-to", b, "--quiet"]) == 1

    def test_profile_compare_ks_column(self, tmp_path, capsys, spark):
        a = str(tmp_path / "ka.parquet")
        b = str(tmp_path / "kb.parquet")
        spark.createDataFrame(
            [(i, float(i % 10), str(i)) for i in range(100)],
            "id bigint, x double, s string",
        ).write.parquet(a)
        spark.createDataFrame(
            [(i, float(i % 10) + 5.0, str(i)) for i in range(100)],
            "id bigint, x double, s string",
        ).write.parquet(b)
        rc = main(["profile", "--input", a, "--compare-to", b, "--ks",
                   "--format", "json"])
        import json as _json

        captured = capsys.readouterr()
        assert rc in (0, 1), captured.err
        rows = {r["col_name"]: r for r in _json.loads(captured.out)}
        # x shifted +5 over a 0-9 support: half the mass moves past 4.x
        assert rows["x"]["ks_stat"] == pytest.approx(0.5)
        # string column: no KS
        assert rows["s"]["ks_stat"] is None
        # --ks without --compare-to is a usage error
        assert main(["profile", "--input", a, "--ks"]) == 2
        # --ks is rejected in layout/embedding modes, like its siblings
        assert main(["profile", "--input", a, "--files", "--ks"]) == 2

    def test_profile_ks_threshold_gates_shape_only_drift(
        self, tmp_path, capsys, spark
    ):
        # same support (0..9), same distinct count, no nulls — the stats
        # flags stay quiet; only the SHAPE moves (uniform vs 91% zeros)
        a = str(tmp_path / "ga.parquet")
        b = str(tmp_path / "gb.parquet")
        spark.createDataFrame(
            [(i, float(i % 10)) for i in range(100)], "id bigint, x double"
        ).write.parquet(a)
        spark.createDataFrame(
            [(i, float(i - 90) if i >= 91 else 0.0) for i in range(100)],
            "id bigint, x double",
        ).write.parquet(b)
        assert main(["profile", "--input", a, "--compare-to", b, "--ks",
                     "--quiet"]) == 0
        assert main(["profile", "--input", a, "--compare-to", b, "--ks",
                     "--ks-threshold", "0.3", "--quiet"]) == 1

    def test_profile_column_subset_and_exact(self, tmp_path, capsys, spark):
        p = str(tmp_path / "c.parquet")
        spark.createDataFrame([(i, str(i % 3)) for i in range(30)], "id bigint, v string").write.parquet(p)
        rc = main(["profile", "--input", p, "--columns", "v", "--exact-distinct", "--format", "json"])
        import json as _json

        captured = capsys.readouterr()
        assert rc == 0, captured.err
        rows = _json.loads(captured.out)
        assert len(rows) == 1
        assert rows[0]["col_name"] == "v" and rows[0]["n_distinct"] == 3


class TestDedupCommand:
    def test_exact_dedup_verdict(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        rows = [
            (1, "the quick brown fox"),
            (2, "The  quick brown FOX!"),   # exact dup after normalize
            (3, "something else entirely here"),
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(p)
        out = str(tmp_path / "verdict.parquet")
        rc = main(["dedup", "--input", p, "--method", "exact", "--verdict", out])
        import json as _json

        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = _json.loads(captured.out)
        assert summary["n_docs"] == 3 and summary["n_survivors"] == 2
        v = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert v[1]["is_survivor"] and not v[2]["is_survivor"]
        assert v[1]["component"] == v[2]["component"] == 1
        assert v[3]["is_survivor"] and v[3]["n_docs"] == 1

    def test_dedup_leaves_nothing_cached(self, documents, tmp_path, capsys, spark):
        # the session is borrowed and outlives the command: no operator
        # cache or localCheckpoint a dedup method made may stay behind.
        # The test's own scope catches anything leaked to the enclosing
        # owner, and frees it on exit.
        from datacompy_spark import scope

        p = str(tmp_path / "docs.parquet")
        documents.orderBy("doc_id").limit(200).select("doc_id", "text").write.parquet(p)
        cache = spark._jsparkSession.sharedState().cacheManager()
        for method in ("exact", "minhash", "simhash"):
            spark.catalog.clearCache()
            with scope() as mine:
                rc = main(["dedup", "--input", p, "--method", method,
                           "--verdict", str(tmp_path / method), "--quiet"])
                assert rc == 0, capsys.readouterr().err
                assert cache.isEmpty(), f"dedup --method {method} left a cache"
                assert len(mine.frames) == 0, method
                assert mine.release_checkpoints() == 0, method

    def test_spans_rewrite_mode(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        rows = [
            (1, "the quick brown fox jumps over a lazy dog"),
            (2, "intro words the quick brown fox jumps tail"),
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(p)
        out = str(tmp_path / "clean.parquet")
        rc = main(["dedup", "--input", p, "--method", "spans", "--verdict", out])
        import json as _json

        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = _json.loads(captured.out)
        assert summary["method"] == "spans"
        assert summary["n_tokens"] == 17 and summary["n_tokens_removed"] == 5
        got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
        assert got[2] == "intro words tail"

    def test_lines_rewrite_mode(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        rows = [
            (1, "COOKIE BANNER\nunique one"),
            (2, "COOKIE BANNER\nunique two"),
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(p)
        out = str(tmp_path / "clean.parquet")
        rc = main(["dedup", "--input", p, "--method", "lines", "--verdict", out])
        import json as _json

        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = _json.loads(captured.out)
        assert summary["n_lines"] == 4 and summary["n_lines_removed"] == 1
        got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
        assert got[2] == "unique two"

    def test_rewrite_mode_rejects_pairs_and_ledger(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "x")], "doc_id bigint, text string"
        ).write.parquet(p)
        rc = main([
            "dedup", "--input", p, "--method", "spans",
            "--verdict", str(tmp_path / "o.parquet"),
            "--export-pairs", str(tmp_path / "p.parquet"),
        ])
        assert rc == 2 and "export-pairs" in capsys.readouterr().err
        rc = main([
            "dedup", "--input", p, "--method", "lines",
            "--verdict", str(tmp_path / "o.parquet"),
            "--against", p,
        ])
        assert rc == 2 and "rewrite" in capsys.readouterr().err

    def test_minhash_dedup_with_pairs_export(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup
            (3, "completely different words in this document body"),
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(p)
        out = str(tmp_path / "v.parquet")
        pairs = str(tmp_path / "p.parquet")
        rc = main([
            "dedup", "--input", p, "--method", "minhash", "--threshold", "0.3",
            "--verdict", out, "--export-pairs", pairs, "--quiet",
        ])
        assert rc == 0
        got_pairs = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs).collect()}
        assert (1, 2) in got_pairs
        v = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert v[2]["component"] == 1 and v[3]["is_survivor"]

    def test_editdist_dedup_with_pairs_export(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fax jumps over the lazy dog"),  # 1 sub
            (3, "a completely different document body here"),
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(p)
        out = str(tmp_path / "v.parquet")
        pairs = str(tmp_path / "p.parquet")
        rc = main([
            "dedup", "--input", p, "--method", "editdist", "--max-dist", "2",
            "--verdict", out, "--export-pairs", pairs, "--quiet",
        ])
        assert rc == 0
        got = {(r["id_a"], r["id_b"]): r["dist"]
               for r in spark.read.parquet(pairs).collect()}
        assert got == {(1, 2): 1}
        v = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert v[2]["component"] == 1 and v[3]["is_survivor"]

    def test_editdist_incremental_against_corpus(self, tmp_path, capsys, spark):
        corpus = str(tmp_path / "corpus.parquet")
        batch = str(tmp_path / "batch.parquet")
        spark.createDataFrame(
            [(1, "the quick brown fox jumps high")],
            "doc_id bigint, text string",
        ).write.parquet(corpus)
        spark.createDataFrame(
            [
                (10, "the quick brown fax jumps high"),   # 1 edit from corpus
                (11, "some totally unrelated document"),  # new
                (12, "some totally unrelated documents"), # dup_batch of 11
            ],
            "doc_id bigint, text string",
        ).write.parquet(batch)
        out = str(tmp_path / "v.parquet")
        rc = main([
            "dedup", "--input", batch, "--against", corpus,
            "--method", "editdist", "--max-dist", "2",
            "--verdict", out, "--quiet",
        ])
        assert rc == 0
        v = {r["doc_id"]: (r["verdict"], r["match_id"])
             for r in spark.read.parquet(out).collect()}
        assert v[10] == ("dup_corpus", 1)
        assert v[11] == ("new", None)
        assert v[12] == ("dup_batch", 11)

    def test_embedding_dedup_verdict(self, tmp_path, capsys, spark):
        p = str(tmp_path / "emb.parquet")
        base = [round(0.1 * (i % 7) + 0.05, 3) for i in range(16)]
        rows = [
            (1, base),
            (2, [x * 1.01 for x in base]),          # scaled -> cosine 1.0
            (3, [1.0 if i == 0 else 0.0 for i in range(16)]),  # orthogonal-ish
        ]
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).write.parquet(p)
        out = str(tmp_path / "v.parquet")
        pairs = str(tmp_path / "p.parquet")
        rc = main([
            "dedup", "--input", p, "--method", "embedding",
            "--id-col", "vec_id", "--min-cosine", "0.999",
            "--verdict", out, "--export-pairs", pairs,
        ])
        import json as _json

        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = _json.loads(captured.out)
        assert summary["n_docs"] == 3 and summary["n_survivors"] == 2
        got_pairs = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs).collect()}
        assert got_pairs == {(1, 2)}
        v = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert v[1]["is_survivor"] and not v[2]["is_survivor"]
        assert v[3]["is_survivor"]

    def test_embedding_dedup_missing_vec_col(self, tmp_path, capsys, spark):
        p = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "text only")], "doc_id bigint, text string"
        ).write.parquet(p)
        rc = main([
            "dedup", "--input", p, "--method", "embedding",
            "--verdict", str(tmp_path / "v.parquet"),
        ])
        err = capsys.readouterr().err
        assert rc == 2 and "embedding" in err and "not found" in err

    def test_dedup_missing_column_errors(self, tmp_path, capsys, spark):
        p = str(tmp_path / "d.parquet")
        spark.createDataFrame([(1, "x")], "id bigint, body string").write.parquet(p)
        rc = main(["dedup", "--input", p, "--verdict", str(tmp_path / "o.parquet")])
        assert rc == 2
        assert "not found" in capsys.readouterr().err

    def test_incremental_dedup_against_corpus(self, tmp_path, capsys, spark):
        corpus_p = str(tmp_path / "corpus.parquet")
        batch_p = str(tmp_path / "batch.parquet")
        spark.createDataFrame(
            [(1, "standing corpus document one"), (2, "standing corpus document two")],
            "doc_id bigint, text string",
        ).write.parquet(corpus_p)
        spark.createDataFrame(
            [
                (10, "Standing CORPUS document one!"),   # dup of corpus 1
                (11, "a brand new batch document"),
                (12, "a brand new batch document"),      # batch dup of 11
            ],
            "doc_id bigint, text string",
        ).write.parquet(batch_p)
        out = str(tmp_path / "verdict.parquet")
        rc = main([
            "dedup", "--input", batch_p, "--against", corpus_p,
            "--method", "exact", "--verdict", out,
        ])
        import json as _json

        captured = capsys.readouterr()
        assert rc == 0, captured.err
        summary = _json.loads(captured.out)
        assert summary["mode"] == "incremental"
        assert summary["n_batch"] == 3 and summary["n_new"] == 1
        assert summary["n_dup_corpus"] == 1 and summary["n_dup_batch"] == 1
        v = {r["doc_id"]: (r["verdict"], r["match_id"])
             for r in spark.read.parquet(out).collect()}
        assert v[10] == ("dup_corpus", 1)
        assert v[11] == ("new", None)
        assert v[12] == ("dup_batch", 11)

    def test_ledger_dedup_two_ingests(self, tmp_path, capsys, spark):
        spark.sql("DROP TABLE IF EXISTS cli_ledger_t")
        try:
            b1 = str(tmp_path / "b1.parquet")
            b2 = str(tmp_path / "b2.parquet")
            spark.createDataFrame(
                [(1, "ledger doc one"), (2, "ledger doc two")],
                "doc_id bigint, text string",
            ).write.parquet(b1)
            spark.createDataFrame(
                [(10, "Ledger DOC one!"), (11, "a third doc")],
                "doc_id bigint, text string",
            ).write.parquet(b2)
            import json as _json

            out1 = str(tmp_path / "v1.parquet")
            rc = main(["dedup", "--input", b1, "--ledger", "cli_ledger_t",
                       "--method", "exact", "--verdict", out1])
            captured = capsys.readouterr()
            assert rc == 0, captured.err
            s1 = _json.loads(captured.out)
            assert s1["mode"] == "incremental-ledger"
            assert s1["n_new"] == 2

            out2 = str(tmp_path / "v2.parquet")
            rc = main(["dedup", "--input", b2, "--ledger", "cli_ledger_t",
                       "--method", "exact", "--verdict", out2])
            captured = capsys.readouterr()
            assert rc == 0, captured.err
            s2 = _json.loads(captured.out)
            assert s2["n_dup_corpus"] == 1 and s2["n_new"] == 1
            v = {r["doc_id"]: (r["verdict"], r["match_id"])
                 for r in spark.read.parquet(out2).collect()}
            assert v[10] == ("dup_corpus", 1) and v[11] == ("new", None)
        finally:
            spark.sql("DROP TABLE IF EXISTS cli_ledger_t")

    def test_minhash_ledger_dedup_two_ingests(self, tmp_path, capsys, spark):
        for t in ("cli_mhl_bands", "cli_mhl_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        near = "the quick brown fox jumps over the lazy dog by the river"
        try:
            b1 = str(tmp_path / "b1.parquet")
            b2 = str(tmp_path / "b2.parquet")
            spark.createDataFrame(
                [(1, near), (2, "a different doc about adaptive query execution")],
                "doc_id bigint, text string",
            ).write.parquet(b1)
            spark.createDataFrame(
                [(10, near + " today"), (11, "fresh text on shuffle partitions")],
                "doc_id bigint, text string",
            ).write.parquet(b2)
            import json as _json

            rc = main(["dedup", "--input", b1, "--ledger", "cli_mhl",
                       "--method", "minhash", "--verdict", str(tmp_path / "v1.parquet")])
            captured = capsys.readouterr()
            assert rc == 0, captured.err
            s1 = _json.loads(captured.out)
            assert s1["n_new"] == 2

            out2 = str(tmp_path / "v2.parquet")
            rc = main(["dedup", "--input", b2, "--ledger", "cli_mhl",
                       "--method", "minhash", "--verdict", out2])
            captured = capsys.readouterr()
            assert rc == 0, captured.err
            s2 = _json.loads(captured.out)
            assert s2["n_dup_corpus"] == 1 and s2["n_new"] == 1
            v = {r["doc_id"]: (r["verdict"], r["match_id"])
                 for r in spark.read.parquet(out2).collect()}
            assert v[10] == ("dup_corpus", 1) and v[11] == ("new", None)
        finally:
            for t in ("cli_mhl_bands", "cli_mhl_shingles"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_orphaned_ledger_location_exits_2_with_named_error(
        self, tmp_path, capsys, spark
    ):
        import os
        import shutil

        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        orphan = os.path.join(warehouse, "cli_orphan_ledger")
        os.makedirs(orphan)
        open(os.path.join(orphan, "part-00000"), "w").close()
        p = str(tmp_path / "b.parquet")
        spark.createDataFrame(
            [(1, "orphan ledger doc")], "doc_id bigint, text string"
        ).write.parquet(p)
        try:
            rc = main(["dedup", "--input", p, "--ledger", "cli_orphan_ledger",
                       "--method", "exact", "--verdict", str(tmp_path / "v.parquet")])
        finally:
            shutil.rmtree(orphan)
        err = capsys.readouterr().err
        assert rc == 2, err
        assert "orphaned ledger location" in err and orphan in err

    def test_ledger_rejects_simhash_and_against_combo(self, tmp_path, capsys, spark):
        p = str(tmp_path / "d.parquet")
        spark.createDataFrame([(1, "x")], "doc_id bigint, text string").write.parquet(p)
        rc = main(["dedup", "--input", p, "--ledger", "t", "--method", "simhash",
                   "--verdict", str(tmp_path / "o.parquet")])
        assert rc == 2 and "exact or minhash" in capsys.readouterr().err
        rc = main(["dedup", "--input", p, "--ledger", "t", "--against", p,
                   "--verdict", str(tmp_path / "o.parquet")])
        assert rc == 2 and "mutually exclusive" in capsys.readouterr().err

    def test_incremental_dedup_rejects_bad_method(self, tmp_path, capsys, spark):
        p = str(tmp_path / "d.parquet")
        spark.createDataFrame([(1, "x")], "doc_id bigint, text string").write.parquet(p)
        rc = main([
            "dedup", "--input", p, "--against", p, "--method", "simhash",
            "--verdict", str(tmp_path / "o.parquet"),
        ])
        assert rc == 2
        assert "exact, minhash, or editdist" in capsys.readouterr().err


class TestProfileQuantiles:
    def test_quantiles_json(self, tmp_path, capsys, spark):
        import json as _json

        p = str(tmp_path / "t.parquet")
        spark.createDataFrame(
            [(float(i), "x") for i in range(1, 101)], "v double, s string"
        ).write.parquet(p)
        rc = main([
            "profile", "--input", p, "--quantiles", "0.5", "--format", "json",
        ])
        assert rc == 0
        rows = _json.loads(capsys.readouterr().out)
        # string column skipped automatically; exact interpolated median
        assert rows == [{"col_name": "v", "prob": 0.5, "quantile": 50.5}]

    def test_quantiles_validation(self, tmp_path, capsys, spark):
        p = str(tmp_path / "t2.parquet")
        spark.createDataFrame([(1.0, "x")], "v double, s string").write.parquet(p)
        assert main(["profile", "--input", p, "--quantiles", "1.5"]) == 2
        assert main(["profile", "--input", p, "--quantiles", "0.5",
                     "--columns", "s"]) == 2
        assert main(["profile", "--input", p, "--quantiles", "0.5",
                     "--compare-to", p]) == 2


class TestProfileFiles:
    def test_files_layout_json(self, tmp_path, capsys, spark, sf_dir):
        import json as _json

        rc = main([
            "profile", "--input", f"{sf_dir}/lineitem.parquet",
            "--files", "--format", "json",
        ])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        out = _json.loads(captured.out)
        assert len(out) == 1
        row = out[0]
        assert row["n_files"] == 1 and row["total_bytes"] > 0
        assert row["n_small_files"] == 1  # test file < 128 MB

    def test_files_rejects_compare_to(self, tmp_path, capsys, spark, sf_dir):
        rc = main([
            "profile", "--input", f"{sf_dir}/lineitem.parquet",
            "--files", "--compare-to", f"{sf_dir}/orders.parquet",
        ])
        assert rc == 2
        # the single up-front mode guard fires before the per-branch one
        assert "mutually exclusive" in capsys.readouterr().err


class TestCompactCommand:
    def test_compacts_and_reports(self, tmp_path, capsys, spark):
        import json as _json

        src = str(tmp_path / "frag")
        dst = str(tmp_path / "out")
        spark.range(0, 5_000).selectExpr(
            "id", "repeat('z', 64) AS pad"
        ).repartition(20).write.parquet(src)
        rc = main(["compact", "--input", src, "--output", dst, "--target-mb", "1"])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        s = _json.loads(captured.out)
        assert s["files_before"] == 20
        assert s["files_written"] == s["files_planned"] >= 1
        assert spark.read.parquet(dst).count() == 5_000

    def test_rejects_bad_target(self, tmp_path, capsys):
        rc = main(["compact", "--input", "x", "--output", "y", "--target-mb", "0"])
        assert rc == 2 and "positive" in capsys.readouterr().err


class TestAnomalyCommand:
    @pytest.fixture()
    def feed(self, tmp_path, spark):
        import datetime as dt

        base = dt.datetime(2026, 1, 1)
        rows, eid = [], 0
        # alternating 9/11 history then a 20-event spike (z = 10)
        for h in range(25):
            n = 20 if h == 24 else (9 if h % 2 == 0 else 11)
            for _ in range(n):
                rows.append((eid, "click", base + dt.timedelta(hours=h)))
                eid += 1
        p = str(tmp_path / "feed.parquet")
        spark.createDataFrame(
            rows, "event_id bigint, event_type string, ts timestamp"
        ).write.parquet(p)
        return p

    def test_gate_flags_spike(self, feed, capsys):
        import json as _json

        rc = main([
            "anomaly", "--input", feed, "--by", "event_type",
            "--threshold", "3", "--fail-on-anomaly",
        ])
        captured = capsys.readouterr()
        assert rc == 1, captured.err
        out = _json.loads(captured.out)
        assert out["n_anomalies"] == 1
        assert out["max_abs_zscore"] == pytest.approx(10.0)

    def test_gate_passes_under_higher_threshold(self, feed, capsys, tmp_path):
        import json as _json

        exp = str(tmp_path / "scores.parquet")
        rc = main([
            "anomaly", "--input", feed, "--by", "event_type",
            "--threshold", "11", "--fail-on-anomaly", "--export", exp,
        ])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        out = _json.loads(captured.out)
        assert out["n_anomalies"] == 0
        import os

        assert os.path.isdir(exp)

    def test_bad_column_exits_2(self, feed, capsys):
        rc = main(["anomaly", "--input", feed, "--by", "no_such"])
        assert rc == 2
        assert "not found" in capsys.readouterr().err

    @pytest.fixture()
    def drifting_feed(self, tmp_path, spark):
        import datetime as dt

        base = dt.datetime(2026, 1, 1)
        rows, eid = [], 0
        # day 1+2: values near 10; day 3: distribution jumps to ~90
        for d in range(3):
            for i in range(40):
                v = 90.0 + i % 5 if d == 2 else 10.0 + i % 5
                rows.append((eid, "click", base + dt.timedelta(days=d, minutes=i), v))
                eid += 1
        p = str(tmp_path / "vfeed.parquet")
        spark.createDataFrame(
            rows, "event_id bigint, event_type string, ts timestamp, value double"
        ).write.parquet(p)
        return p

    def test_drift_gate_flags_distribution_jump(self, drifting_feed, capsys):
        import json as _json

        rc = main([
            "anomaly", "--input", drifting_feed, "--by", "event_type",
            "--bucket-seconds", "86400", "--drift-col", "value",
            "--drift-lo", "0", "--drift-hi", "100", "--max-psi", "0.2",
            "--fail-on-anomaly", "--threshold", "100",
        ])
        captured = capsys.readouterr()
        # volume is flat (threshold 100 never fires); the DISTRIBUTION gate
        # alone must flip the exit code on day 3
        assert rc == 1, captured.err
        out = _json.loads(captured.out)
        assert out["n_anomalies"] == 0
        assert out["drift"]["n_periods"] == 2
        assert out["drift"]["n_drifted"] == 1
        assert out["drift"]["max_tv"] == pytest.approx(1.0)

    def test_drift_requires_bounds_and_calendar_grain(self, drifting_feed, capsys):
        rc = main([
            "anomaly", "--input", drifting_feed, "--by", "event_type",
            "--bucket-seconds", "86400", "--drift-col", "value",
        ])
        assert rc == 2
        assert "--drift-lo" in capsys.readouterr().err
        rc = main([
            "anomaly", "--input", drifting_feed, "--by", "event_type",
            "--bucket-seconds", "1800", "--drift-col", "value",
            "--drift-lo", "0", "--drift-hi", "100",
        ])
        assert rc == 2
        assert "bucket-seconds" in capsys.readouterr().err


class TestProfileVecHealth:
    def test_summary_and_gate(self, tmp_path, capsys, spark):
        rows = [
            (0, [0.5] * 4),
            (1, None),
            (2, [0.5] * 3),
            (3, [5.0] * 4),
        ]
        p = str(tmp_path / "emb.parquet")
        spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(p)
        out = str(tmp_path / "health")
        rc = main(["profile", "--input", p, "--vec-col", "embedding",
                   "--dim", "4", "--vec-export", out, "--fail-on-bad"])
        assert rc == 1  # three bad rows -> CI gate trips
        import json as _json

        summary = _json.loads(capsys.readouterr().out.strip())
        assert summary["n_rows"] == 4 and summary["n_bad"] == 3
        assert summary["verdicts"] == {
            "bad_dim": 1, "missing": 1, "norm_outlier": 1, "ok": 1,
        }
        feed = spark.read.parquet(out)
        assert feed.count() == 4 and "verdict" in feed.columns
        # clean input passes the gate
        clean = str(tmp_path / "clean.parquet")
        spark.createDataFrame([(0, [0.5] * 4)], "vec_id long, embedding array<double>").write.parquet(clean)
        rc = main(["profile", "--input", clean, "--vec-col", "embedding",
                   "--dim", "4", "--fail-on-bad"])
        assert rc == 0

    def test_requires_dim(self, tmp_path, capsys):
        rc = main(["profile", "--input", "x.parquet", "--vec-col", "embedding"])
        assert rc == 2
        assert "--dim" in capsys.readouterr().err


class TestCheckCommand:
    @pytest.fixture()
    def dataset(self, tmp_path, spark):
        path = str(tmp_path / "check_in")
        spark.createDataFrame(
            [(1, "x", 10.0), (2, "y", 20.0), (2, None, 999.0)],
            "id long, s string, v double",
        ).write.parquet(path)
        return path

    def _rules_file(self, tmp_path, rules):
        p = tmp_path / "rules.json"
        p.write_text(json.dumps(rules))
        return str(p)

    def test_passing_rules_exit_zero(self, tmp_path, capsys, dataset):
        rules = self._rules_file(
            tmp_path, [{"rule": "not_null", "col": "id"}]
        )
        rc = main(["check", "--input", dataset, "--input-format", "parquet",
                   "--rules", rules, "--fail-on-violation"])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        s = json.loads(captured.out)
        assert s["n_rules"] == 1 and s["n_failed"] == 0 and s["total_rows"] == 3

    def test_violations_gate_and_export(self, tmp_path, capsys, dataset, spark):
        rules = self._rules_file(tmp_path, [
            {"rule": "not_null", "col": "s"},
            {"rule": "unique", "cols": ["id"]},
            {"rule": "in_range", "col": "v", "lo": 0.0, "hi": 100.0},
        ])
        out = str(tmp_path / "verdicts")
        rc = main(["check", "--input", dataset, "--input-format", "parquet",
                   "--rules", rules, "--fail-on-violation", "--export", out])
        captured = capsys.readouterr()
        assert rc == 1, captured.err
        s = json.loads(captured.out)
        assert s["n_failed"] == 3
        assert s["failures"]["unique(id)"] == 1
        back = {r["rule"]: r for r in spark.read.parquet(out).collect()}
        assert len(back) == 3 and not back["not_null(s)"]["passed"]

    def test_no_gate_flag_exits_zero_on_violations(self, tmp_path, capsys, dataset):
        rules = self._rules_file(tmp_path, [{"rule": "not_null", "col": "s"}])
        rc = main(["check", "--input", dataset, "--input-format", "parquet", "--rules", rules])
        assert rc == 0
        assert json.loads(capsys.readouterr().out)["n_failed"] == 1

    def test_fk_rule_pass_and_fail(self, tmp_path, capsys, dataset, spark):
        parent_ok = str(tmp_path / "parent_ok")
        spark.createDataFrame(
            [(1,), (2,), (3,)], "pk long"
        ).write.parquet(parent_ok)
        parent_bad = str(tmp_path / "parent_bad")
        spark.createDataFrame([(1,)], "pk long").write.parquet(parent_bad)
        # contained: child ids {1,2} ⊆ {1,2,3} → pass
        rc = main(["check", "--input", dataset, "--input-format", "parquet",
                   "--fk", f"id={parent_ok}:pk", "--fail-on-violation"])
        captured = capsys.readouterr()
        assert rc == 0, captured.err
        s = json.loads(captured.out)
        assert s["n_rules"] == 1 and s["n_failed"] == 0
        # id=2 missing from parent_bad → violation, gate fires
        rc = main(["check", "--input", dataset, "--input-format", "parquet",
                   "--fk", f"id={parent_bad}:pk", "--fail-on-violation"])
        captured = capsys.readouterr()
        assert rc == 1, captured.err
        s = json.loads(captured.out)
        assert s["n_failed"] == 1
        assert list(s["failures"].values()) == [1]

    def test_fk_combines_with_rules_and_threshold(
        self, tmp_path, capsys, dataset, spark
    ):
        parent_bad = str(tmp_path / "parent_half")
        spark.createDataFrame([(1,)], "pk long").write.parquet(parent_bad)
        rules = self._rules_file(tmp_path, [{"rule": "not_null", "col": "id"}])
        rc = main(["check", "--input", dataset, "--input-format", "parquet",
                   "--rules", rules, "--fk", f"id={parent_bad}:pk",
                   "--fk-min-containment", "0.5", "--fail-on-violation"])
        captured = capsys.readouterr()
        # containment 1/2 = 0.5 >= 0.5: passes even with 1 unresolved key
        assert rc == 0, captured.err
        s = json.loads(captured.out)
        assert s["n_rules"] == 2 and s["n_failed"] == 0

    def test_fk_malformed_spec_and_empty_invocation(self, tmp_path, capsys, dataset):
        rc = main(["check", "--input", dataset, "--input-format", "parquet",
                   "--fk", "idnoparent"])
        assert rc == 2 and "malformed" in capsys.readouterr().err
        rc = main(["check", "--input", dataset, "--input-format", "parquet"])
        assert rc == 2 and "nothing to check" in capsys.readouterr().err

    def test_bad_rules_file(self, tmp_path, capsys, dataset):
        bad = tmp_path / "bad.json"
        bad.write_text("{not json")
        rc = main(["check", "--input", dataset, "--input-format", "parquet", "--rules", str(bad)])
        assert rc == 2 and "rules" in capsys.readouterr().err

    def test_unknown_rule_kind(self, tmp_path, capsys, dataset):
        rules = self._rules_file(tmp_path, [{"rule": "frobnicate", "col": "id"}])
        rc = main(["check", "--input", dataset, "--input-format", "parquet", "--rules", rules])
        assert rc == 2 and "unknown rule" in capsys.readouterr().err


class TestProfileMadOutliers:
    def test_mad_by_group_json(self, tmp_path, capsys, spark):
        import json as _json

        p = str(tmp_path / "m.parquet")
        rows = (
            [("a", float(v)) for v in (10, 11, 12, 13, 14, 1000)]
            + [("b", float(v)) for v in (0, 500, 1000, 1500, 2000)]
        )
        spark.createDataFrame(rows, "g string, v double").write.parquet(p)
        rc = main([
            "profile", "--input", p, "--mad-outliers", "v", "--by", "g",
            "--format", "json",
        ])
        assert rc == 0
        out = {r["g"]: r for r in _json.loads(capsys.readouterr().out)}
        assert out["a"]["n_outliers"] == 1      # the 1000 in the tight group
        assert out["b"]["n_outliers"] == 0      # in-scale for the wide group
        assert out["a"]["median"] == 12.5

    def test_mad_whole_table_and_validation(self, tmp_path, capsys, spark):
        import json as _json

        p = str(tmp_path / "m2.parquet")
        spark.createDataFrame(
            [(float(v), "x") for v in (1, 2, 3, 4, 100)], "v double, s string"
        ).write.parquet(p)
        rc = main(["profile", "--input", p, "--mad-outliers", "v",
                   "--format", "json"])
        assert rc == 0
        rows = _json.loads(capsys.readouterr().out)
        assert len(rows) == 1 and rows[0]["n"] == 5 and rows[0]["n_outliers"] == 1
        assert "g" not in rows[0]  # whole-table mode leaks no group column
        capsys.readouterr()
        assert main(["profile", "--input", p, "--mad-outliers", "nope"]) == 2
        assert main(["profile", "--input", p, "--mad-outliers", "s"]) == 2
        assert main(["profile", "--input", p, "--mad-outliers", "v",
                     "--by", "nope"]) == 2
        assert main(["profile", "--input", p, "--mad-outliers", "v",
                     "--mad-k", "0"]) == 2
        assert main(["profile", "--input", p, "--mad-outliers", "v",
                     "--quantiles", "0.5"]) == 2


class TestProfileKAnonymity:
    def _table(self, spark, tmp_path):
        p = str(tmp_path / "ka.parquet")
        rows = (
            # group (US, a): 6 rows, 3 distinct salaries — passes k=5/l=2
            [("US", "a", float(s)) for s in (10, 10, 20, 20, 30, 30)]
            # group (US, b): 2 rows — k violation
            + [("US", "b", 40.0), ("US", "b", 50.0)]
            # group (CA, a): 5 rows all same salary — l violation only
            + [("CA", "a", 60.0)] * 5
        )
        spark.createDataFrame(rows, "country string, tier string, salary double").write.parquet(p)
        return p

    def test_violations_and_gate(self, tmp_path, capsys, spark):
        import json as _json

        p = self._table(spark, tmp_path)
        rc = main([
            "profile", "--input", p, "--k-anonymity", "country,tier",
            "--sensitive", "salary", "--anon-k", "5", "--anon-l", "2",
            "--format", "json",
        ])
        assert rc == 0  # violations print but don't gate without the flag
        out = {(r["country"], r["tier"]): r for r in _json.loads(capsys.readouterr().out)}
        assert set(out) == {("US", "b"), ("CA", "a")}
        assert out[("US", "b")]["k_violation"] is True
        assert out[("CA", "a")]["k_violation"] is False
        assert out[("CA", "a")]["l_violation"] is True
        # CI gate: violations → exit 1
        assert main([
            "profile", "--input", p, "--k-anonymity", "country,tier",
            "--sensitive", "salary", "--anon-k", "5",
            "--fail-on-violation", "--quiet",
        ]) == 1
        # clean audit gates 0: k=2 without l-diversity has no violations
        capsys.readouterr()
        assert main([
            "profile", "--input", p, "--k-anonymity", "country,tier",
            "--anon-k", "2", "--fail-on-violation", "--quiet",
        ]) == 0

    def test_validation(self, tmp_path, capsys, spark):
        p = self._table(spark, tmp_path)
        assert main(["profile", "--input", p, "--k-anonymity", "nope"]) == 2
        assert main(["profile", "--input", p, "--k-anonymity", "country",
                     "--sensitive", "nope"]) == 2
        assert main(["profile", "--input", p, "--k-anonymity", "country",
                     "--anon-k", "0"]) == 2
        assert main(["profile", "--input", p, "--k-anonymity", "country",
                     "--mad-outliers", "salary"]) == 2
        # modes are mutually exclusive in ONE up-front guard (r11 review:
        # the per-branch guards let --vec-col swallow --k-anonymity, so a
        # --fail-on-violation CI gate silently never audited)
        assert main(["profile", "--input", p, "--k-anonymity", "country",
                     "--vec-col", "emb", "--dim", "4"]) == 2
        assert main(["profile", "--input", p, "--k-anonymity", "country",
                     "--files"]) == 2


class TestNoOrphanFlags:
    """Parity with the reference's parser/constructor drift guard
    (ref cli/parser.py:25-28, tests/cli/test_parser.py): every declared
    option must be CONSUMED by its subcommand's run_* handler (directly or
    through a helper the handler passes ``args`` to). An unconsumed flag is
    exactly the r11 silent-no-op class of bug: the user passes a gate flag,
    nothing errors, and the gate never runs."""

    #: mirrors the dispatch table in cli.main()
    HANDLERS = {
        "compare": "run_compare",
        "profile": "run_profile",
        "dedup": "run_dedup",
        "cdc": "run_cdc",
        "anomaly": "run_anomaly",
        "compact": "run_compact",
        "cluster": "run_cluster",
        "ann": "run_ann",
        "curate": "run_curate",
        "check": "run_check",
        "snapshot": "run_snapshot",
    }
    #: consumed by main()/the shared parent, not the handlers
    GLOBAL_DESTS = {"command", "debug", "help", "version"}

    def _handler_source(self, handler_name: str) -> str:
        """Handler source plus every module-level helper it calls that has
        an ``args`` parameter (one level — e.g. run_compare defers gating
        to _within_threshold(args, data), run_dedup to
        _run_dedup_rewrite(spark, df, args))."""
        import inspect
        import re

        import datacompy_spark.cli as cli_mod

        src = inspect.getsource(getattr(cli_mod, handler_name))
        for helper in set(re.findall(r"(\w+)\(", src)):
            fn = getattr(cli_mod, helper, None)
            if helper == handler_name or not inspect.isfunction(fn):
                continue
            try:
                if "args" in inspect.signature(fn).parameters:
                    src += inspect.getsource(fn)
            except (OSError, TypeError, ValueError):
                pass
        return src

    def test_every_flag_is_consumed_by_its_handler(self):
        from datacompy_spark.cli import build_parser

        parser = build_parser()
        sub_action = next(
            a for a in parser._actions
            if isinstance(a, argparse._SubParsersAction)
        )
        assert set(sub_action.choices) == set(self.HANDLERS), (
            "dispatch table drifted from the declared subcommands — "
            "update HANDLERS and cli.main() together"
        )
        import re

        orphans = {}
        for cmd, sp in sub_action.choices.items():
            src = self._handler_source(self.HANDLERS[cmd])
            missing = [
                a.dest
                for a in sp._actions
                if a.dest not in self.GLOBAL_DESTS
                # \b, not substring: "args.ks" must not be satisfied by an
                # occurrence of "args.ks_threshold"
                and not re.search(rf"args\.{re.escape(a.dest)}\b", src)
            ]
            if missing:
                orphans[cmd] = missing
        assert not orphans, (
            f"declared options never read by their handler (silent no-op "
            f"hazard): {orphans}"
        )


class TestProfileModifierGuard:
    """r11 ADVICE: modifier flags outside their mode must be REJECTED, not
    silently ignored — `profile --sensitive x --fail-on-violation` without
    --k-anonymity used to run a plain table profile and exit 0, a silent
    no-audit in a CI gate."""

    def _table(self, spark, tmp_path):
        p = str(tmp_path / "mg.parquet")
        spark.createDataFrame(
            [("US", "a", 1.0), ("US", "a", 2.0), ("CA", "b", 3.0)],
            "country string, tier string, salary double",
        ).write.mode("overwrite").parquet(p)
        return p

    def test_k_anonymity_modifiers_require_mode(self, tmp_path, spark, capsys):
        p = self._table(spark, tmp_path)
        for extra in (
            ["--sensitive", "salary"],
            ["--fail-on-violation"],
            ["--anon-k", "9"],
            ["--anon-l", "3"],
        ):
            assert main(["profile", "--input", p, "--quiet", *extra]) == 2, extra
            err = capsys.readouterr().err
            assert "--k-anonymity" in err

    def test_vec_and_mad_modifiers_require_mode(self, tmp_path, spark, capsys):
        p = self._table(spark, tmp_path)
        for extra, mode in (
            (["--dim", "4"], "--vec-col"),
            (["--fail-on-bad"], "--vec-col"),
            (["--by", "country"], "--mad-outliers"),
            (["--mad-k", "2.5"], "--mad-outliers"),
            (["--ks"], "--compare-to"),
            (["--ks-threshold", "0.1"], "--ks"),
            (["--small-file-mb", "64"], "--files"),
            (["--rel-tol", "0.5"], "--compare-to"),
        ):
            assert main(["profile", "--input", p, "--quiet", *extra]) == 2, extra
            assert mode in capsys.readouterr().err

    def test_columns_rejected_in_non_column_modes(self, tmp_path, spark, capsys):
        p = self._table(spark, tmp_path)
        rc = main([
            "profile", "--input", p, "--quiet",
            "--k-anonymity", "country", "--columns", "salary",
        ])
        assert rc == 2
        assert "--columns" in capsys.readouterr().err
        rc = main([
            "profile", "--input", p, "--quiet",
            "--quantiles", "0.5", "--exact-distinct",
        ])
        assert rc == 2
        assert "--exact-distinct" in capsys.readouterr().err

    def test_guard_defaults_shared_with_parser(self):
        """The guard detects 'explicitly passed' by comparing to the
        default, so PROFILE_DEFAULTS must BE the parser's defaults — a
        drift either rejects every plain profile run or silently stops
        guarding (r12 review finding)."""
        from datacompy_spark.cli import PROFILE_DEFAULTS, build_parser

        parser = build_parser()
        sub = next(
            a for a in parser._actions
            if isinstance(a, argparse._SubParsersAction)
        )
        profile = sub.choices["profile"]
        for dest, val in PROFILE_DEFAULTS.items():
            assert profile.get_default(dest) == val, dest

    def test_defaults_and_valid_pairings_still_run(self, tmp_path, spark, capsys):
        p = self._table(spark, tmp_path)
        # plain profile with no modifiers: unaffected
        assert main(["profile", "--input", p, "--quiet"]) == 0
        # modifier WITH its mode: unaffected
        assert main([
            "profile", "--input", p, "--quiet",
            "--k-anonymity", "country,tier", "--sensitive", "salary",
            "--anon-k", "2", "--fail-on-violation",
        ]) in (0, 1)
