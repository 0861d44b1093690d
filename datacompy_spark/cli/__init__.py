"""Command-line interface: ``python -m datacompy_spark compare ...``.

Parity target: reference ``datacompy/cli/`` — declarative option spec mapped
onto the comparison constructor (``cli/parser.py:55-115``), backend loading
(``cli/backends.py``), report emission (``cli/output.py:46-101``), threshold
evaluation (``cli/compare.py:124-157``), and the exit-code contract
(``cli/__init__.py:70-73``): 0 match / 1 differ / 2 error / 130 interrupt.
Spark is the only backend here, so the registry collapses to one strategy.
"""

from __future__ import annotations

import argparse
import sys
from contextlib import contextmanager
from typing import Optional, Sequence


class CLIError(Exception):
    """User/config error → exit code 2."""


#: profile-subcommand modifier defaults, shared by build_parser's
#: add_argument declarations and run_profile's modifier→mode guard. One
#: source of truth: the guard detects "modifier explicitly passed" by
#: comparing against the default, so a default edited in only one place
#: would either reject every plain `profile` run or silently stop
#: guarding (r12 review finding).
PROFILE_DEFAULTS = {
    "rel_tol": 0.1,
    "small_file_mb": 128,
    "vec_id_col": "vec_id",
    "mad_k": 3.0,
    "anon_k": 5,
    "anon_l": 2,
}


@contextmanager
def borrowed_session(app_name: str, hive: bool = False):
    """Create-or-borrow a SparkSession; stop it on exit ONLY if this
    invocation created it — borrow-don't-stop semantics (parity:
    ``reference/datacompy/cli/backends.py:250-288``). Every ``run_*``
    handler used to inline this create/try/finally boilerplate (11
    copies, the module's main drift surface — r12 verdict item 5); the
    behavior contracts are pinned by ``tests/test_cli.py``.

    ``hive=True`` requests ``enableHiveSupport()`` WHEN CREATING: a
    "persistent" dedup ledger registered in the default in-memory catalog
    dies with the process — the next CLI invocation sees no table but an
    orphaned warehouse directory (LOCATION_ALREADY_EXISTS). The hive
    catalog's derby metastore (``./metastore_db``) persists catalog
    entries across invocations, which is the whole point of ``--ledger``.
    A BORROWED session cannot be retrofitted (e.g. under pytest), so the
    flag is ignored when an active session already exists.
    """
    from pyspark.sql import SparkSession

    created = SparkSession.getActiveSession() is None
    builder = SparkSession.builder.appName(app_name)
    if hive and created:
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    try:
        yield spark
    finally:
        if created:
            spark.stop()


def tolerance(value: str):
    """Parse ``--abs-tol``/``--rel-tol`` values: a bare number, or a
    ``COLUMN=VALUE`` pair for per-column tolerances (ref
    ``cli/parser.py:136-159``)."""
    column, sep, raw = value.partition("=")
    text = raw if sep else value
    try:
        number = float(text)
    except ValueError as exc:
        raise argparse.ArgumentTypeError(
            f"expected a number or COLUMN=NUMBER, got {value!r}"
        ) from exc
    if number < 0:
        raise argparse.ArgumentTypeError(f"tolerance must not be negative, got {number}")
    if not sep:
        return number
    if not column.strip():
        raise argparse.ArgumentTypeError(f"missing column name in {value!r}")
    return column.strip(), number


def _combine_tolerances(raw, flag: str):
    """Repeated tolerance flags → a single float or a per-column dict, never a
    mixture (ref ``cli/parser.py:202-231``)."""
    if not raw:
        return 0.0
    pairs = [item for item in raw if isinstance(item, tuple)]
    scalars = [item for item in raw if not isinstance(item, tuple)]
    if pairs and scalars:
        raise CLIError(
            f"{flag} takes either a single number or one or more COLUMN=VALUE "
            "pairs, not both."
        )
    if scalars:
        if len(scalars) > 1:
            raise CLIError(
                f"{flag} was given a bare number more than once. Use "
                f"{flag} COLUMN=VALUE to set per column tolerances."
            )
        return scalars[0]
    return dict(pairs)


def build_parser() -> argparse.ArgumentParser:
    # --debug comes from a shared parent so it is accepted on either side of
    # the subcommand (ref cli/parser.py:545-562); SUPPRESS keeps the
    # subparser from overwriting a value set at the top level
    debug_parent = argparse.ArgumentParser(add_help=False)
    debug_parent.add_argument(
        "--debug",
        action="store_true",
        default=argparse.SUPPRESS,
        help="re-raise unexpected exceptions with a full traceback instead "
        "of a short message",
    )
    p = argparse.ArgumentParser(
        prog="datacompy-spark",
        description="Compare two tabular datasets on a join key with Spark.",
        parents=[debug_parent],
    )
    from datacompy_spark import __version__

    p.add_argument(
        "--version", action="version", version=f"%(prog)s {__version__}"
    )
    sub = p.add_subparsers(dest="command", required=True)
    c = sub.add_parser("compare", help="compare two datasets", parents=[debug_parent])
    c.add_argument("--left", required=True, help="left input: file path or table name")
    c.add_argument("--right", required=True, help="right input: file path or table name")
    c.add_argument(
        "--on",
        required=True,
        help="comma-separated join column list",
    )
    c.add_argument("--left-name", default="left", help="display name for left")
    c.add_argument("--right-name", default="right", help="display name for right")
    c.add_argument(
        "--on-index",
        action="store_true",
        help="join on the DataFrame index instead of columns (pandas backend "
        "only — always rejected here)",
    )
    c.add_argument(
        "--abs-tol",
        action="append",
        type=tolerance,
        metavar="N|COL=N",
        help="absolute tolerance: a bare number for every numeric column, or "
        "repeated COLUMN=VALUE pairs for per-column tolerances",
    )
    c.add_argument(
        "--rel-tol",
        action="append",
        type=tolerance,
        metavar="N|COL=N",
        help="relative tolerance: a bare number or repeated COLUMN=VALUE pairs",
    )
    c.add_argument("--ignore-spaces", action="store_true")
    c.add_argument("--ignore-case", action="store_true")
    c.add_argument("--no-lowercase-columns", action="store_true",
                   help="keep column-name case (default folds to lowercase)")
    c.add_argument("--format", choices=["text", "json", "html"], default="text")
    c.add_argument(
        "--template",
        help="custom Jinja2 report template: a file path or a name resolved "
        "against the built-in templates directory (.j2 optional)",
    )
    c.add_argument("--output", help="also write the report to this file")
    c.add_argument("--quiet", action="store_true", help="suppress stdout report")
    c.add_argument("--sample-count", type=int, default=10)
    c.add_argument("--column-count", type=int, default=10)
    c.add_argument(
        "--max-unequal-rows",
        type=int,
        default=None,
        help="pass (exit 0) iff differing rows <= N",
    )
    c.add_argument(
        "--ignore-unique-rows",
        action="store_true",
        help="do not count rows unique to either side against "
        "--max-unequal-rows (ref cli/parser.py)",
    )
    c.add_argument(
        "--ignore-extra-columns",
        action="store_true",
        help="pass even when one side has columns the other lacks",
    )
    c.add_argument(
        "--export-mismatches",
        metavar="PATH",
        help="write all mismatching rows (join keys + value pairs) to PATH as parquet",
    )
    c.add_argument(
        "--export-unique",
        metavar="PATH",
        help="write rows unique to either side to PATH as parquet (side column added)",
    )
    c.add_argument(
        "--where",
        metavar="PREDICATE",
        help="SQL boolean predicate applied to BOTH inputs before comparing "
        "(e.g. \"ship_date >= '2026-01-01'\"). Spark pushes it into the "
        "scans, so comparing one partition of a huge table never reads the "
        "rest — the incremental-compare path",
    )
    c.add_argument(
        "--spark-app-name",
        default="datacompy-spark-cli",
        metavar="NAME",
        help="Spark application name (ref cli/parser.py --spark-app-name)",
    )
    c.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl"])
    c.add_argument("--delimiter", default=",", help="CSV delimiter")
    c.add_argument("--assume-unique", action="store_true",
                   help="skip duplicate-key pairing (caller guarantees uniqueness)")
    c.add_argument("--assume-no-null-keys", action="store_true",
                   help="join keys are never null: use a plain equi-join, which "
                   "lets bucketed tables compare without a shuffle")
    c.add_argument("--dup-join-on-ordinal", action="store_true",
                   help="hot-key mode: join duplicates on (keys, ordinal) so a "
                   "key duplicated millions of times fans out across tasks "
                   "(costs one extra shuffle; default pairs ordinals with a "
                   "residual condition that reuses the window partitioning)")
    c.add_argument(
        "--sample-fraction",
        type=float,
        help="smoke-compare a deterministic key-hash sample (0 < f <= 1): the "
        "same keys survive on both sides, so mismatch rates estimate the "
        "full run's at a fraction of the cost",
    )

    # profile: stats-only table summary / drift check — the cheap question to
    # ask before paying for a full row-level compare (O(columns) output from
    # one aggregate action per table). Extension beyond the reference CLI.
    pr = sub.add_parser(
        "profile",
        help="single-pass column statistics; with --compare-to, a stats-only "
        "drift check (exit 1 on drift)",
        parents=[debug_parent],
    )
    pr.add_argument("--input", required=True, help="input: file path or table name")
    pr.add_argument(
        "--compare-to",
        metavar="REF",
        help="second input; output becomes a per-column drift table and the "
        "exit code reports drift (0 none / 1 drifted)",
    )
    pr.add_argument("--columns", help="comma-separated subset of columns")
    pr.add_argument(
        "--ks", action="store_true",
        help="with --compare-to: also compute the exact two-sample KS "
        "statistic per numeric column (bin-free distribution drift; one "
        "extra distributed ECDF pass per column)",
    )
    pr.add_argument(
        "--ks-threshold", type=float,
        help="with --ks: ALSO exit 1 when any column's ks_stat exceeds "
        "this (report-only without it — the stats-drift flags alone "
        "gate by default)",
    )
    pr.add_argument(
        "--rel-tol",
        type=float,
        default=PROFILE_DEFAULTS["rel_tol"],
        help="with --compare-to: relative drift tolerance for "
        "null-rate/distinct-count (default 0.1)",
    )
    pr.add_argument(
        "--exact-distinct",
        action="store_true",
        help="exact distinct counts instead of the HyperLogLog sketch "
        "(plans an Expand — only for modest tables)",
    )
    pr.add_argument(
        "--files",
        action="store_true",
        help="profile the PHYSICAL file layout of --input (a path/glob) "
        "instead of its data: file count, bytes, max file size, and "
        "small-file count (metadata-only, no file contents read). "
        "Incompatible with --compare-to/--columns",
    )
    pr.add_argument(
        "--row-groups",
        action="store_true",
        help="profile parquet ROW-GROUP metadata of --input (a path/glob): "
        "per-file row groups, rows, and byte sizes — footers only, "
        "distributed. Incompatible with --compare-to/--columns",
    )
    pr.add_argument(
        "--small-file-mb",
        type=int,
        default=PROFILE_DEFAULTS["small_file_mb"],
        help="with --files: small-file threshold in MB (default 128)",
    )
    pr.add_argument(
        "--vec-col", metavar="COL",
        help="embedding-health mode: per-row QA verdicts for this vector "
        "column (missing/bad_dim/has_nan/zero/norm_outlier), summary "
        "counts on stdout. Incompatible with --compare-to/--columns/--files",
    )
    pr.add_argument(
        "--vec-id-col", default=PROFILE_DEFAULTS["vec_id_col"], metavar="COL",
        help="with --vec-col: row id column (default vec_id)",
    )
    pr.add_argument(
        "--dim", type=int, metavar="N",
        help="with --vec-col: expected dimensionality (required)",
    )
    pr.add_argument(
        "--vec-export", metavar="PATH",
        help="with --vec-col: write the per-row verdict table to PATH "
        "as parquet",
    )
    pr.add_argument(
        "--fail-on-bad", action="store_true",
        help="with --vec-col: exit 1 when any row is not 'ok' (CI gate)",
    )
    pr.add_argument(
        "--quantiles", metavar="PROBS",
        help="quantile mode: comma-separated probabilities (e.g. "
        "0.25,0.5,0.99) — exact per-column quantiles of the numeric "
        "--columns (default: every numeric column) via the distributed "
        "ECDF (no aggregation-buffer value buffering at any scale; "
        "bit-identical to quantile_cont)",
    )
    pr.add_argument(
        "--mad-outliers", metavar="COL",
        help="robust-outlier mode: per-group median/MAD summary of this "
        "numeric column (n, median, mad, n_outliers where |v-median| > "
        "k*1.4826*MAD) — the outlier gate a single corrupt value cannot "
        "drag, via two grouped distributed-ECDF passes",
    )
    pr.add_argument(
        "--by", metavar="COLS",
        help="with --mad-outliers: comma-separated group columns "
        "(default: the whole table as one group)",
    )
    pr.add_argument(
        "--mad-k", type=float, default=PROFILE_DEFAULTS["mad_k"], metavar="K",
        help="with --mad-outliers: the sigma-equivalent threshold "
        "multiplier (default 3.0)",
    )
    pr.add_argument(
        "--k-anonymity", metavar="QUASI_COLS",
        help="privacy-audit mode: comma-separated quasi-identifier "
        "columns; prints every group violating k-anonymity (and, with "
        "--sensitive, l-diversity) — the pre-release re-identification "
        "gate. Only violating groups emit, so output stays bounded at "
        "any input scale",
    )
    pr.add_argument(
        "--sensitive", metavar="COL",
        help="with --k-anonymity: also audit l-diversity of this "
        "sensitive column within each quasi group",
    )
    pr.add_argument(
        "--anon-k", type=int, default=PROFILE_DEFAULTS["anon_k"], metavar="K",
        help="with --k-anonymity: minimum group size (default 5)",
    )
    pr.add_argument(
        "--anon-l", type=int, default=PROFILE_DEFAULTS["anon_l"], metavar="L",
        help="with --k-anonymity and --sensitive: minimum distinct "
        "sensitive values per group (default 2)",
    )
    pr.add_argument(
        "--fail-on-violation", action="store_true",
        help="with --k-anonymity: exit 1 when any group violates (CI / "
        "release gate)",
    )
    pr.add_argument("--format", choices=["text", "json"], default="text")
    pr.add_argument("--output", help="also write the result to this file")
    pr.add_argument("--quiet", action="store_true", help="suppress stdout output")
    pr.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    pr.add_argument("--delimiter", default=",", help="CSV delimiter")
    pr.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # dedup: corpus near-duplicate detection → per-document survivor verdict.
    # Extension beyond the reference CLI (its surface is compare-only).
    dd = sub.add_parser(
        "dedup",
        help="corpus dedup: per-document survivor verdict written as parquet, "
        "summary JSON on stdout",
        parents=[debug_parent],
    )
    dd.add_argument("--input", required=True, help="input: file path or table name")
    dd.add_argument("--id-col", default="doc_id", help="document id column")
    dd.add_argument("--text-col", default="text", help="text column")
    dd.add_argument(
        "--method",
        choices=["exact", "minhash", "simhash", "embedding", "editdist",
                 "lines", "spans"],
        default="minhash",
        help="exact content hash, MinHash+LSH Jaccard, SimHash Hamming, "
        "embedding cosine (blocked + projection-bucketed), or editdist "
        "(Levenshtein <= --max-dist on the normalized --prefix-len key "
        "prefix; lossless pigeonhole blocking). REWRITE modes: "
        "'lines' (corpus-level exact line dedup, C4 boilerplate rule) and "
        "'spans' (duplicated n-token span removal, keep-first) write the "
        "CLEANED corpus to --verdict instead of a survivor verdict",
    )
    dd.add_argument(
        "--max-dist", type=int, default=2,
        help="editdist: maximum Levenshtein distance for a pair (default 2)",
    )
    dd.add_argument(
        "--prefix-len", type=int, default=64,
        help="editdist: compare the first N chars of the normalized text "
        "(default 64)",
    )
    dd.add_argument(
        "--span-n", type=int, default=5,
        help="spans: window length in tokens (default 5)",
    )
    dd.add_argument(
        "--threshold", type=float, default=0.5,
        help="minhash: minimum Jaccard for a near-dup pair (default 0.5)",
    )
    dd.add_argument(
        "--max-hamming", type=int, default=3,
        help="simhash: maximum Hamming distance for a pair (default 3)",
    )
    dd.add_argument(
        "--vec-col", default="embedding",
        help="embedding: vector column (array<float/double>)",
    )
    dd.add_argument(
        "--block-col",
        help="embedding: optional blocking column (e.g. a language or "
        "cluster label); without it the whole corpus is one block and only "
        "the quantized-projection sub-buckets prune",
    )
    dd.add_argument(
        "--min-cosine", type=float, default=0.99,
        help="embedding: minimum cosine similarity for a near-dup pair "
        "(default 0.99)",
    )
    dd.add_argument(
        "--against", metavar="CORPUS",
        help="incremental mode: dedup the input (the new batch) AGAINST "
        "this standing corpus (file path or table name) instead of within "
        "itself — corpus-vs-corpus work is never performed. Methods: exact, "
        "minhash, or editdist. The verdict parquet then carries "
        "(doc_id, verdict in {new,dup_corpus,dup_batch}, match_id)",
    )
    dd.add_argument(
        "--ledger", metavar="TABLE",
        help="stateful incremental mode: probe AND update persistent dedup "
        "state instead of re-hashing a corpus each ingest. With --method "
        "exact, TABLE is a chash-bucketed content-hash catalog table; with "
        "--method minhash, TABLE is a prefix for the TABLE_bands / "
        "TABLE_shingles near-dup state tables. Created on first use; add "
        "--ledger-read-only to probe without appending. Mutually exclusive "
        "with --against",
    )
    dd.add_argument(
        "--ledger-read-only", action="store_true",
        help="with --ledger: probe the ledger but do not register this "
        "batch's survivors",
    )
    dd.add_argument(
        "--verdict", metavar="PATH", required=True,
        help="write (doc_id, component, is_survivor, n_docs) to PATH as parquet",
    )
    dd.add_argument(
        "--export-pairs", metavar="PATH",
        help="also write the qualifying near-dup pairs to PATH as parquet "
        "(near-dup methods: minhash/simhash/embedding/editdist)",
    )
    dd.add_argument("--quiet", action="store_true", help="suppress the summary line")
    dd.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    dd.add_argument("--delimiter", default=",", help="CSV delimiter")
    dd.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # cdc: keyed snapshot diff → insert/delete/update feed. Extension beyond
    # the reference CLI (compare reports mismatches; cdc emits a replayable
    # change feed).
    cd = sub.add_parser(
        "cdc",
        help="diff two keyed snapshots into an insert/delete/update change "
        "feed written as parquet; summary JSON on stdout",
        parents=[debug_parent],
    )
    cd.add_argument("--old", required=True, help="old snapshot: file path or table name")
    cd.add_argument("--new", required=True, help="new snapshot: file path or table name")
    cd.add_argument(
        "--keys", required=True, help="comma-separated primary-key column list"
    )
    cd.add_argument(
        "--columns",
        help="comma-separated subset of columns to compare (default: all "
        "non-key columns present in both snapshots)",
    )
    cd.add_argument(
        "--export", metavar="PATH", required=True,
        help="write the change feed to PATH as parquet",
    )
    cd.add_argument(
        "--include-unchanged", action="store_true",
        help="also emit rows whose key exists in both snapshots with no "
        "changed columns (tagged 'unchanged')",
    )
    cd.add_argument(
        "--fail-on-change", action="store_true",
        help="exit 1 when the feed is non-empty (CI drift gate)",
    )
    cd.add_argument("--quiet", action="store_true", help="suppress the summary line")
    cd.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    cd.add_argument("--delimiter", default=",", help="CSV delimiter")
    cd.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # anomaly: rolling volume-anomaly gate over an event feed. Extension
    # beyond the reference CLI (the monitoring question between snapshots).
    an = sub.add_parser(
        "anomaly",
        help="rolling volume-anomaly scores per group over time buckets; "
        "exit 1 when any |zscore| crosses the threshold (CI feed gate)",
        parents=[debug_parent],
    )
    an.add_argument("--input", required=True, help="input: file path or table name")
    an.add_argument("--ts-col", default="ts", help="event-time column (default ts)")
    an.add_argument(
        "--by", required=True,
        help="comma-separated grouping columns (e.g. event_type,source)",
    )
    an.add_argument(
        "--bucket-seconds", type=int, default=3600,
        help="bucket width in seconds (default 3600)",
    )
    an.add_argument(
        "--trailing", type=int, default=24,
        help="trailing time-range width in buckets (default 24)",
    )
    an.add_argument(
        "--min-history", type=int, default=6,
        help="buckets of history required before scoring (default 6)",
    )
    an.add_argument(
        "--threshold", type=float, default=3.0,
        help="|zscore| at or above this flags an anomaly (default 3.0)",
    )
    an.add_argument(
        "--fail-on-anomaly", action="store_true",
        help="exit 1 when any bucket crosses the threshold (CI gate)",
    )
    an.add_argument(
        "--export", metavar="PATH",
        help="also write the full score table to PATH as parquet",
    )
    an.add_argument(
        "--drift-col", metavar="COL",
        help="ALSO score period-over-period VALUE-DISTRIBUTION drift (PSI + "
        "total variation, fixed bin edges) of this numeric column across "
        "the whole feed (grouping does not apply); requires --drift-lo/"
        "--drift-hi and a --bucket-seconds of 3600 (hour) or 86400 (day)",
    )
    an.add_argument(
        "--drift-lo", type=float,
        help="with --drift-col: lower histogram edge (fixed, not data-derived)",
    )
    an.add_argument(
        "--drift-hi", type=float,
        help="with --drift-col: upper histogram edge",
    )
    an.add_argument(
        "--drift-bins", type=int, default=10,
        help="with --drift-col: histogram bins (default 10)",
    )
    an.add_argument(
        "--max-psi", type=float, default=0.2,
        help="with --drift-col: a period whose PSI vs its predecessor is "
        ">= this counts as drift (default 0.2, the classic alert level)",
    )
    an.add_argument(
        "--drift-export", metavar="PATH",
        help="with --drift-col: write the per-period drift table to PATH",
    )
    an.add_argument("--quiet", action="store_true", help="suppress the summary line")
    an.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    an.add_argument("--delimiter", default=",", help="CSV delimiter")
    an.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # compact: rewrite a fragmented dataset into target-sized files — the
    # fix for what `profile --files` diagnoses. Extension beyond the
    # reference CLI.
    co = sub.add_parser(
        "compact",
        help="rewrite a fragmented dataset into ~target-sized files "
        "(small-file compaction); summary JSON on stdout",
        parents=[debug_parent],
    )
    co.add_argument("--input", required=True, help="input path or glob")
    co.add_argument("--output", required=True, help="output directory (overwritten)")
    co.add_argument(
        "--target-mb", type=int, default=512,
        help="target output file size in MB (default 512)",
    )
    co.add_argument(
        "--sort-by",
        help="comma-separated columns: range-partition + sort within files "
        "so downstream scans get min/max pruning",
    )
    co.add_argument(
        "--format", choices=["parquet", "orc"], default="parquet",
        help="output format (default parquet)",
    )
    co.add_argument(
        "--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"],
        help="input format when not parquet",
    )
    co.add_argument("--quiet", action="store_true", help="suppress the summary line")
    co.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # ann: persistent IVF index lifecycle — build once, probe forever.
    # Extension beyond the reference CLI.
    ann = sub.add_parser(
        "ann",
        help="persistent IVF ANN index: --build writes a hive-partitioned "
        "index, --queries probes it (partition-pruned scan)",
        parents=[debug_parent],
    )
    ann.add_argument("--index", required=True, metavar="DIR", help="index directory")
    ann.add_argument("--build", metavar="CORPUS", help="build the index from this input")
    ann.add_argument(
        "--append", metavar="BATCH",
        help="append an ingest batch under the index's frozen quantizer",
    )
    ann.add_argument("--queries", metavar="INPUT", help="probe the index with these vectors")
    ann.add_argument(
        "--compact", action="store_true",
        help="collapse accumulated ingest generations to a single layout "
        "(small-file maintenance after many appends)",
    )
    ann.add_argument("--id-col", default="vec_id", help="row id column")
    ann.add_argument("--vec-col", default="embedding", help="embedding column")
    ann.add_argument(
        "--pivot-mod", type=int, default=37,
        help="build: id-mod coarse quantizer (default 37); at scale prefer "
        "--pivots",
    )
    ann.add_argument(
        "--pivots", metavar="INPUT",
        help="build: explicit pivot table (id, vector) — e.g. trained "
        "centroids; overrides --pivot-mod",
    )
    ann.add_argument("--k", type=int, default=5, help="query: neighbors per query")
    ann.add_argument(
        "--nprobe", type=int, default=2, help="query: cells probed per query"
    )
    ann.add_argument(
        "--output", metavar="PATH",
        help="query: write (query_id, neighbor_id, cos_sim, rank) parquet",
    )
    ann.add_argument("--quiet", action="store_true", help="suppress the summary line")
    ann.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    ann.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # cluster: deterministic k-means over an embedding column — train,
    # assign, optionally balance-sample per cluster. Extension beyond the
    # reference CLI.
    cl = sub.add_parser(
        "cluster",
        help="deterministic k-means over an embedding column; per-row "
        "assignments written as parquet, summary JSON on stdout",
        parents=[debug_parent],
    )
    cl.add_argument("--input", required=True, help="input: file path or table name")
    cl.add_argument("--id-col", default="vec_id", help="row id column")
    cl.add_argument("--vec-col", default="embedding", help="embedding column")
    cl.add_argument("--k", type=int, default=8, help="number of clusters (default 8)")
    cl.add_argument(
        "--iters", type=int, default=2, help="Lloyd iterations (default 2)"
    )
    cl.add_argument(
        "--cap", type=int,
        help="balanced-sample mode: keep at most CAP rows per cluster "
        "(deterministic md5 lottery)",
    )
    cl.add_argument(
        "--assignments", required=True, metavar="PATH",
        help="output parquet for per-row cluster assignments",
    )
    cl.add_argument(
        "--centroids", metavar="PATH",
        help="also write the trained centroid table (the reusable "
        "quantizer for streaming/recurring assignment)",
    )
    cl.add_argument("--quiet", action="store_true", help="suppress the summary line")
    cl.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    cl.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # curate: the end-to-end corpus pipeline (quality → dedup →
    # decontaminate → split) as one command writing a verdict table.
    cu = sub.add_parser(
        "curate",
        help="corpus curation verdict (quality/dup/contamination/split) "
        "written as parquet; summary JSON on stdout",
        parents=[debug_parent],
    )
    cu.add_argument("--input", required=True, help="corpus: file path or table name")
    cu.add_argument(
        "--eval", dest="eval_ref", required=True,
        help="held-out evaluation set for decontamination: path or table",
    )
    cu.add_argument("--id-col", default="doc_id", help="document id column")
    cu.add_argument("--text-col", default="text", help="text column (both inputs)")
    cu.add_argument(
        "--contam-threshold", type=float, default=0.2,
        help="contaminated when ≥ this fraction of a doc's shingles hit the "
        "eval set (default 0.2)",
    )
    cu.add_argument(
        "--train-pct", type=int, default=80, help="train split percent (default 80)"
    )
    cu.add_argument(
        "--val-pct", type=int, default=10, help="val split percent (default 10)"
    )
    cu.add_argument(
        "--quality", choices=["heuristic", "gopher"], default="heuristic",
        help="stage-1 quality rule set: generic heuristics (default) or the "
        "published Gopher rule bundle",
    )
    cu.add_argument(
        "--verdict", metavar="PATH", required=True,
        help="write (doc_id, verdict, keep, split) to PATH as parquet",
    )
    cu.add_argument(
        "--dsir", metavar="PATH",
        help="also score every input doc with DSIR importance weights "
        "against --eval (the distribution you want more of) and write "
        "(doc_id, n_tokens, logratio_q) to PATH as parquet — the cheap "
        "data-selection signal for importance resampling at pretraining "
        "scale",
    )
    cu.add_argument(
        "--dsir-alpha", type=float, default=1.0, metavar="A",
        help="with --dsir: add-alpha smoothing of the unigram LMs "
        "(default 1.0)",
    )
    cu.add_argument("--quiet", action="store_true", help="suppress the summary line")
    cu.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    cu.add_argument("--delimiter", default=",", help="CSV delimiter")
    cu.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # check: declarative data-contract rules over one dataset — the
    # dbt-test-style complement of `compare`'s two-sided gate. Extension
    # beyond the reference CLI.
    ck = sub.add_parser(
        "check",
        help="evaluate declarative data-quality rules (not_null / unique / "
        "accepted_values / in_range / matches_regex) in one pass; "
        "exit 1 on violations (CI gate)",
        parents=[debug_parent],
    )
    ck.add_argument("--input", required=True, help="input: file path or table name")
    ck.add_argument(
        "--rules", metavar="PATH",
        help="JSON file: a list of rule objects, e.g. "
        '[{"rule": "not_null", "col": "id"}, '
        '{"rule": "unique", "cols": ["id"]}]',
    )
    ck.add_argument(
        "--fk", action="append", default=[], metavar="COL=PARENT:PARENT_COL",
        help="referential-integrity rule (repeatable): the input's COL must "
        "be contained in PARENT's PARENT_COL (PARENT is a file path or "
        "table name). Verdict rows join the --rules output; violations = "
        "distinct child keys missing from the parent",
    )
    ck.add_argument(
        "--fk-min-containment", type=float, default=1.0,
        help="pass threshold for --fk rules (default 1.0: every child key "
        "must resolve)",
    )
    ck.add_argument(
        "--fail-on-violation", action="store_true",
        help="exit 1 when any rule FAILS (CI gate). A --fk rule fails when "
        "containment drops below --fk-min-containment — with a lowered "
        "threshold it can carry unresolved keys yet still pass",
    )
    ck.add_argument(
        "--export", metavar="PATH",
        help="also write the per-rule verdict table to PATH as parquet",
    )
    ck.add_argument("--quiet", action="store_true", help="suppress the summary line")
    ck.add_argument("--input-format", choices=["csv", "parquet", "json", "jsonl", "orc"])
    ck.add_argument("--delimiter", default=",", help="CSV delimiter")
    ck.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )

    # snapshot: whole-directory content diff via order-independent
    # checksums — the cheap first gate before a row-level `compare`.
    sn = sub.add_parser(
        "snapshot",
        help="diff two snapshot directories table-by-table via "
        "order-independent content checksums (one narrow scan per table "
        "per side, no joins); exit 1 on any mismatch (CI gate)",
        parents=[debug_parent],
    )
    sn.add_argument("--left", required=True, help="left snapshot directory")
    sn.add_argument("--right", required=True, help="right snapshot directory")
    sn.add_argument(
        "--tables", required=True,
        help="comma-separated table names (each resolves to "
        "DIR/<name>.parquet via the standard loader)",
    )
    sn.add_argument(
        "--ignore-cols", action="append", default=[], metavar="TABLE=COL[,COL...]",
        help="exclude columns from a table's digest (repeatable) — e.g. a "
        "volatile ingestion-timestamp column",
    )
    sn.add_argument(
        "--by", action="append", default=[], metavar="TABLE=COL",
        help="drill down on a mismatched table: report WHICH groups of "
        "this column differ via grouped checksums (same one-scan-per-side "
        "cost, join only on the group domain) — the localization step "
        "before a row-level compare of just the bad slices (repeatable)",
    )
    sn.add_argument(
        "--fail-on-mismatch", action="store_true",
        help="exit 1 when any table's rows or content differ (CI gate)",
    )
    sn.add_argument("--quiet", action="store_true", help="suppress the summary line")
    sn.add_argument(
        "--spark-app-name", default="datacompy-spark-cli", metavar="NAME",
        help="Spark application name",
    )
    return p


def _validate_args(args) -> None:
    """Cross-flag validation before any Spark work (ref
    ``cli/compare.py:85-121``): backend-gated flags are rejected with the
    reference's message shape, and flag combinations are checked."""
    if args.on_index:
        raise CLIError(
            "--on-index is not supported with --backend spark. "
            "It applies to: pandas."
        )
    if args.ignore_unique_rows and args.max_unequal_rows is None:
        raise CLIError(
            "--ignore-unique-rows only has an effect together with "
            "--max-unequal-rows N."
        )


def _within_threshold(args, report_data) -> bool:
    """Threshold semantics (ref ``cli/compare.py:124-157``): reads the built
    ReportData, never re-counts. Without ``--max-unequal-rows`` this mirrors
    ``matches()`` (an empty intersection is a non-match); with it, unique
    rows count as differing unless ``--ignore-unique-rows``."""
    rs = report_data.row_summary
    cs = report_data.column_summary
    columns_ok = args.ignore_extra_columns or (
        not cs.df1_unique_columns and not cs.df2_unique_columns
    )
    if args.max_unequal_rows is None:
        rows_overlap = rs.df1_unique == 0 and rs.df2_unique == 0
        intersect_matches = rs.common_rows > 0 and rs.unequal_rows == 0
        return columns_ok and rows_overlap and intersect_matches
    differing = rs.unequal_rows
    if not args.ignore_unique_rows:
        differing += rs.df1_unique + rs.df2_unique
    return columns_ok and differing <= args.max_unequal_rows


def run_compare(args) -> int:
    from pyspark.sql import SparkSession

    from datacompy_spark.operators.compare import SparkCompare
    from datacompy_spark.plans.cache import scope
    from datacompy_spark.sources.loaders import load

    _validate_args(args)
    abs_tol = _combine_tolerances(args.abs_tol, "--abs-tol")
    rel_tol = _combine_tolerances(args.rel_tol, "--rel-tol")
    with borrowed_session(args.spark_app_name) as spark:
        kwargs = {}
        if args.input_format == "csv":
            kwargs["delimiter"] = args.delimiter
        try:
            df1 = load(spark, args.left, fmt=args.input_format, **kwargs)
            df2 = load(spark, args.right, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load inputs: {ex}") from ex

        if args.where:
            try:
                df1, df2 = df1.filter(args.where), df2.filter(args.where)
            except Exception as ex:
                raise CLIError(f"invalid --where predicate: {ex}") from ex

        join_columns = [c.strip() for c in args.on.split(",") if c.strip()]
        if not join_columns:
            raise CLIError("--on must name at least one column")
        if args.sample_fraction is not None:
            from datacompy_spark.operators.compare import consistent_key_sample

            if not 0 < args.sample_fraction <= 1:
                raise CLIError("--sample-fraction must be in (0, 1]")
            try:
                df1 = consistent_key_sample(df1, join_columns, args.sample_fraction)
                df2 = consistent_key_sample(df2, join_columns, args.sample_fraction)
            except Exception as ex:  # unknown key column etc. → exit 2
                raise CLIError(str(ex)) from ex
        try:
            cmp_ = SparkCompare(
                spark,
                df1,
                df2,
                join_columns=join_columns,
                abs_tol=abs_tol,
                rel_tol=rel_tol,
                df1_name=args.left_name,
                df2_name=args.right_name,
                ignore_spaces=args.ignore_spaces,
                ignore_case=args.ignore_case,
                cast_column_names_lower=not args.no_lowercase_columns,
                assume_unique=args.assume_unique,
                null_safe_join=not args.assume_no_null_keys,
                dup_join_on_ordinal=args.dup_join_on_ordinal,
            )
        except (ValueError, TypeError) as ex:
            raise CLIError(str(ex)) from ex

        # an export persists the diff in a session that may outlive this
        # command; the scope releases it once the report and the exports
        # have read it
        with scope():
            if args.export_mismatches or args.export_unique:
                # a report alone persists nothing; the exports re-read the
                # diff, so populate it first and let the report read it
                # too — one join pass for all three
                cmp_._ensure_cached()
            data = cmp_.build_report_data(
                sample_count=args.sample_count, column_count=args.column_count
            )
            if args.export_mismatches:
                cmp_.all_mismatch().write.mode("overwrite").parquet(
                    args.export_mismatches
                )
            if args.export_unique:
                from pyspark.sql import functions as F

                cols = cmp_.df1.columns
                (
                    cmp_.df1_unq_rows.select(
                        F.lit(args.left_name).alias("side"), *cols
                    )
                    .unionByName(
                        cmp_.df2_unq_rows.select(
                            F.lit(args.right_name).alias("side"), *cmp_.df2.columns
                        ),
                        allowMissingColumns=True,
                    )
                    .write.mode("overwrite")
                    .parquet(args.export_unique)
                )
        try:
            rendered = {
                "text": lambda: data.render(template_path=args.template),
                "html": lambda: data.to_html(args.template),
                "json": lambda: data.to_json(indent=2),
            }[args.format]()
        except FileNotFoundError as ex:
            raise CLIError(str(ex)) from ex
        if not args.quiet:
            print(rendered)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(rendered)
        return 0 if _within_threshold(args, data) else 1


def run_profile(args) -> int:
    from pyspark.sql import SparkSession

    from datacompy_spark.operators.profile import profile_compare, table_profile
    from datacompy_spark.sources.loaders import load

    cols = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns
        else None
    )
    # profile MODES are mutually exclusive, enforced in ONE place. The
    # per-branch guards below predate this and only rejected a subset —
    # so e.g. `--vec-col ... --k-anonymity ... --fail-on-violation` took
    # the vec-col branch and the privacy audit silently never ran, while
    # its exit code still read as "no violations" (r11 review finding).
    # (--ks and --columns are modifiers, not modes; --files/--row-groups
    # are two variants of the same layout mode.)
    modes = {
        "--files/--row-groups": bool(args.files or args.row_groups),
        "--vec-col": bool(args.vec_col),
        "--k-anonymity": bool(args.k_anonymity),
        "--mad-outliers": bool(args.mad_outliers),
        "--quantiles": bool(args.quantiles),
        "--compare-to": bool(args.compare_to),
    }
    chosen = [k for k, v in modes.items() if v]
    if len(chosen) > 1:
        raise CLIError(
            f"profile modes are mutually exclusive; got {', '.join(chosen)}"
        )
    # modifier→mode dependency guard (r11 ADVICE): every "with --X"
    # modifier must come WITH its mode — a modifier passed without it was
    # silently ignored, e.g. `profile --sensitive salary
    # --fail-on-violation` without --k-anonymity ran a plain table profile
    # and exited 0, the same silent-no-audit hazard the mode-exclusivity
    # guard above closes for mode combinations. Flags with defaults are
    # compared by value: argparse cannot see an explicitly-passed default,
    # which is fine — the default is behaviorally identical to omission.
    dflt = PROFILE_DEFAULTS  # single source of truth with build_parser
    _deps = [
        ("--ks", args.ks, bool(args.compare_to), "--compare-to"),
        ("--ks-threshold", args.ks_threshold is not None, args.ks, "--ks"),
        (
            "--rel-tol",
            args.rel_tol != dflt["rel_tol"],
            bool(args.compare_to),
            "--compare-to",
        ),
        (
            "--small-file-mb",
            args.small_file_mb != dflt["small_file_mb"],
            bool(args.files),
            "--files",
        ),
        (
            "--vec-id-col",
            args.vec_id_col != dflt["vec_id_col"],
            bool(args.vec_col),
            "--vec-col",
        ),
        ("--dim", args.dim is not None, bool(args.vec_col), "--vec-col"),
        ("--vec-export", bool(args.vec_export), bool(args.vec_col), "--vec-col"),
        ("--fail-on-bad", args.fail_on_bad, bool(args.vec_col), "--vec-col"),
        ("--by", bool(args.by), bool(args.mad_outliers), "--mad-outliers"),
        (
            "--mad-k",
            args.mad_k != dflt["mad_k"],
            bool(args.mad_outliers),
            "--mad-outliers",
        ),
        ("--sensitive", bool(args.sensitive), bool(args.k_anonymity), "--k-anonymity"),
        ("--anon-k", args.anon_k != dflt["anon_k"], bool(args.k_anonymity), "--k-anonymity"),
        ("--anon-l", args.anon_l != dflt["anon_l"], bool(args.k_anonymity), "--k-anonymity"),
        (
            "--fail-on-violation",
            args.fail_on_violation,
            bool(args.k_anonymity),
            "--k-anonymity",
        ),
    ]
    orphans = [
        f"{flag} requires {mode}"
        for flag, given, mode_on, mode in _deps
        if given and not mode_on
    ]
    # --columns selects data columns for the table/drift/quantile modes
    # only; in the other modes it would be silently ignored
    if args.columns and (
        args.k_anonymity or args.mad_outliers or args.vec_col
        or args.files or args.row_groups
    ):
        orphans.append(
            "--columns does not apply to this mode (valid with the plain "
            "profile, --compare-to, and --quantiles)"
        )
    # --exact-distinct tunes the stats pass of the plain profile and the
    # --compare-to drift check; the other modes never compute distincts
    if args.exact_distinct and (
        args.k_anonymity or args.mad_outliers or args.vec_col
        or args.files or args.row_groups or args.quantiles
    ):
        orphans.append(
            "--exact-distinct does not apply to this mode (valid with the "
            "plain profile and --compare-to)"
        )
    if orphans:
        raise CLIError("; ".join(orphans))
    with borrowed_session(args.spark_app_name) as spark:
        # NOTE: per-branch combination guards were removed — every illegal
        # pairing is rejected by the single up-front mode-exclusivity check
        # plus the modifier→mode dependency table above (r12 review: the
        # in-branch copies had become unreachable and could only drift)
        if args.files or args.row_groups:
            try:
                if args.row_groups:
                    from datacompy_spark.operators.profile import (
                        parquet_rowgroup_profile,
                    )

                    out = parquet_rowgroup_profile(spark, args.input)
                else:
                    from datacompy_spark.operators.profile import (
                        file_layout_profile,
                    )

                    out = file_layout_profile(
                        spark,
                        {"input": args.input},
                        small_file_bytes=args.small_file_mb * 1024 * 1024,
                    )
                rows = out.toPandas()
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            rendered = (
                rows.to_json(orient="records", indent=2)
                if args.format == "json"
                else rows.to_string(index=False)
            )
            if args.output:
                with open(args.output, "w") as fh:
                    fh.write(rendered + "\n")
            if not args.quiet:
                print(rendered)
            return 0
        if args.vec_col:
            import json as _json

            from pyspark.sql import functions as F

            from datacompy_spark.operators.profile import embedding_health

            if not args.dim:
                raise CLIError("--vec-col requires --dim")
            try:
                df = load(spark, args.input, fmt=args.input_format)
            except Exception as ex:
                raise CLIError(f"failed to load input: {ex}") from ex
            for c in (args.vec_id_col, args.vec_col):
                if c not in df.columns:
                    raise CLIError(f"column {c!r} not found in input")
            try:
                health = embedding_health(
                    df, args.vec_id_col, args.vec_col, dim=args.dim
                )
                if args.vec_export:
                    health.write.mode("overwrite").parquet(args.vec_export)
                    health = spark.read.parquet(args.vec_export)
                counts = {
                    r["verdict"]: r["n"]
                    for r in health.groupBy("verdict")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            except CLIError:
                raise
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            n_bad = sum(v for k, v in counts.items() if k != "ok")
            if not args.quiet:
                print(
                    _json.dumps(
                        {
                            "n_rows": sum(counts.values()),
                            "n_bad": n_bad,
                            "verdicts": dict(sorted(counts.items())),
                            "dim": args.dim,
                            "export": args.vec_export,
                        }
                    )
                )
            return 1 if (args.fail_on_bad and n_bad > 0) else 0
        if args.k_anonymity:
            from datacompy_spark.operators.profile import k_anonymity_audit

            kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
            try:
                df = load(spark, args.input, fmt=args.input_format, **kwargs)
            except Exception as ex:
                raise CLIError(f"failed to load input: {ex}") from ex
            quasi = [c.strip() for c in args.k_anonymity.split(",") if c.strip()]
            if not quasi:
                raise CLIError("--k-anonymity needs at least one quasi column")
            bad = [c for c in quasi if c not in df.columns]
            if bad:
                raise CLIError(f"--k-anonymity columns not found in input: {bad}")
            if args.sensitive and args.sensitive not in df.columns:
                raise CLIError(f"--sensitive column not found in input: {args.sensitive}")
            try:
                out = k_anonymity_audit(
                    df, quasi, k=args.anon_k,
                    sensitive_col=args.sensitive, l=args.anon_l,
                )
                rows = out.toPandas().sort_values(quasi, ignore_index=True)
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            rendered = (
                rows.to_json(orient="records", indent=2)
                if args.format == "json"
                else rows.to_string(index=False)
            )
            if args.output:
                with open(args.output, "w") as fh:
                    fh.write(rendered + "\n")
            if not args.quiet:
                print(rendered)
            return 1 if (args.fail_on_violation and len(rows) > 0) else 0
        if args.mad_outliers:
            if args.mad_k <= 0:
                raise CLIError("--mad-k must be positive")
            from pyspark.sql import functions as F
            from pyspark.sql.types import NumericType

            from datacompy_spark.operators.profile import mad_outlier_summary

            kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
            try:
                df = load(spark, args.input, fmt=args.input_format, **kwargs)
            except Exception as ex:
                raise CLIError(f"failed to load input: {ex}") from ex
            vcol = args.mad_outliers
            if vcol not in df.columns:
                raise CLIError(f"column not found in input: {vcol}")
            if not isinstance(df.schema[vcol].dataType, NumericType):
                raise CLIError(f"--mad-outliers needs a numeric column, got {vcol}")
            groups = (
                [c.strip() for c in args.by.split(",") if c.strip()]
                if args.by
                else []
            )
            bad = [c for c in groups if c not in df.columns]
            if bad:
                raise CLIError(f"--by columns not found in input: {bad}")
            gcols = groups or ["__all"]
            if not groups:
                df = df.withColumn("__all", F.lit("all"))
            try:
                out = mad_outlier_summary(df, gcols, vcol, k=args.mad_k)
                if not groups:
                    out = out.drop("__all")
                rows = out.toPandas().sort_values(
                    groups or ["n"], ignore_index=True
                )
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            rendered = (
                rows.to_json(orient="records", indent=2)
                if args.format == "json"
                else rows.to_string(index=False)
            )
            if args.output:
                with open(args.output, "w") as fh:
                    fh.write(rendered + "\n")
            if not args.quiet:
                print(rendered)
            return 0
        if args.quantiles:
            try:
                probs = [float(p) for p in args.quantiles.split(",") if p.strip()]
            except ValueError as ex:
                raise CLIError(f"bad --quantiles value: {ex}") from ex
            if not probs or any(p < 0.0 or p > 1.0 for p in probs):
                raise CLIError("--quantiles needs probabilities within [0, 1]")
            from pyspark.sql import functions as F
            from pyspark.sql.types import NumericType

            from datacompy_spark.operators.profile import (
                exact_quantiles_distributed,
            )

            kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
            try:
                df = load(spark, args.input, fmt=args.input_format, **kwargs)
            except Exception as ex:
                raise CLIError(f"failed to load input: {ex}") from ex
            numeric = {
                f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
            }
            if cols:
                bad = [c for c in cols if c not in df.columns]
                if bad:
                    raise CLIError(f"columns not found in input: {bad}")
                non_num = [c for c in cols if c not in numeric]
                if non_num:
                    raise CLIError(f"--quantiles needs numeric columns, got {non_num}")
                qcols = cols
            else:
                qcols = [f.name for f in df.schema.fields if f.name in numeric]
                if not qcols:
                    raise CLIError("input has no numeric columns to profile")
            try:
                out = None
                for c in qcols:
                    q = exact_quantiles_distributed(df, c, probs).select(
                        F.lit(c).alias("col_name"), "prob", "quantile"
                    )
                    out = q if out is None else out.unionByName(q)
                rows = out.toPandas().sort_values(
                    ["col_name", "prob"], ignore_index=True
                )
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            rendered = (
                rows.to_json(orient="records", indent=2)
                if args.format == "json"
                else rows.to_string(index=False)
            )
            if args.output:
                with open(args.output, "w") as fh:
                    fh.write(rendered + "\n")
            if not args.quiet:
                print(rendered)
            return 0
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            df = load(spark, args.input, fmt=args.input_format, **kwargs)
            ref = (
                load(spark, args.compare_to, fmt=args.input_format, **kwargs)
                if args.compare_to
                else None
            )
        except Exception as ex:
            raise CLIError(f"failed to load inputs: {ex}") from ex
        try:
            if args.ks and ref is None:
                raise CLIError("--ks requires --compare-to")
            out = (
                table_profile(df, cols, approx_distinct=not args.exact_distinct)
                if ref is None
                else profile_compare(
                    df, ref, cols,
                    rel_tol=args.rel_tol,
                    approx_distinct=not args.exact_distinct,
                )
            )
            rows = out.toPandas()
            if args.ks and ref is not None:
                from pyspark.sql.types import NumericType

                from datacompy_spark.operators.analytics import ks_drift

                shared = set(cols or df.columns) & set(ref.columns)
                numeric = [
                    f.name
                    for f in df.schema.fields
                    if f.name in shared and isinstance(f.dataType, NumericType)
                ]
                ks_map = {
                    c: ks_drift(df, ref, c).collect()[0]["ks_stat"]
                    for c in numeric
                }
                rows["ks_stat"] = rows["col_name"].map(ks_map)
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        if args.format == "json":
            rendered = rows.to_json(orient="records", indent=2)
        else:
            rendered = rows.to_string(index=False)
        if not args.quiet:
            print(rendered)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(rendered)
        if ref is None:
            return 0
        drifted = rows[
            rows["null_rate_drifted"] | rows["distinct_drifted"] | rows["range_changed"]
        ]
        ks_gate = (
            args.ks
            and args.ks_threshold is not None
            and "ks_stat" in rows
            and bool((rows["ks_stat"].dropna() > args.ks_threshold).any())
        )
        return 1 if (len(drifted) or ks_gate) else 0


def _run_dedup_rewrite(spark, df, args) -> int:
    """dedup --method lines|spans: write the CLEANED corpus (not a survivor
    verdict) to --verdict and print a removal-rate summary."""
    import json

    from pyspark.sql import functions as F

    from datacompy_spark.operators import textops as TO

    if args.export_pairs:
        raise CLIError(
            "--export-pairs does not apply to the rewrite methods "
            "(lines, spans): they emit no pair list"
        )
    try:
        if args.method == "lines":
            out = TO.line_dedup(df, args.id_col, args.text_col)
            unit, total_col, removed = "lines", "n_lines", F.col("n_lines") - F.col("n_kept")
        else:
            if args.span_n < 2:
                raise CLIError("--span-n must be at least 2")
            out = TO.remove_dup_spans(df, args.id_col, args.text_col, n=args.span_n)
            unit, total_col, removed = "tokens", "n_tokens", F.col("n_removed")
        out.write.mode("overwrite").parquet(args.verdict)
        written = spark.read.parquet(args.verdict)
        stats = written.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(total_col), F.lit(0)).alias("n_total"),
            F.coalesce(F.sum(removed), F.lit(0)).alias("n_removed"),
        ).collect()[0]
    except CLIError:
        raise
    except Exception as ex:
        raise CLIError(str(ex)) from ex
    if not args.quiet:
        print(
            json.dumps(
                {
                    "method": args.method,
                    "n_docs": stats["n_docs"],
                    f"n_{unit}": int(stats["n_total"]),
                    f"n_{unit}_removed": int(stats["n_removed"]),
                    "removal_rate": round(
                        int(stats["n_removed"]) / max(int(stats["n_total"]), 1), 6
                    ),
                    "output": args.verdict,
                }
            )
        )
    return 0


def _run_dedup_incremental(spark, batch, args) -> int:
    """`dedup --against CORPUS` / `dedup --ledger TABLE`: incremental
    batch-vs-corpus dedup (stateless corpus scan, or persistent hash
    ledger). The caller owns the session lifecycle and the ownership
    scope (this runs inside run_dedup's ``with scope()``)."""
    import json

    from pyspark.sql import functions as F

    from datacompy_spark.operators import dedup as D
    from datacompy_spark.sources.loaders import load

    if args.ledger and args.method not in ("exact", "minhash"):
        raise CLIError(
            f"--ledger supports --method exact or minhash (got {args.method!r})"
        )
    if args.method not in ("exact", "minhash", "editdist"):
        raise CLIError(
            "--against supports --method exact, minhash, or editdist "
            f"(got {args.method!r})"
        )
    if args.export_pairs:
        raise CLIError("--export-pairs does not apply to incremental mode")
    corpus = None
    if args.against:
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            corpus = load(spark, args.against, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load corpus: {ex}") from ex
        for c in (args.id_col, args.text_col):
            if c not in corpus.columns:
                raise CLIError(f"column {c!r} not found in corpus")
    try:
        if args.ledger and args.method == "minhash":
            out = D.incremental_minhash_ledger(
                spark,
                batch,
                args.ledger,
                args.id_col,
                args.text_col,
                threshold=args.threshold,
                update_ledger=not args.ledger_read_only,
            )
        elif args.ledger:
            out = D.incremental_dedup_with_ledger(
                spark,
                batch,
                args.ledger,
                args.id_col,
                args.text_col,
                update_ledger=not args.ledger_read_only,
            )
        else:
            out = D.incremental_dedup(
                batch,
                corpus,
                args.id_col,
                args.text_col,
                method=args.method,
                threshold=args.threshold,
                max_dist=args.max_dist,
                prefix_len=args.prefix_len,
            )
        out.write.mode("overwrite").parquet(args.verdict)
        written = spark.read.parquet(args.verdict)
        counts = {
            r["verdict"]: r["n"]
            for r in written.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    except CLIError:
        raise
    except Exception as ex:
        raise CLIError(str(ex)) from ex
    n_batch = sum(counts.values())
    if not args.quiet:
        print(
            json.dumps(
                {
                    "method": args.method,
                    "mode": "incremental-ledger" if args.ledger else "incremental",
                    "n_batch": n_batch,
                    "n_new": counts.get("new", 0),
                    "n_dup_corpus": counts.get("dup_corpus", 0),
                    "n_dup_batch": counts.get("dup_batch", 0),
                    "dup_rate": round(
                        1.0 - counts.get("new", 0) / max(n_batch, 1), 6
                    ),
                    "verdict": args.verdict,
                }
            )
        )
    return 0


def run_dedup(args) -> int:
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from datacompy_spark.operators import dedup as D
    from datacompy_spark.plans.cache import scope
    from datacompy_spark.sources.loaders import load

    # hive=--ledger: a persistent dedup ledger needs the derby
    # metastore to outlive this process (rationale in borrowed_session)
    with borrowed_session(
        args.spark_app_name, hive=bool(getattr(args, "ledger", None))
    ) as spark:
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            df = load(spark, args.input, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load input: {ex}") from ex
        need = [args.id_col]
        need.append(args.vec_col if args.method == "embedding" else args.text_col)
        if args.method == "embedding" and args.block_col:
            need.append(args.block_col)
        for c in need:
            if c not in df.columns:
                raise CLIError(f"column {c!r} not found in input")
        if args.against and args.ledger:
            raise CLIError("--against and --ledger are mutually exclusive")
        if args.method in ("lines", "spans") and (args.against or args.ledger):
            raise CLIError(
                "--against/--ledger do not apply to the rewrite methods "
                "(lines, spans)"
            )
        # the scope releases the persists and localCheckpoint blocks the
        # operator calls create, and nothing a neighbour in the borrowed
        # session owns, once the verdict (and the pairs) are on disk
        with scope():
            if args.against or args.ledger:
                return _run_dedup_incremental(spark, df, args)
            if args.method in ("lines", "spans"):
                return _run_dedup_rewrite(spark, df, args)
            try:
                if args.method == "exact":
                    members, _ = D.collapse_exact_content(df, args.id_col, args.text_col)
                    comp = (
                        members.groupBy("chash")
                        .agg(F.min("doc_id").alias("component"))
                        .join(members, "chash")
                        .select("doc_id", "component")
                    )
                    pairs = None
                else:
                    if args.method == "minhash":
                        pairs = D.minhash_lsh_pairs(
                            df, args.id_col, args.text_col, threshold=args.threshold
                        )
                    elif args.method == "simhash":
                        pairs = D.simhash_near_dups(
                            df, args.id_col, args.text_col, max_hamming=args.max_hamming
                        )
                    elif args.method == "editdist":
                        # pairs keep the dist column for --export-pairs, like
                        # minhash keeps jaccard (connected_components only
                        # reads id_a/id_b)
                        pairs = D.edit_distance_pairs(
                            df, args.id_col, args.text_col,
                            max_dist=args.max_dist, prefix_len=args.prefix_len,
                        )
                    else:  # embedding
                        src, block = df, args.block_col
                        if block is None:
                            # single-block run: probe a constant column name
                            # that cannot clash with caller data (same
                            # case-insensitive discipline as the operators)
                            block, t = "__dedup_block", 0
                            lower = {c.lower() for c in df.columns}
                            while block.lower() in lower:
                                t += 1
                                block = f"__dedup_block{t}"
                            src = df.withColumn(block, F.lit(0))
                        pairs = D.embedding_near_dups(
                            src, args.id_col, args.vec_col, block,
                            threshold=args.min_cosine,
                        )
                    comp = D.assign_components(df, args.id_col, pairs)
                verdict = D.dedup_verdict(comp)
                verdict.write.mode("overwrite").parquet(args.verdict)
                if args.export_pairs:
                    if pairs is None:
                        raise CLIError(
                            "--export-pairs does not apply to --method exact "
                            "(exact dedup emits no pair list)"
                        )
                    pairs.write.mode("overwrite").parquet(args.export_pairs)
                written = spark.read.parquet(args.verdict)
                n_docs = written.count()
                n_survivors = written.filter(F.col("is_survivor")).count()
            except CLIError:
                raise
            except Exception as ex:
                raise CLIError(str(ex)) from ex
        if not args.quiet:
            print(
                json.dumps(
                    {
                        "method": args.method,
                        "n_docs": n_docs,
                        "n_survivors": n_survivors,
                        "dup_rate": round(1.0 - n_survivors / max(n_docs, 1), 6),
                        "verdict": args.verdict,
                    }
                )
            )
        return 0


def run_cdc(args) -> int:
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from datacompy_spark.operators.cdc import snapshot_cdc
    from datacompy_spark.sources.loaders import load

    keys = [c.strip() for c in args.keys.split(",") if c.strip()]
    if not keys:
        raise CLIError("--keys must name at least one column")
    with borrowed_session(args.spark_app_name) as spark:
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            old = load(spark, args.old, fmt=args.input_format, **kwargs)
            new = load(spark, args.new, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load inputs: {ex}") from ex
        for k in keys:
            if k not in old.columns or k not in new.columns:
                raise CLIError(f"key column {k!r} not present in both snapshots")
        if args.columns:
            cmp_cols = [c.strip() for c in args.columns.split(",") if c.strip()]
            missing = [c for c in cmp_cols if c not in old.columns or c not in new.columns]
            if missing:
                raise CLIError(f"compare columns not in both snapshots: {missing}")
        else:
            cmp_cols = [
                c for c in old.columns if c not in keys and c in set(new.columns)
            ]
        try:
            feed = snapshot_cdc(
                old, new, keys, cmp_cols, include_unchanged=args.include_unchanged
            )
            feed.write.mode("overwrite").parquet(args.export)
            written = spark.read.parquet(args.export)
            # plain DataFrame collect (tiny frame): no legacy .rdd hop, so the
            # CLI also works over Spark Connect
            counts = {
                r[0]: r[1]
                for r in written.groupBy("change_type").count().collect()
            }
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        n_changes = sum(v for k, v in counts.items() if k != "unchanged")
        if not args.quiet:
            print(
                json.dumps(
                    {
                        "keys": keys,
                        "inserts": counts.get("insert", 0),
                        "deletes": counts.get("delete", 0),
                        "updates": counts.get("update", 0),
                        "unchanged": counts.get("unchanged", 0),
                        "export": args.export,
                    }
                )
            )
        return 1 if (args.fail_on_change and n_changes) else 0


def run_anomaly(args) -> int:
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from datacompy_spark.operators.analytics import rolling_anomaly
    from datacompy_spark.sources.loaders import load

    by = [c.strip() for c in args.by.split(",") if c.strip()]
    if not by:
        raise CLIError("--by must name at least one column")
    if args.threshold <= 0:
        raise CLIError("--threshold must be positive")
    with borrowed_session(args.spark_app_name) as spark:
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            df = load(spark, args.input, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load input: {ex}") from ex
        for c in by + [args.ts_col]:
            if c not in df.columns:
                raise CLIError(f"column {c!r} not found in input")
        # drift-gate argument validation runs BEFORE the anomaly scan: a
        # usage typo must not cost two full Spark actions over the feed
        drift_bucket = None
        if args.drift_col:
            if args.drift_lo is None or args.drift_hi is None:
                raise CLIError("--drift-col requires --drift-lo and --drift-hi")
            if args.drift_col not in df.columns:
                raise CLIError(f"column {args.drift_col!r} not found in input")
            drift_bucket = {3600: "hour", 86400: "day"}.get(args.bucket_seconds)
            if drift_bucket is None:
                raise CLIError(
                    "--drift-col needs --bucket-seconds 3600 (hour) or "
                    "86400 (day) — calendar-period drift has no other grain"
                )
        try:
            scores = rolling_anomaly(
                df, args.ts_col, by,
                bucket_seconds=args.bucket_seconds,
                trailing=args.trailing,
                min_history=args.min_history,
            )
            if args.export:
                scores.write.mode("overwrite").parquet(args.export)
                scores = spark.read.parquet(args.export)
            flagged = scores.filter(
                F.abs(F.col("zscore")) >= F.lit(args.threshold)
            )
            # one aggregate: totals + worst offender, no driver-side loops
            agg = scores.agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.count("zscore").alias("n_scored"),
                F.max(F.abs(F.col("zscore"))).alias("max_abs_z"),
            ).collect()[0]
            n_anomalies = flagged.count()
            drift_summary, n_drift = None, 0
            if args.drift_col:
                from datacompy_spark.operators.analytics import rolling_drift

                drift = rolling_drift(
                    df, args.ts_col, args.drift_col,
                    lo=args.drift_lo, hi=args.drift_hi,
                    bins=args.drift_bins, bucket=drift_bucket,
                )
                if args.drift_export:
                    drift.write.mode("overwrite").parquet(args.drift_export)
                    drift = spark.read.parquet(args.drift_export)
                dagg = drift.agg(
                    F.count(F.lit(1)).alias("n_periods"),
                    F.max("psi").alias("max_psi"),
                    F.max("tv_distance").alias("max_tv"),
                ).collect()[0]
                n_drift = drift.filter(
                    F.col("psi") >= F.lit(args.max_psi)
                ).count()
                drift_summary = {
                    "col": args.drift_col,
                    "n_periods": dagg["n_periods"],
                    "max_psi": (
                        round(dagg["max_psi"], 4)
                        if dagg["max_psi"] is not None else None
                    ),
                    "max_tv": (
                        round(dagg["max_tv"], 4)
                        if dagg["max_tv"] is not None else None
                    ),
                    "psi_threshold": args.max_psi,
                    "n_drifted": n_drift,
                }
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        if not args.quiet:
            print(
                json.dumps(
                    {
                        "n_buckets": agg["n_buckets"],
                        "n_scored": agg["n_scored"],
                        "max_abs_zscore": (
                            round(agg["max_abs_z"], 4)
                            if agg["max_abs_z"] is not None
                            else None
                        ),
                        "threshold": args.threshold,
                        "n_anomalies": n_anomalies,
                        "export": args.export,
                        **({"drift": drift_summary} if drift_summary else {}),
                    }
                )
            )
        return 1 if (
            args.fail_on_anomaly and (n_anomalies > 0 or n_drift > 0)
        ) else 0


def run_check(args) -> int:
    import json

    from pyspark.sql import SparkSession

    from datacompy_spark.operators.expectations import expect
    from datacompy_spark.sources.loaders import load

    rules = []
    if args.rules:
        try:
            with open(args.rules, "r", encoding="utf-8") as fh:
                rules = json.load(fh)
        except (OSError, ValueError) as ex:
            raise CLIError(f"failed to read rules file: {ex}") from ex
        if not isinstance(rules, list) or not all(isinstance(r, dict) for r in rules):
            raise CLIError("--rules must contain a JSON list of rule objects")
    fk_specs = []
    for spec in args.fk:
        head, sep, parent_col = spec.rpartition(":")
        child_col, sep2, parent_ref = head.partition("=")
        if not sep or not sep2 or not child_col or not parent_ref or not parent_col:
            raise CLIError(
                f"malformed --fk spec {spec!r}: expected COL=PARENT:PARENT_COL"
            )
        fk_specs.append((child_col, parent_ref, parent_col))
    if not rules and not fk_specs:
        raise CLIError("nothing to check: pass --rules and/or --fk")
    with borrowed_session(args.spark_app_name) as spark:
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            df = load(spark, args.input, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load input: {ex}") from ex
        try:
            verdicts = expect(df, rules) if rules else None
            if fk_specs:
                from datacompy_spark.operators.analytics import fk_discovery

                parents = {}
                for child_col, parent_ref, parent_col in fk_specs:
                    if child_col not in df.columns:
                        raise CLIError(
                            f"--fk column {child_col!r} not found in input"
                        )
                    if parent_ref not in parents:
                        from datacompy_spark.sources.loaders import infer_format

                        try:
                            # the parent's format is its OWN (inferred from
                            # its extension) — --input-format describes the
                            # CHILD input and is only a fallback for
                            # extension-less parent paths
                            parents[parent_ref] = load(
                                spark,
                                parent_ref,
                                fmt=infer_format(parent_ref) or args.input_format,
                            )
                        except Exception as ex:
                            raise CLIError(
                                f"failed to load --fk parent {parent_ref!r}: {ex}"
                            ) from ex
                    if parent_col not in parents[parent_ref].columns:
                        raise CLIError(
                            f"--fk column {parent_col!r} not found in {parent_ref!r}"
                        )
                # ONE unioned frame (independent key-only aggregates Spark
                # schedules concurrently), one job — not a collect() per spec
                fk_rows = fk_discovery(
                    [
                        ("child", df, cc, ref, parents[ref], pc)
                        for cc, ref, pc in fk_specs
                    ]
                ).collect()
                fk_verdicts = spark.createDataFrame(
                    [
                        (
                            f"fk({r['child_col']}->{r['parent_table']}:{r['parent_col']})",
                            int(r["child_distinct"] - r["contained"]),
                            int(r["child_distinct"]),
                            # an empty child column references nothing: passes
                            bool(
                                r["containment"] is None
                                or r["containment"] >= args.fk_min_containment
                            ),
                        )
                        for r in fk_rows
                    ],
                    "rule string, violations long, total long, passed boolean",
                )
                verdicts = (
                    fk_verdicts
                    if verdicts is None
                    else verdicts.unionByName(fk_verdicts)
                )
            if args.export:
                verdicts.write.mode("overwrite").parquet(args.export)
                verdicts = spark.read.parquet(args.export)
            rows = verdicts.collect()  # one row per rule — bounded
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        failed = [r for r in rows if not r["passed"]]
        if not args.quiet:
            print(
                json.dumps(
                    {
                        "n_rules": len(rows),
                        "n_failed": len(failed),
                        # an fk row's total is the DISTINCT child-key count,
                        # not the table size — only an expectations row may
                        # label total_rows
                        "total_rows": rows[0]["total"] if rules else None,
                        "failures": {
                            r["rule"]: r["violations"] for r in failed
                        },
                        "export": args.export,
                    }
                )
            )
        return 1 if (args.fail_on_violation and failed) else 0


def run_ann(args) -> int:
    import json

    from pyspark.sql import SparkSession

    from datacompy_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from datacompy_spark.sources.loaders import load

    n_modes = sum(
        bool(x) for x in (args.build, args.append, args.queries, args.compact)
    )
    if n_modes != 1:
        raise CLIError(
            "pass exactly one of --build, --append, --queries, or --compact"
        )
    if args.k <= 0 or args.nprobe <= 0:
        raise CLIError("--k and --nprobe must be positive")
    with borrowed_session(args.spark_app_name) as spark:
        if args.build:
            try:
                corpus = load(spark, args.build, fmt=args.input_format)
                pivots = (
                    load(spark, args.pivots, fmt=args.input_format)
                    if args.pivots
                    else None
                )
            except Exception as ex:
                raise CLIError(f"failed to load input: {ex}") from ex
            for c in (args.id_col, args.vec_col):
                if c not in corpus.columns:
                    raise CLIError(f"column {c!r} not found in corpus")
            try:
                summary = build_ivf_index(
                    corpus, args.id_col, args.vec_col, args.index,
                    pivot_mod=args.pivot_mod, pivots=pivots,
                )
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            if not args.quiet:
                print(json.dumps(summary))
            return 0
        if args.compact:
            from datacompy_spark.operators.similarity import (
                compact_ivf_index,
            )

            try:
                summary = compact_ivf_index(spark, args.index)
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            if not args.quiet:
                print(json.dumps(summary))
            return 0
        if args.append:
            from datacompy_spark.operators.similarity import (
                append_to_ivf_index,
            )

            try:
                batch = load(spark, args.append, fmt=args.input_format)
            except Exception as ex:
                raise CLIError(f"failed to load input: {ex}") from ex
            for c in (args.id_col, args.vec_col):
                if c not in batch.columns:
                    raise CLIError(f"column {c!r} not found in batch")
            try:
                summary = append_to_ivf_index(
                    spark, args.index, batch, args.id_col, args.vec_col
                )
            except Exception as ex:
                raise CLIError(str(ex)) from ex
            if not args.quiet:
                print(json.dumps(summary))
            return 0
        try:
            queries = load(spark, args.queries, fmt=args.input_format)
        except Exception as ex:
            raise CLIError(f"failed to load input: {ex}") from ex
        for c in (args.id_col, args.vec_col):
            if c not in queries.columns:
                raise CLIError(f"column {c!r} not found in queries")
        try:
            out = query_ivf_index(
                spark, args.index, queries, args.id_col, args.vec_col,
                k=args.k, nprobe=args.nprobe,
            )
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
                out = spark.read.parquet(args.output)
            n_pairs = out.count()
            n_queries = out.select("query_id").distinct().count()
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        if not args.quiet:
            print(
                json.dumps(
                    {
                        "n_queries": n_queries,
                        "n_pairs": n_pairs,
                        "k": args.k,
                        "nprobe": args.nprobe,
                        "output": args.output,
                    }
                )
            )
        return 0


def run_cluster(args) -> int:
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from datacompy_spark.operators.similarity import kmeans_fit
    from datacompy_spark.sources.loaders import load
    from datacompy_spark.streaming.drift import streaming_cluster_assign

    if args.k <= 0:
        raise CLIError("--k must be positive")
    if args.iters <= 0:
        raise CLIError("--iters must be positive")
    if args.cap is not None and args.cap <= 0:
        raise CLIError("--cap must be positive")
    with borrowed_session(args.spark_app_name) as spark:
        try:
            df = load(spark, args.input, fmt=args.input_format)
        except Exception as ex:
            raise CLIError(f"failed to load input: {ex}") from ex
        for c in (args.id_col, args.vec_col):
            if c not in df.columns:
                raise CLIError(f"column {c!r} not found in input")
        try:
            # train once, assign via the batch-degraded serving path —
            # the centroids written (if requested) are exactly the ones
            # the assignments came from
            cents = kmeans_fit(
                df, args.id_col, args.vec_col, k=args.k, iters=args.iters
            )
            assign = streaming_cluster_assign(
                df, cents, args.id_col, args.vec_col
            )
            if args.cap is not None:
                from datacompy_spark.operators.textops import cap_per_group

                assign = cap_per_group(
                    assign, args.id_col, "cluster_id", cap=args.cap
                )
            assign.write.mode("overwrite").parquet(args.assignments)
            if args.centroids:
                cents.write.mode("overwrite").parquet(args.centroids)
            # summarize from the written output (never recompute the fit)
            out = spark.read.parquet(args.assignments)
            sizes = out.groupBy("cluster_id").agg(
                F.count(F.lit(1)).alias("n")
            )
            agg = sizes.agg(
                F.count(F.lit(1)).alias("k_effective"),
                F.sum("n").alias("n_rows"),
                F.max("n").alias("largest"),
                F.min("n").alias("smallest"),
            ).collect()[0]
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        if not args.quiet:
            print(
                json.dumps(
                    {
                        "n_rows": agg["n_rows"],
                        "k": args.k,
                        "k_effective": agg["k_effective"],
                        "largest_cluster": agg["largest"],
                        "smallest_cluster": agg["smallest"],
                        "cap": args.cap,
                        "assignments": args.assignments,
                        "centroids": args.centroids,
                    }
                )
            )
        return 0


def run_compact(args) -> int:
    import json

    from pyspark.sql import SparkSession

    from datacompy_spark.operators.profile import compact_files

    if args.target_mb <= 0:
        raise CLIError("--target-mb must be positive")
    sort_by = (
        [c.strip() for c in args.sort_by.split(",") if c.strip()]
        if args.sort_by
        else None
    )
    with borrowed_session(args.spark_app_name) as spark:
        try:
            summary = compact_files(
                spark,
                args.input,
                args.output,
                target_file_bytes=args.target_mb * 1024 * 1024,
                fmt=args.format,
                input_format=args.input_format,
                sort_by=sort_by,
            )
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        if not args.quiet:
            print(json.dumps(summary))
        return 0


def run_curate(args) -> int:
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from datacompy_spark.operators.textops import curate_corpus
    from datacompy_spark.sources.loaders import load

    if args.train_pct + args.val_pct > 100 or args.train_pct < 0 or args.val_pct < 0:
        raise CLIError("--train-pct/--val-pct must be non-negative and sum to ≤ 100")
    with borrowed_session(args.spark_app_name) as spark:
        kwargs = {"delimiter": args.delimiter} if args.input_format == "csv" else {}
        try:
            df = load(spark, args.input, fmt=args.input_format, **kwargs)
            ev = load(spark, args.eval_ref, fmt=args.input_format, **kwargs)
        except Exception as ex:
            raise CLIError(f"failed to load inputs: {ex}") from ex
        for c in (args.id_col, args.text_col):
            if c not in df.columns:
                raise CLIError(f"column {c!r} not found in --input")
        if args.text_col not in ev.columns:
            raise CLIError(f"column {args.text_col!r} not found in --eval")
        try:
            verdict = curate_corpus(
                df,
                args.id_col,
                args.text_col,
                ev,
                contam_threshold=args.contam_threshold,
                train_pct=args.train_pct,
                val_pct=args.val_pct,
                quality=args.quality,
            )
            verdict.write.mode("overwrite").parquet(args.verdict)
            written = spark.read.parquet(args.verdict)
            counts = {
                r[0]: r[1] for r in written.groupBy("verdict").count().collect()
            }
            splits = {
                r[0]: r[1]
                for r in written.filter(F.col("split").isNotNull())
                .groupBy("split")
                .count()
                .collect()
            }
            n_dsir = None
            if args.dsir:
                from datacompy_spark.operators.textops import dsir_weights
                from datacompy_spark.plans.cache import scope

                # the scope releases the persists and localCheckpoint
                # blocks this dsir call created, and nothing a neighbour
                # in the borrowed session owns, once the weights are on
                # disk; the count below re-reads from parquet
                with scope():
                    dsir_weights(
                        df, ev, args.id_col, args.text_col,
                        alpha=args.dsir_alpha,
                    ).write.mode("overwrite").parquet(args.dsir)
                n_dsir = spark.read.parquet(args.dsir).count()
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        if not args.quiet:
            summary = {
                "n_docs": sum(counts.values()),
                "verdicts": counts,
                "splits": splits,
                "verdict": args.verdict,
            }
            if args.dsir:
                summary["dsir"] = args.dsir
                summary["n_dsir"] = n_dsir
            print(json.dumps(summary))
        return 0


def run_snapshot(args) -> int:
    import json

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from datacompy_spark.operators.profile import dataset_diff

    tables = [t.strip() for t in args.tables.split(",") if t.strip()]
    if not tables:
        raise CLIError("--tables must name at least one table")
    ignore: dict = {}
    for spec in args.ignore_cols:
        name, sep, cols = spec.partition("=")
        if not sep or not cols:
            raise CLIError(f"--ignore-cols expects TABLE=COL[,COL...], got {spec!r}")
        if name not in tables:
            raise CLIError(
                f"--ignore-cols names table {name!r} which is not in --tables "
                f"{tables} — a typo here would silently leave the column in "
                "the digest"
            )
        ignore[name] = [c.strip() for c in cols.split(",") if c.strip()]
    by: dict = {}
    for spec in args.by:
        name, sep, col = spec.partition("=")
        if not sep or not col.strip():
            raise CLIError(f"--by expects TABLE=COL, got {spec!r}")
        if name not in tables:
            raise CLIError(
                f"--by names table {name!r} which is not in --tables {tables}"
            )
        by[name] = col.strip()
    with borrowed_session(args.spark_app_name) as spark:
        columns = None
        if ignore:
            from datacompy_spark.sources.loaders import load_table

            columns = {}
            for t in tables:
                if t in ignore:
                    try:
                        all_cols = load_table(spark, args.left, t).columns
                    except Exception as ex:
                        raise CLIError(f"failed to load {t!r} from --left: {ex}") from ex
                    missing = [c for c in ignore[t] if c not in all_cols]
                    if missing:
                        raise CLIError(
                            f"--ignore-cols: {missing} not in table {t!r}"
                        )
                    columns[t] = [c for c in all_cols if c not in ignore[t]]
        try:
            rows = dataset_diff(
                spark, args.left, args.right, tables, columns=columns
            ).collect()
        except CLIError:
            raise
        except Exception as ex:
            raise CLIError(str(ex)) from ex
        verdicts = {
            r["table"]: {
                "n_rows_left": r["n_rows_left"],
                "n_rows_right": r["n_rows_right"],
                "rows_match": bool(r["rows_match"]),
                "content_match": bool(r["content_match"]),
            }
            for r in rows
        }
        # drill-down: for each mismatched table with a --by spec, localize
        # WHICH group values differ (grouped digests; group-domain join)
        for t, gcol in by.items():
            if verdicts.get(t, {}).get("content_match", True):
                continue
            from datacompy_spark.operators.profile import checksum_diff_by
            from datacompy_spark.sources.loaders import load_table

            lt = load_table(spark, args.left, t)
            rt = load_table(spark, args.right, t)
            for side, frame in (("left", lt), ("right", rt)):
                if gcol not in frame.columns:
                    raise CLIError(f"--by: column {gcol!r} not in {side} table {t!r}")
            digest_cols = (columns or {}).get(t) or lt.columns
            bad = (
                checksum_diff_by(lt, rt, [gcol], columns=digest_cols)
                .filter(~F.col("content_match"))
                .orderBy(gcol)
                .limit(1000)  # a fully-divergent table must not flood stdout
                .collect()
            )
            verdicts[t]["bad_groups"] = {
                str(r[gcol]): {
                    "n_rows_left": r["n_rows_left"],
                    "n_rows_right": r["n_rows_right"],
                    "rows_match": bool(r["rows_match"]),
                }
                for r in bad
            }
        n_bad = sum(1 for v in verdicts.values() if not v["content_match"])
        if not args.quiet:
            print(json.dumps({"tables": verdicts, "mismatched": n_bad}))
        if args.fail_on_mismatch and n_bad:
            return 1
        return 0


def main(argv: Optional[Sequence[str]] = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if not hasattr(args, "debug"):  # SUPPRESS leaves no attribute behind
        args.debug = False
    try:
        if args.command == "compare":
            return run_compare(args)
        if args.command == "profile":
            return run_profile(args)
        if args.command == "dedup":
            return run_dedup(args)
        if args.command == "cdc":
            return run_cdc(args)
        if args.command == "anomaly":
            return run_anomaly(args)
        if args.command == "compact":
            return run_compact(args)
        if args.command == "cluster":
            return run_cluster(args)
        if args.command == "ann":
            return run_ann(args)
        if args.command == "curate":
            return run_curate(args)
        if args.command == "check":
            return run_check(args)
        if args.command == "snapshot":
            return run_snapshot(args)
        raise CLIError(f"unknown command {args.command!r}")
    except CLIError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2
    except KeyboardInterrupt:
        return 130
    except Exception as ex:  # unexpected: short message unless --debug
        if args.debug:
            raise
        print(f"error: unexpected failure: {ex}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    raise SystemExit(main())
