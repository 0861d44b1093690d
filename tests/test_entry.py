"""Contract tests for ``__spark_entry__`` — the driver-facing surface.

The driver's correctness sweep canonicalizes each query's result with
pandas ``sort_values``/``factorize``, which raises ``TypeError: unhashable
type`` on array/map/struct columns (observed in round 7: ``cdc_delta`` and
``embedding_quantize`` ERR'd for two rounds while passing the builder's own
array-aware checker). These tests make the driver's constraint a permanent
local gate instead of a rediscovered-per-round gotcha.
"""

import os
import sys

import pytest
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.fixture(scope="module")
def registry():
    return entry.queries()


def test_every_query_emits_only_atomic_columns(spark, sf_dir, registry):
    """No queries() entry may return array/map/struct columns.

    Schema-only: builds each plan (analysis, no job) at sf0.001. Operators
    may return arrays internally — the QUERY wrapper must serialize them
    (array_join / hash) with the identical expression in the oracle twin.
    """
    offenders = {}
    for name, q in registry.items():
        df = q(spark, sf_dir)
        bad = [
            f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"queries() entries emit non-atomic columns (driver canonicalizer "
        f"cannot sort them): {offenders}"
    )


def test_no_wide_decimal_output_columns(spark, sf_dir, registry):
    """No queries() entry may emit DECIMAL with precision > 18.

    Round-9 lesson generalized: values beyond 2⁵³ round-trip differently
    through the driver's two pandas paths (DuckDB renders wide decimals
    as lossy float64, Spark's Arrow path yields exact Decimal), so a
    bit-identical result still hash-mismatches. DECIMAL ≤ 18 digits fits
    int64 and converts exactly in both engines; anything wider must
    cross the boundary as a fixed-width string (see dataset_checksum)."""
    from pyspark.sql.types import DecimalType

    offenders = {}
    for name, q in registry.items():
        wide = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in q(spark, sf_dir).schema.fields
            if isinstance(f.dataType, DecimalType) and f.dataType.precision > 18
        ]
        if wide:
            offenders[name] = wide
    assert not offenders, (
        f"queries() emit wide DECIMAL columns (driver-hash hazard — render "
        f"as strings instead): {offenders}"
    )


def test_no_ntz_timestamp_output_columns(spark, sf_dir, registry):
    """Twin gate of the wide-DECIMAL rule for the other timestamp-shaped
    driver-hash hazard: TIMESTAMP_NTZ output means a query loaded data
    around the source boundary (loaders normalize NTZ→TIMESTAMP under the
    fixed UTC session tz; r7's NTZ/session-tz lesson) — the two pandas
    paths then disagree on the wall-clock value.

    Deliberately NOT banned: sub-second TIMESTAMP values. Probed at
    sf0.001 this round: `events_asof_join` and `events_latest_per_user`
    pass through full microsecond event timestamps and both hold green
    driver rows — micros (Spark's max precision) round-trip exactly
    through pandas datetime64[ns] on BOTH engines, so precision itself is
    not the hazard; only a timestamp CONSTRUCTED differently by the two
    engines is, and that is exactly what the per-query value hash already
    catches."""
    from pyspark.sql.types import TimestampNTZType

    ntz_offenders = {}
    for name, q in registry.items():
        ntz = [
            f.name for f in q(spark, sf_dir).schema.fields
            if isinstance(f.dataType, TimestampNTZType)
        ]
        if ntz:
            ntz_offenders[name] = ntz
    assert not ntz_offenders, (
        f"queries() emit TIMESTAMP_NTZ columns (loader normalization "
        f"bypassed — driver-hash hazard): {ntz_offenders}"
    )


def test_oracle_sql_covers_every_query(registry):
    oracles = entry.oracle_sql()
    missing = [n for n in registry if n not in oracles]
    assert not missing, f"queries() entries without an oracle twin: {missing}"


def test_sweep_window_is_oldest_evidence_first(registry):
    """The driver sweeps the FIRST 50 registry names each round, so with a
    121-name registry a full evidence rotation takes 3 rounds (contract in
    COVERAGE.md). This pins the rotation invariant mechanically against
    the recorded history: no name OUTSIDE the 50-name window may carry
    strictly older driver evidence than any name inside it (never-swept
    names count as oldest and must lead). The registry order is computed
    from the same history at import, so it holds against every round,
    the newest included."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    by_round = {}
    matched = 0
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:  # e.g. a CORRECTNESS_r10.bak.json matching the glob
            continue
        rnd = int(m.group(1))
        matched += 1
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except Exception:  # noqa: BLE001 — ONE malformed round file is not this test's bug
            continue
        by_round[rnd] = rows
    # a single unparseable round file is tolerable history damage, but if
    # round files exist and NONE parsed, the gate must not silently degrade
    # to a no-op (repo-wide history corruption would otherwise pass)
    assert by_round or not matched, (
        f"{matched} CORRECTNESS_r*.json files found but none parsed — "
        "driver-history corruption; the rotation gate cannot run"
    )
    if not by_round:  # fresh clone without driver artifacts — nothing to pin
        return

    newest = {}
    for rnd, rows in by_round.items():
        for name, row in rows.items():
            # green = rows matched, no error, and the value hash did
            # not FAIL (hash may be absent for the weaker rows-only
            # checks, but hash_match=False is a red row — r9's
            # dataset_checksum precedent — and red evidence must not
            # keep a name out of the window)
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and not row.get("err")
                and row.get("hash_match") is not False
            ):
                newest[name] = max(newest.get(name, 0), rnd)
    names = list(registry)
    window, tail = names[:50], names[50:]
    window_max = max(newest.get(n, 0) for n in window)
    offenders = [
        f"{n} (evidence r{newest.get(n, 0)} < window max r{window_max})"
        for n in tail
        if newest.get(n, 0) < window_max
    ]
    assert not offenders, f"sweep window is not oldest-evidence-first: {offenders}"


def test_entry_flagship_runs(spark):
    df = entry.entry(spark)
    assert df.columns
    assert df.count() >= 0


def test_bench_one_line_keeps_headline_then_slowest():
    """The driver parses the bench line out of the tail of stdout, so
    ``bench.one_line`` cuts ``queries`` to fit: the headline always stays
    (even when fast or failed), then this run's slowest timings while the
    line fits, ties broken by name. It reads nothing but its argument."""
    import json as _json

    import bench

    queries = {f"q{i:03d}": round(0.01 * i, 2) for i in range(300)}
    queries.update({"compare_report": 0.01, "tie_b": 9.0, "tie_a": 9.0, "failed": None})
    record = {"metric": "compare_report_sec", "value": 0.01, "unit": "sec",
              "queries": queries, "gates": {"knn_recall": 1.0},
              "noise": [0.2, 0.3], "sf": 0.001}
    line = bench.one_line(record)
    assert len(line) <= bench.LINE_LIMIT
    parsed = _json.loads(line)
    assert list(parsed) == ["metric", "value", "unit", "queries", "gates", "noise", "sf"]
    kept = list(parsed["queries"])
    assert kept[:4] == ["compare_report", "tie_a", "tie_b", "q299"]
    # a prefix of the slowest-first ranking: nothing kept is faster than
    # anything dropped
    ranked = sorted((k for k, v in queries.items() if v is not None and k != "compare_report"),
                    key=lambda k: (-queries[k], k))
    assert kept[1:] == ranked[: len(kept) - 1]
    assert len(kept) < len(ranked) and "failed" not in kept
    # the next name would not have fit
    over = _json.dumps({**record, "queries": {**parsed["queries"], ranked[len(kept) - 1]: 0.0}},
                       separators=(",", ":"))
    assert len(over) > bench.LINE_LIMIT
    # a short record is printed whole; a failed headline stays as null
    small = dict(record, queries={"compare_report": None, "qa": 1.5, "qb": 2.5})
    assert _json.loads(bench.one_line(small))["queries"] == {
        "compare_report": None, "qb": 2.5, "qa": 1.5}


def test_coverage_md_header_matches_registry(registry):
    """COVERAGE.md is the judge's cross-reference ledger — its header count
    must track the live registry, and no table row may be duplicated."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("COVERAGE.md").read_text()
    m = re.search(r"\((\d+) entries", text)
    assert m, "COVERAGE.md header no longer states the entry count"
    assert int(m.group(1)) == len(registry), (
        f"COVERAGE.md header says {m.group(1)} entries but the registry has "
        f"{len(registry)} — update the ledger"
    )
    rows = [ln for ln in text.splitlines() if ln.startswith("|")]
    dupes = {r for r in rows if rows.count(r) > 1 and r.count("|") > 2}
    # header/separator rows legitimately repeat across tables; real rows don't
    dupes = {r for r in dupes if not set(r) <= set("|- ") and "Operator" not in r and "Test / query" not in r}
    assert not dupes, f"duplicated COVERAGE.md rows: {sorted(dupes)[:3]}"


