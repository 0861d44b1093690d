"""Contract tests for ``__spark_entry__`` — the driver-facing surface.

The driver's correctness sweep canonicalizes each query's result with
pandas ``sort_values``/``factorize``, which raises ``TypeError: unhashable
type`` on array/map/struct columns (observed in round 7: ``cdc_delta`` and
``embedding_quantize`` ERR'd for two rounds while passing the builder's own
array-aware checker). These tests make the driver's constraint a permanent
local gate instead of a rediscovered-per-round gotcha.
"""

import sys

import pytest
from pyspark.sql import types as T

sys.path.insert(0, "/root/repo")

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


def test_sweep_prefix_names_are_registered(registry):
    from datacompy_spark.queries import _SWEEP_FIRST

    unknown = [n for n in _SWEEP_FIRST if n not in registry]
    assert not unknown, f"_SWEEP_FIRST names not in the registry: {unknown}"


def test_sweep_window_is_oldest_evidence_first(registry):
    """The driver sweeps the FIRST 50 registry names each round, so with a
    121-name registry a full evidence rotation takes 3 rounds (contract in
    COVERAGE.md). This pins the rotation invariant mechanically against
    the recorded history: no name OUTSIDE the 50-name window may carry
    strictly older driver evidence than any name inside it (never-swept
    names count as oldest and must lead). Rebuilding _SWEEP_FIRST by hand
    each round made this a judge-checked convention; now it's a gate."""
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

    def offenders_with(rounds):
        newest = {}
        for rnd in rounds:
            for name, row in by_round[rnd].items():
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
        return [
            f"{n} (evidence r{newest.get(n, 0)} < window max r{window_max})"
            for n in tail
            if newest.get(n, 0) < window_max
        ]

    strict = offenders_with(sorted(by_round))
    if not strict:
        return
    # The driver writes CORRECTNESS_r{N} AFTER the round's builder session,
    # so at the START of round N+1 the window legitimately reflects ages as
    # of round N−1. Tolerate exactly that one-round lag: the window must be
    # clean against the history EXCLUDING the newest round file. Two-plus
    # rounds stale fails both checks.
    lagged = offenders_with(sorted(by_round)[:-1])
    assert not lagged, (
        "sweep window is not oldest-evidence-first even one round back — "
        f"rebuild _SWEEP_FIRST (datacompy_spark/queries.py): {lagged}"
    )
    # strict failed but lagged passed: the window is exactly one round
    # stale — the documented grace state at round start, before the
    # builder rotates. Rotating is still the round's first job.


def test_entry_flagship_runs(spark):
    df = entry.entry(spark)
    assert df.columns
    assert df.count() >= 0


def test_bench_trailing_medians_reads_driver_shaped_files(tmp_path):
    """The bench outlier-replay pass must see per-query history in BOTH
    file shapes: bare bench.py output ({"queries": …} at top level) and
    driver-recorded rounds, which nest the parsed line under "parsed"
    ({"n":…,"rc":…,"sf":…,"parsed":{"queries":…}}). Round-9 post-mortem:
    reading only the top level made medians always {} so the 2×-median
    replay trigger never fired and an 8.6 s noise spike survived as the
    query's recorded number."""
    import json as _json

    import bench

    driver_shaped = {
        "n": 9, "rc": 0, "cpus": 32, "sf": 0.1,
        "parsed": {"metric": "compare_report_sec", "value": 3.4, "sf": 0.1,
                   "queries": {"compare_report": 3.4, "qx": 1.8},
                   "gates": {"knn_recall": 6.8}},
    }
    bare_shaped = {"metric": "compare_report_sec", "value": 3.6, "sf": 0.1,
                   "queries": {"compare_report": 3.6, "qx": 2.0},
                   "gates": {"knn_recall": 9.2}}
    (tmp_path / "BENCH_r11.json").write_text(_json.dumps(driver_shaped))
    (tmp_path / "BENCH_r12.json").write_text(_json.dumps(bare_shaped))
    med = bench._trailing_medians(0.1, here=str(tmp_path))
    assert med.get("qx") == pytest.approx(1.9)
    assert med.get("compare_report") == pytest.approx(3.5)
    # gate history reads through the same dual-shape path (round-10
    # lesson: the gate replay pass is dead without its own medians)
    gmed = bench._trailing_medians(0.1, here=str(tmp_path), key="gates")
    assert gmed.get("knn_recall") == pytest.approx(8.0)
    # a different SF must contribute nothing
    assert bench._trailing_medians(0.01, here=str(tmp_path)) == {}
    # the creep probe reads the SERIES in round order — the [-1] element
    # must be the NEWEST round's number (r11 verdict item 2: two
    # consecutive elevated rounds is trend, one is weather)
    series = bench._trailing_values(0.1, here=str(tmp_path))
    assert series.get("qx") == [1.8, 2.0]
    assert series.get("compare_report") == [3.4, 3.6]


def test_bench_history_cutoff_excludes_pre_r8_rounds(tmp_path):
    """r13 verdict item 7: BENCH_r01..r07 predate the sentinel/creep/gate
    machinery (different query set, no noise arrays, different warmup
    discipline) — they must be excluded from EVERY history scan by round
    number, so a future re-serialization that gives an old record modern
    fields can never skew the sentinel floor or a trailing median."""
    import json as _json

    import bench

    old = {"metric": "compare_report_sec", "value": 9.9, "sf": 0.1,
           "queries": {"qx": 9.9}, "gates": {"knn_recall": 30.0},
           "noise": [0.04]}
    new = {"metric": "compare_report_sec", "value": 3.0, "sf": 0.1,
           "queries": {"qx": 3.0}, "gates": {"knn_recall": 7.0},
           "noise": [0.15]}
    (tmp_path / "BENCH_r07.json").write_text(_json.dumps(old))
    (tmp_path / "BENCH_r08.json").write_text(_json.dumps(new))
    # r07's 9.9 would drag the median to 6.45 and its glitch-plausible
    # 0.04 s sample would become the floor — both must be invisible
    assert bench._trailing_medians(0.1, here=str(tmp_path)) == {"qx": 3.0}
    gmed = bench._trailing_medians(0.1, here=str(tmp_path), key="gates")
    assert gmed == {"knn_recall": 7.0}
    assert bench._healthy_sentinel_floor(here=str(tmp_path)) == pytest.approx(0.15)
    assert bench._HISTORY_MIN_ROUND == 8


def test_bench_history_skips_non_round_names(tmp_path):
    """Only BENCH_r<NN>.json names are history: a matched-core leg such as
    BENCH_r14_c8.json records another machine shape at the same sf and
    must feed neither the trailing medians nor the sentinel floor."""
    import json as _json

    import bench

    leg = {"metric": "compare_report_sec", "value": 9.0, "sf": 0.1,
           "cpus": 8, "queries": {"qx": 9.0}, "noise": [0.05]}
    rec = {"metric": "compare_report_sec", "value": 3.0, "sf": 0.1,
           "cpus": 32, "queries": {"qx": 3.0}, "noise": [0.15]}
    (tmp_path / "BENCH_r14_c8.json").write_text(_json.dumps(leg))
    (tmp_path / "BENCH_r14.json").write_text(_json.dumps(rec))
    assert bench._history_files(str(tmp_path)) == [str(tmp_path / "BENCH_r14.json")]
    assert bench._trailing_medians(0.1, here=str(tmp_path)) == {"qx": 3.0}
    assert bench._healthy_sentinel_floor(here=str(tmp_path)) == pytest.approx(0.15)


def test_bench_gate_instruments_in_record():
    """r13 verdict items 2+4: the one-line driver record must carry (a)
    gates_norm — the sentinel-normalized twin of every gate timing, (b)
    noise_pos aligned with noise, and (c) a pressure-sensitive gate
    replay trigger (1.5× trailing median when the bracketing sentinels
    are elevated, 2.0× when calm). The r13 driver record's knn_recall
    14.91 s (sentinel_ratio 2.618) sat just under 2×7.89 with no replay
    and no normalized twin — unfalsifiable from the record alone. Greps
    the live source so the instruments cannot silently regress."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert '"gates_norm": _gates_norm_2dp' in src, (
        "gates_norm missing from the one-line record — gate timings lost "
        "their weather instrument"
    )
    assert src.count('"noise_pos": noise_pos') >= 2, (
        "noise_pos must be in BOTH the primary line and the _shrunk "
        "fallback — the gate's firing must be verifiable from the driver "
        "artifact alone"
    )
    assert "trigger = 1.5 if _ratio_at(qpos.get(name, 0)) > 1.2 else 2.0" in src, (
        "gate replay trigger is no longer pressure-sensitive"
    )
    # the end-of-sweep sentinel must be appended BEFORE the replay passes
    # (the pressure-sensitive trigger needs the full bracket)
    assert src.index("noise_pos.append(len(QUERIES))") < src.index(
        "gate_medians = _trailing_medians"
    )


def test_bench_healthy_sentinel_floor(tmp_path):
    """The start-of-sweep sentinel gate (r12 verdict item 2) keys off this
    machine's recorded noise floor. The floor must read the ``noise``
    array from BOTH file shapes, across ALL scale factors (the sentinel
    is a fixed CPU job — sf-independent), take the minimum, and degrade
    to None on no history so a fresh clone never stalls the sweep."""
    import json as _json

    import bench

    driver_shaped = {
        "n": 11, "rc": 0, "sf": 0.1,
        "parsed": {"metric": "compare_report_sec", "value": 3.6, "sf": 0.1,
                   "queries": {}, "noise": [0.15, 0.403, 0.362, 0.256]},
    }
    bare_shaped = {"metric": "compare_report_sec", "value": 4.6, "sf": 0.01,
                   "queries": {}, "noise": [0.197, 0.437, 0.114]}
    (tmp_path / "BENCH_r11.json").write_text(_json.dumps(driver_shaped))
    (tmp_path / "BENCH_r12.json").write_text(_json.dumps(bare_shaped))
    # min across every sample of every round, regardless of sf
    assert bench._healthy_sentinel_floor(here=str(tmp_path)) == pytest.approx(0.114)
    # a glitched sample (0.001 s — impossible for the fixed 50M-row job)
    # must not become the floor forever and arm the gate on every sweep
    (tmp_path / "BENCH_r13.json").write_text(
        _json.dumps({"metric": "compare_report_sec", "value": 4.0, "sf": 0.1,
                     "queries": {}, "noise": [0.001, 0.15]})
    )
    assert bench._healthy_sentinel_floor(here=str(tmp_path)) == pytest.approx(0.114)
    # no history → None (gate off, ratio 1.0), never a crash
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench._healthy_sentinel_floor(here=str(empty)) is None
    # a noise-free old record (pre-r11 shape) contributes nothing but
    # must not poison the scan
    (empty / "BENCH_r10.json").write_text(
        _json.dumps({"parsed": {"queries": {"q": 1.0}, "sf": 0.1}})
    )
    assert bench._healthy_sentinel_floor(here=str(empty)) is None


def test_bench_floor_nonempty_on_real_history():
    """With the repo's actual BENCH_r*.json (r11+ records carry noise
    arrays), the sentinel floor must resolve — the live guarantee that
    the start-of-sweep gate and the sentinel_ratio twin are armed."""
    import bench

    floor = bench._healthy_sentinel_floor()
    assert floor is not None and 0.03 < floor < 0.3, (
        f"sentinel floor {floor!r} outside any plausible quiet-machine "
        "band — the sweep gate would misfire"
    )


def test_bench_outlier_floor_has_no_dead_band_with_creep_probe():
    """r12 review finding: the outlier replay required best > 1.0 s while
    _is_creeping deferred every >2x-median case to it, so a regressed
    query with best in (0.5, 1.0] got NO replay from either pass. The
    fix pins the outlier pass's absolute floor to the same 0.5 s as the
    creep probe's jitter floor; this test greps the live source so the
    two floors cannot silently diverge again."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert "best > 2.0 * med and best > 0.5" in src, (
        "outlier replay floor drifted from the creep probe's 0.5 s "
        "jitter floor — the (0.5, 1.0] dead band is back"
    )
    assert "best > 2.0 * med and best > 1.0" not in src


def test_bench_first_appearance_outlier_fallback():
    """r14 verdict item 4: a name with NO trailing cross-round median had
    no outlier protection — cmp_string_timestamp_cast recorded 18.6 s
    (real ~1 s) on its first appearance and that number entered the r15
    history medians. The fallback replays a first-appearance best > 4x
    the SAME-RUN sweep median; greps the live source so it cannot
    silently regress."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert "best > 4.0 * sweep_med" in src, (
        "first-appearance outlier fallback missing — a no-history name "
        "has no replay protection again"
    )


def test_bench_one_line_selection_is_sticky():
    """r14 verdict item 5: the slowest-60 truncation churned the printed
    query set every round (6 names 'dropped', 6 admitted, each entrant
    with no median). Selection is now sticky: names printed in the last
    same-sf round's line stay; remaining space fills with the slowest
    new names; a name leaves only when the line physically cannot hold
    it (fastest first, deterministic)."""
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    assert "prev_names" in src, "sticky one-line selection removed"
    assert "[:60]" not in src, "the churning slowest-60 cut is back"


def test_bench_medians_nonempty_on_real_history():
    """With the actual driver-written BENCH_r*.json in the repo, the
    sf0.1 medians must be non-empty — the live guarantee that the replay
    pass is armed for the per-round bench run."""
    import bench

    med = bench._trailing_medians(0.1)
    assert med, "trailing medians empty — replay pass is dead again"
    assert "compare_report" in med
    gmed = bench._trailing_medians(0.1, key="gates")
    assert "knn_recall" in gmed, (
        "gate medians empty — the gate replay pass is dead (r10 lesson)"
    )


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


def test_bench_creep_detector_semantics():
    """The sub-2× creep probe (r11 verdict item 2): the detector must fire
    on the MOTIVATING monotone drift — dedup_ngram_jaccard's real
    2.18→2.62→3.07→3.58 s driver records — which a median-relative test
    provably cannot catch (each round is only ~1.2× its own trailing
    median; r12 review finding). med is always median(series) in
    production, so every case here uses that honest pairing."""
    import statistics

    import bench

    def creeping(best, series):
        return bench._is_creeping(best, statistics.median(series), series)

    # the motivating drift, replayed round by round as bench would see it
    assert creeping(3.58, [2.18, 2.62, 3.07])   # r11's sweep: flag
    assert creeping(3.07, [2.18, 2.62])          # fires a round earlier too
    # a step change flags on its SECOND elevated round, not the first
    assert not creeping(3.0, [2.0, 2.0, 2.0])    # first elevation: weather
    assert creeping(3.0, [2.0, 2.0, 3.0])        # second: trend
    # recovered after a bad patch: no flag
    assert not creeping(2.3, [3.0, 3.5, 2.2])
    # stable (flat band): no flag
    assert not creeping(3.1, [3.0, 3.0, 3.0])
    # >2× the median belongs to the outlier-replay pass
    assert not creeping(7.0, [2.0, 2.0, 3.0])
    # guards
    assert not bench._is_creeping(3.0, 2.0, [])        # no history: no trend
    assert not bench._is_creeping(None, 2.0, [2.9])    # errored query
    assert not creeping(0.45, [0.3, 0.3, 0.4])          # sub-0.5 s jitter
