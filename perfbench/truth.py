"""Ground truth computed once per run with DuckDB, independently of Spark,
and the checks that hold each unit's output against it."""

from __future__ import annotations

import math
from typing import Dict, List, Sequence

import duckdb
import numpy as np
import pandas as pd

from perfbench.gen import LI_ABS_TOL


def _match_sql(c: str, a: str, b: str) -> str:
    """DuckDB twin of the engine's per-column equality with ``abs_tol``."""
    tol = LI_ABS_TOL.get(c, LI_ABS_TOL["default"])
    same = f"({a} IS NOT DISTINCT FROM {b})"
    if tol > 0:
        return f"({same} OR ({a} IS NOT NULL AND {b} IS NOT NULL AND abs({a} - {b}) <= {tol}::DOUBLE))"
    return same


def compare_counts(p1: str, p2: str, keys: Sequence[str]) -> dict:
    """Row and per-column counts a compare of ``p1`` and ``p2`` on the
    unique key ``keys`` must report."""
    con = duckdb.connect()
    try:
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{p1}'").fetchall()]
        vals = [c for c in cols if c not in keys]
        cond = " AND ".join(f"d1.{k} IS NOT DISTINCT FROM d2.{k}" for k in keys)
        pairs = ", ".join(f"d1.{c} AS {c}_1, d2.{c} AS {c}_2" for c in vals)
        both = "in1 AND in2"
        per_col = ", ".join(
            f"count(*) FILTER ({both} AND NOT {_match_sql(c, f'{c}_1', f'{c}_2')}) AS \"unequal.{c}\", "
            f"count(*) FILTER ({both} AND ({c}_1 IS NULL) <> ({c}_2 IS NULL)) AS \"nulldiff.{c}\""
            for c in vals
        )
        any_bad = " OR ".join(f"NOT {_match_sql(c, f'{c}_1', f'{c}_2')}" for c in vals)
        sql = f"""
WITH j AS (SELECT d1.{keys[0]} IS NOT NULL AS in1, d2.{keys[0]} IS NOT NULL AS in2, {pairs}
      FROM '{p1}' d1 FULL OUTER JOIN '{p2}' d2 ON {cond})
SELECT count(*) FILTER (in1) AS df1_rows, count(*) FILTER (in2) AS df2_rows,
  count(*) FILTER ({both}) AS common_rows,
  count(*) FILTER (in1 AND NOT in2) AS df1_unique,
  count(*) FILTER (in2 AND NOT in1) AS df2_unique,
  count(*) FILTER ({both} AND ({any_bad})) AS unequal_rows,
  {per_col}
FROM j"""
        cur = con.execute(sql)
        row = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    finally:
        con.close()
    out = {k: int(v) for k, v in row.items() if "." not in k}
    out["unequal"] = {k.split(".", 1)[1]: int(v) for k, v in row.items() if k.startswith("unequal.")}
    out["nulldiff"] = {k.split(".", 1)[1]: int(v) for k, v in row.items() if k.startswith("nulldiff.")}
    return out


def check_report(data, text: str, truth: dict) -> List[str]:
    """Problems in a ``ReportData`` and its rendered text against ``truth``."""
    rs = data.row_summary
    got = {
        "df1_rows": data.df1_shape[0],
        "df2_rows": data.df2_shape[0],
        "common_rows": rs.common_rows,
        "df1_unique": rs.df1_unique,
        "df2_unique": rs.df2_unique,
        "unequal_rows": rs.unequal_rows,
    }
    bad = [f"{k}: {got[k]} != {truth[k]}" for k in got if got[k] != truth[k]]
    if rs.equal_rows + rs.unequal_rows != truth["common_rows"]:
        bad.append("equal_rows + unequal_rows != common_rows")
    stats = {s.column: s for s in data.mismatch_stats.stats}
    for c, n in truth["unequal"].items():
        have = stats[c].unequal_cnt if c in stats else 0
        if have != n:
            bad.append(f"unequal[{c}]: {have} != {n}")
        if n and c in stats and "nulldiff" in truth and stats[c].null_diff != truth["nulldiff"][c]:
            bad.append(f"null_diff[{c}]: {stats[c].null_diff} != {truth['nulldiff'][c]}")
    n_sampled = sum(1 for n in truth["unequal"].values() if n)
    if len(data.mismatch_stats.samples) != n_sampled:
        bad.append(f"samples: {len(data.mismatch_stats.samples)} != {n_sampled}")
    if "DataComPy Comparison" not in text or f"{truth['common_rows']:,}" not in text:
        bad.append("rendered text lacks the header or the common row count")
    return bad


def check_checks(matches: bool, col_stats, n_mismatch: int, truth: dict) -> List[str]:
    """Problems in the check-API outputs against ``truth``."""
    want_match = (
        truth["df1_unique"] == 0 and truth["df2_unique"] == 0 and truth["unequal_rows"] == 0
    )
    bad = [] if matches == want_match else [f"matches(): {matches} != {want_match}"]
    if n_mismatch != truth["unequal_rows"]:
        bad.append(f"all_mismatch().count(): {n_mismatch} != {truth['unequal_rows']}")
    stats = {s["column"]: s for s in col_stats}
    for c, n in truth["unequal"].items():
        s = stats.get(c)
        if s is None or s["unequal_cnt"] != n or s["null_diff"] != truth["nulldiff"][c]:
            bad.append(f"column_stats[{c}] != unequal {n}, null_diff {truth['nulldiff'][c]}")
    # key columns the compare treats as values must match everywhere
    bad += [f"column_stats[{c}] has {s['unequal_cnt']} unequal" for c, s in stats.items()
            if c not in truth["unequal"] and s["unequal_cnt"]]
    return bad


# ------------------------------------------------------------ registry queries


def oracle_frames(data_dir: str, tables: Sequence[str], sql: Dict[str, str]) -> Dict[str, pd.DataFrame]:
    """Run each oracle query over the generated parquet files."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: canon(con.execute(q).df()) for name, q in sql.items()}
    finally:
        con.close()


def _hashable(v):
    if isinstance(v, np.ndarray):
        return tuple(v.tolist())
    if isinstance(v, list):
        return tuple(v)
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, cells made comparable, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = pd.DataFrame({c: df[c].map(_hashable) if df[c].dtype == object else df[c] for c in df.columns})
    return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.map(str))


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> List[str]:
    """Differences between a Spark result (raw) and a canonical oracle frame.
    Doubles may differ in the last place; everything else must be equal."""
    got = canon(got)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    bad = []
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = all(
                (pd.isna(x) and pd.isna(y))
                or (not pd.isna(x) and not pd.isna(y) and math.isclose(float(x), float(y), rel_tol=1e-12, abs_tol=1e-12))
                for x, y in zip(a, b)
            )
        else:
            ok = a.map(str).equals(b.map(str))
        if not ok:
            bad.append(f"values differ in column {c}")
    return bad
