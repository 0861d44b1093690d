"""Typed report data model + Jinja2 text/HTML/JSON rendering.

Parity target: capitalone/datacompy ``report.py:50-331`` (frozen dataclass
tree ``ColumnSummary / RowSummary / ColumnComparison / MismatchStat(s) /
UniqueRowsData / ReportData``), ``base.py:259-403`` (``build_report_data``),
``base.py:493-533`` (template resolution with ``.j2`` fallback), and
``base.py:540-646`` (``fixed_width_table`` layout engine). The default
template ``templates/report_template.j2`` reproduces the reference's report
format (``datacompy/templates/report_template.j2:1-97``) so rendered output
is line-comparable with real datacompy reports; ``fixed_width_table`` here is
an independent implementation of the same layout contract.

All rendering is pure driver-side Python; the only executor work is ONE
Spark action (``SparkCompare._report_samples``) that observes the statistics
when they are not known yet and takes every sample through one per-slot
top-n window. Samples are the first rows by join key, so output is
deterministic under AQE (deliberate deviation from the reference's unsorted
``limit`` noted in SURVEY §7.4).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass
from pathlib import Path
from typing import TYPE_CHECKING, Any, Dict, List, Optional, Sequence, Tuple

if TYPE_CHECKING:
    from datacompy_spark.operators.compare import SparkCompare

_TEMPLATE_DIR = Path(__file__).resolve().parent.parent / "templates"

#: spaces between adjacent report-table columns (ref ``base.py:541``)
TABLE_GUTTER = "  "


def fixed_width_table(
    headers: Sequence[str], rows: Sequence[Sequence[Any]], align: str = ""
) -> str:
    """Plain-text table: every column sized to its widest cell, two-space
    gutter, dash separator row, per-column ``l``/``r`` alignment, no trailing
    whitespace (layout contract of ref ``base.py:540-646``; exposed to
    templates under the same name)."""
    cells = [[str(v) for v in row] for row in rows]
    for i, row in enumerate(cells):
        if len(row) != len(headers):
            raise ValueError(
                f"row {i} has {len(row)} cells but there are {len(headers)} headers"
            )
    widths = [
        max([len(h)] + [len(r[i]) for r in cells]) for i, h in enumerate(headers)
    ]

    def fmt(row: Sequence[str]) -> str:
        out = []
        for i, (cell, w) in enumerate(zip(row, widths)):
            right = i < len(align) and align[i] == "r"
            out.append(cell.rjust(w) if right else cell.ljust(w))
        return TABLE_GUTTER.join(out).rstrip()

    lines = [fmt(list(headers)), TABLE_GUTTER.join("-" * w for w in widths)]
    lines += [fmt(row) for row in cells]
    return "\n".join(lines)


def _resolve_template(template_name: str) -> Tuple[str, str]:
    """(dir, filename) for a template ref: absolute path, or a name in the
    package templates dir, trying as-given / +``.j2`` / -``.j2``
    (ref ``base.py:493-533``)."""
    p = Path(template_name)
    if p.is_absolute():
        if not p.exists():
            raise FileNotFoundError(f"Template file not found: {p}")
        return str(p.parent), p.name
    full = _TEMPLATE_DIR / template_name
    if full.exists():
        return str(_TEMPLATE_DIR), template_name
    with_j2 = full.with_suffix(".j2")
    if with_j2.exists():
        return str(_TEMPLATE_DIR), with_j2.name
    if template_name.endswith(".j2") and full.with_suffix("").exists():
        return str(_TEMPLATE_DIR), full.with_suffix("").name
    raise FileNotFoundError(f"Template file not found: {template_name}")


def render_template(template_name: str, **context: Any) -> str:
    """Render a report template (ref ``base.py:612-646`` environment:
    trim/lstrip blocks, the ``do`` extension, ``fixed_width_table`` as a
    global, result stripped)."""
    import jinja2

    tdir, tfile = _resolve_template(template_name)
    env = jinja2.Environment(
        loader=jinja2.FileSystemLoader(tdir),
        autoescape=jinja2.select_autoescape(),
        trim_blocks=True,
        lstrip_blocks=True,
        extensions=["jinja2.ext.do"],
    )
    env.globals["fixed_width_table"] = fixed_width_table
    return env.get_template(tfile).render(**context).strip()


# --------------------------------------------------------------------- model
# Field-for-field the reference's typed contract (``report.py:50-331``) so a
# consumer reading ``data.row_summary.equal_rows`` or ``to_dict()`` output can
# switch engines without edits.


@dataclass(frozen=True)
class ColumnSummary:
    common_columns: int
    df1_unique: int
    df1_unique_columns: Tuple[str, ...]
    df2_unique: int
    df2_unique_columns: Tuple[str, ...]
    df1_name: str
    df2_name: str


@dataclass(frozen=True)
class RowSummary:
    match_columns: Tuple[str, ...]
    on_index: bool
    has_duplicates: bool
    abs_tol: Any
    rel_tol: Any
    common_rows: int
    df1_unique: int
    df2_unique: int
    unequal_rows: int
    equal_rows: int
    df1_name: str
    df2_name: str


@dataclass(frozen=True)
class ColumnComparison:
    unequal_columns: int
    equal_columns: int
    unequal_values: int


@dataclass(frozen=True)
class MismatchStat:
    column: str
    dtype1: str
    dtype2: str
    unequal_cnt: int
    max_diff: float
    null_diff: int
    rel_tol: float
    abs_tol: float


@dataclass(frozen=True)
class MismatchStats:
    has_mismatches: bool
    has_samples: bool
    stats: Tuple[MismatchStat, ...] = ()
    samples: Tuple[str, ...] = ()
    df1_name: str = ""
    df2_name: str = ""


@dataclass(frozen=True)
class UniqueRowsData:
    has_rows: bool
    rows: str = ""


@dataclass(frozen=True, repr=False)
class ReportData:
    df1_name: str
    df2_name: str
    df1_shape: Tuple[int, int]
    df2_shape: Tuple[int, int]
    column_count: int
    column_summary: ColumnSummary
    row_summary: RowSummary
    column_comparison: ColumnComparison
    mismatch_stats: MismatchStats
    df1_unique_rows: UniqueRowsData
    df2_unique_rows: UniqueRowsData

    def render(self, template_path: Optional[str] = None) -> str:
        """Text report via the default (reference-format) template or a
        custom one (ref ``report.py:262-280``)."""
        return render_template(
            template_path or "report_template.j2", **dataclasses.asdict(self)
        )

    def to_html(self, template_path: Optional[str] = None) -> str:
        """Text report in a ``<pre>`` block (ref ``report.py:282-299``)."""
        text = self.render(template_path)
        return (
            f"<html><head><title>DataComPy Report</title></head>"
            f"<body><pre>{text}</pre></body></html>"
        )

    def to_dict(self) -> Dict[str, Any]:
        return dataclasses.asdict(self)

    def to_json(self, **kwargs) -> str:
        return json.dumps(self.to_dict(), default=str, **kwargs)

    def save(self, path: str, fmt: str = "html", template_path: Optional[str] = None) -> None:
        """Write the report; ``fmt`` one of text/html/json (reference saves
        HTML only, ``report.py:301-315``; text/json kept from round 1)."""
        renderers = {
            "text": lambda: self.render(template_path),
            "html": lambda: self.to_html(template_path),
            "json": lambda: self.to_json(),
        }
        if fmt not in renderers:
            raise ValueError(f"unknown report format {fmt!r}")
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(renderers[fmt](), encoding="utf-8")

    def __str__(self) -> str:
        return self.render()

    def __repr__(self) -> str:
        return (
            f"ReportData(df1={self.df1_name!r}, df2={self.df2_name!r}, "
            f"shape1={self.df1_shape}, shape2={self.df2_shape})"
        )


# ------------------------------------------------------------------ builders


def build_report_data(
    cmp: "SparkCompare", sample_count: int = 10, column_count: int = 10
) -> ReportData:
    """Assemble the full report tree from a finished comparison
    (ref ``base.py:259-403``). One Spark action serves the whole report:
    the statistics (observed on it unless already known) and every sample;
    nothing is persisted."""
    mismatch_samples, unique_samples = cmp._report_samples(sample_count, column_count)
    n_both = cmp.intersect_rows_count
    matched = cmp.count_matching_rows()
    col_stats = cmp.column_stats
    join_cols = list(cmp.join_columns)

    df1_unq_cols = cmp.df1_unq_columns()
    df2_unq_cols = cmp.df2_unq_columns()
    column_summary = ColumnSummary(
        common_columns=len(cmp.intersect_columns()),
        df1_unique=len(df1_unq_cols),
        df1_unique_columns=tuple(df1_unq_cols),
        df2_unique=len(df2_unq_cols),
        df2_unique_columns=tuple(df2_unq_cols),
        df1_name=cmp.df1_name,
        df2_name=cmp.df2_name,
    )
    row_summary = RowSummary(
        match_columns=tuple(join_cols),
        on_index=False,  # no Spark analogue (SURVEY §7.4)
        has_duplicates=cmp.has_duplicates,
        abs_tol=cmp.abs_tol_input,
        rel_tol=cmp.rel_tol_input,
        common_rows=n_both,
        df1_unique=cmp.df1_unq_rows_count,
        df2_unique=cmp.df2_unq_rows_count,
        unequal_rows=n_both - matched,
        equal_rows=matched,
        df1_name=cmp.df1_name,
        df2_name=cmp.df2_name,
    )
    column_comparison = ColumnComparison(
        unequal_columns=len([c for c in col_stats if c["unequal_cnt"] > 0]),
        equal_columns=len([c for c in col_stats if c["unequal_cnt"] == 0]),
        unequal_values=sum(c["unequal_cnt"] for c in col_stats),
    )

    stat_list: List[MismatchStat] = []
    samples: List[str] = []
    for c in col_stats:
        if not c["all_match"]:
            stat_list.append(
                MismatchStat(
                    column=c["column"],
                    dtype1=c["dtype1"],
                    dtype2=c["dtype2"],
                    unequal_cnt=c["unequal_cnt"],
                    max_diff=c["max_diff"],
                    null_diff=c["null_diff"],
                    rel_tol=c["rel_tol"],
                    abs_tol=c["abs_tol"],
                )
            )
            if c["unequal_cnt"] > 0 and sample_count > 0:
                samples.append(mismatch_samples[c["column"]].to_string())

    def unique_rows(side: str, unq_count: int) -> UniqueRowsData:
        if min(sample_count, unq_count) <= 0:
            return UniqueRowsData(has_rows=False)
        return UniqueRowsData(has_rows=True, rows=unique_samples[side].to_string())

    df1_unique_rows = unique_rows("df1", cmp.df1_unq_rows_count)
    df2_unique_rows = unique_rows("df2", cmp.df2_unq_rows_count)
    if stat_list:
        mismatch_stats = MismatchStats(
            has_mismatches=True,
            has_samples=len(samples) > 0 and sample_count > 0,
            stats=tuple(sorted(stat_list, key=lambda s: s.column)),
            samples=tuple(samples),
            df1_name=cmp.df1_name,
            df2_name=cmp.df2_name,
        )
    else:
        mismatch_stats = MismatchStats(has_mismatches=False, has_samples=False)

    return ReportData(
        df1_name=cmp.df1_name,
        df2_name=cmp.df2_name,
        df1_shape=(cmp.df1_row_count, len(cmp.df1.columns)),
        df2_shape=(cmp.df2_row_count, len(cmp.df2.columns)),
        column_count=column_count,
        column_summary=column_summary,
        row_summary=row_summary,
        column_comparison=column_comparison,
        mismatch_stats=mismatch_stats,
        df1_unique_rows=df1_unique_rows,
        df2_unique_rows=df2_unique_rows,
    )
