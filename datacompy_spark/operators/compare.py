"""SparkCompare — the core DataFrame comparison engine.

Semantics parity target: capitalone/datacompy ``spark.py`` (SparkSQLCompare).
Architecture is deliberately NOT a port:

* The null-safe full outer join (ref ``spark.py:450-466``, built as a SQL
  string over temp views) is a DataFrame join — Catalyst plans it as a
  sort-merge join and AQE may convert to broadcast. Duplicate-key
  compares materialize the null-safe key as ``coalesce(k, default)`` and
  ``isnull(k)`` columns that both the pairing window and the join use, so
  each side is shuffled once.
* Every expression the compare builds — key lowering, ordinal window,
  renames, join condition, match predicates, statistics aggregates,
  filters, report sample tags — is Spark SQL text, applied with one
  ``selectExpr``, ``withColumns`` or ``filter`` per projection. The JVM
  parses each string once, where a tree of ``Column`` calls would cost a
  py4j round trip per node. Identifiers are backtick-quoted, so any
  column name works.
* ALL statistics — left/right/both row classes, per-column match counts,
  null diffs, max diffs, all-match row count (ref ``spark.py:573-636``, which
  runs 2N+1 separate actions) — fold into ONE set of aggregates observed on
  one pass over the join: the report's sample action, or the ``noop``
  write that populates the exceptions cache. At 100 TB this is the
  difference between one pass over the data and dozens.
* A report is ONE Spark action: the statistics ride it as ``observe``
  metrics and every sample (each mismatching column's, each side's unique
  rows) comes out of one per-slot top-n window. It persists nothing.
* Statistics are computed on first access and memoized; a statistics read
  outside a report persists the diff. Every persist goes through
  ``plans.cache.tracked_persist``, so ``scope()`` and ``release_caches()``
  release it like any operator's; ``uncache()`` releases one compare's.
  The derived frames (``intersect_rows``/``df1_unq_rows``/``df2_unq_rows``)
  stay lazy DataFrames (never collected unless the caller asks).

Scale design notes (local[32] test, 1000-executor target):
* single full-outer shuffle on the join keys; AQE handles skew/broadcast;
* the observed statistics are partial (map-side) aggregates → single-row
  result: driver memory is O(columns), never O(rows);
* report samples are bounded per slot by a partial window top-n ahead of
  one small exchange, before anything reaches the driver.
"""

from __future__ import annotations

import logging
import math
from functools import cached_property
from typing import Any, Callable, Dict, List, Mapping, Optional, Sequence, Tuple, TypedDict, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacompy_spark.functions.comparators import (
    BaseComparator,
    match_predicate,
    quote,
    sql_cast,
    sql_string,
    try_double,
    _NUMERIC_TYPES,
    _STRING_TYPES,
    _TEMPORAL_TYPES,
)
from datacompy_spark.plans.cache import tracked_persist

LOG = logging.getLogger(__name__)

#: accepted input frame types: classic plus Spark Connect DataFrames
#: (ref ``spark.py:290-295`` accepts both; the Connect class only exists
#: when the connect extras are installed, hence the guard)
try:  # pragma: no cover - depends on the pyspark build
    from pyspark.sql.connect.dataframe import DataFrame as _ConnectDataFrame

    _DATAFRAME_TYPES: tuple = (DataFrame, _ConnectDataFrame)
except Exception:  # pragma: no cover
    _DATAFRAME_TYPES = (DataFrame,)

MASK_VALUE = "*******"  # ref ``spark.py:246`` sensitive-column replacement

#: Hot-join-key advisory threshold (r13 verdict item 3). AQE's
#: OptimizeSkewedJoin never splits a FULL OUTER join (verified with an
#: engaged inner-join control at the same thresholds — SCALING.md r13
#: §hot-key), so every row of one join-key value lands on ONE task at any
#: cluster size, and the default range-pair ordinal residual is O(k²)
#: inside that task. Below ~10⁴ rows per key both effects are noise;
#: above, the single task becomes the straggler that dominates the stage.
#: When the single statistics pass observes a key at/over this threshold
#: on either side, the engine logs a loud warning naming the
#: ``dup_join_on_ordinal=True`` re-key (uniform by construction, linear
#: in k) as the mitigation. Advisory only — results are identical either
#: way, and uniform-key compares never reach it.
HOT_KEY_WARN_THRESHOLD = 10_000


def consistent_key_sample(
    df: DataFrame,
    join_columns: Sequence[str],
    fraction: float,
    seed: str = "sample#1",
) -> DataFrame:
    """Deterministic key-hash sample: keeps a row iff the md5 of its join
    key lands under ``fraction`` of the hash space. Applied to BOTH sides
    of a comparison, the same keys survive on each side, so the sampled
    compare is a true sub-compare — mismatch/unique-row RATES estimate the
    full run's (row counts scale by ``fraction``). The 100 TB smoke-diff:
    validate on 1% of key space in 1% of the time before committing to the
    full pass. Narrow filter, pushed to the scan; no shuffle."""
    key = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in join_columns]
    )
    bucket = F.conv(F.substring(F.md5(F.concat(key, F.lit(f"#{seed}"))), 1, 15), 16, 10).cast(
        "long"
    ) % 10000
    return df.filter(bucket < int(round(fraction * 10000)))


class ColumnStat(TypedDict):
    """Per-column statistics contract (ref ``base.py:40-53``)."""

    column: str
    match_column: str
    match_cnt: int
    unequal_cnt: int
    dtype1: str
    dtype2: str
    all_match: bool
    max_diff: float
    null_diff: int
    rel_tol: float
    abs_tol: float


Tolerance = Union[int, float, Mapping[str, float]]


def _null_key_default(dt: T.DataType) -> Optional[str]:
    """A non-null SQL literal of ``dt`` for the lowered null-safe join key
    ``coalesce(k, default)``; None for key types without one here, which
    keep ``<=>``. Any value of the type works: ``isnull(k)`` rides next to
    it, so a NULL key never pairs with a real key equal to the default."""
    if isinstance(dt, _NUMERIC_TYPES):
        return sql_cast("0", dt)
    if isinstance(dt, _STRING_TYPES):
        return "''"
    if isinstance(dt, T.BooleanType):
        return "false"
    if isinstance(dt, _TEMPORAL_TYPES):
        return sql_cast("'1970-01-01'", dt)
    return None


def _ordered_unique(items: Sequence[str]) -> List[str]:
    """Insertion-ordered dedup (ref uses OrderedSet, ``spark.py:365-375``)."""
    seen = set()
    out = []
    for it in items:
        if it not in seen:
            seen.add(it)
            out.append(it)
    return out


def normalize_tolerance(tol: Tolerance, columns: Sequence[str], lower: bool) -> Dict[str, float]:
    """Resolve a scalar-or-dict tolerance spec to per-column floats.

    Parity: ref ``base.py:737-829`` — dict form requires a ``"default"`` key
    semantics via fallback 0; keys are case-folded when column names are.
    """
    if isinstance(tol, (int, float)):
        if math.isnan(tol):
            # NaN fails every <= test: each non-identical value would be a
            # silent mismatch
            raise ValueError(f"tolerance for columns {list(columns)} is NaN")
        if tol < 0:
            raise ValueError("tolerance must be non-negative")
        return {c: float(tol) for c in columns}
    if not isinstance(tol, Mapping):
        raise TypeError(f"tolerance must be a number or a dict, got {type(tol)}")
    folded = {(k.lower() if lower else k): float(v) for k, v in tol.items()}
    for k, v in folded.items():
        if math.isnan(v):
            raise ValueError(f"tolerance for column {k!r} is NaN")
        if v < 0:
            raise ValueError("tolerance must be non-negative")
    unknown = [k for k in folded if k != "default" and k not in columns]
    if unknown:
        # a silently-ignored misspelled column would loosen nothing and the
        # user would never know (ref base.py:758-829 validates likewise)
        raise ValueError(f"tolerance dict names unknown columns: {unknown}")
    default = folded.get("default", 0.0)
    return {c: folded.get(c, default) for c in columns}


#: a sample slot's layout: (source column, display name) pairs
SlotLayout = List[Tuple[str, str]]


def _to_pandas_by_slot(
    df: DataFrame, slot: str, rank: str, layouts: Sequence[SlotLayout]
) -> List[Any]:
    """Collect ``df`` in ONE action and split it on the driver: frame ``i``
    is exactly what ``toPandas()`` returns for ``df.filter(slot == i)``
    ordered by ``rank``, projected to layout ``i`` and renamed to its
    display names. Each frame is converted on its own, the way ``toPandas``
    converts (Arrow or row path per the session's Arrow setting; Spark
    Connect always Arrow), so every column's pandas dtype is inferred from
    that slot's rows alone: an int column with nulls only in another slot's
    rows still converts as int. The Arrow route falls back to rows as a
    whole when any collected column has no Arrow type and fallback is on."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

    fields = {f.name: f for f in df.schema.fields}
    conf = df.sparkSession.conf
    timezone = conf.get("spark.sql.session.timeZone")
    struct_mode = conf.get("spark.sql.execution.pandas.structHandlingMode", "legacy")
    connect = not hasattr(df, "_jdf")
    use_arrow = connect or df.sparkSession._jconf.arrowPySparkEnabled()
    if use_arrow and not connect:
        jconf = df.sparkSession._jconf
        try:
            to_arrow_schema(df.schema, prefers_large_types=jconf.arrowUseLargeVarTypes())
        except Exception:
            if not jconf.arrowPySparkFallbackEnabled():
                raise
            use_arrow = False

    def convert(pdf, layout: SlotLayout, **kw):
        if len(pdf.columns) == 0:
            return pdf
        return pd.concat(
            [
                _create_converter_to_pandas(
                    fields[src].dataType, fields[src].nullable, timezone=timezone, **kw
                )(pser)
                for (_, pser), (src, _) in zip(pdf.items(), layout)
            ],
            axis="columns",
        )

    out = []
    if use_arrow:
        legacy = struct_mode == "legacy"
        kw = dict(
            struct_in_pandas="dict" if legacy else struct_mode,
            error_on_duplicated_field_names=legacy,
        )
        if connect:
            table = df.toArrow()
            options = {"coerce_temporal_nanoseconds": True}
        else:
            batches = df._collect_as_arrow()
            table = pa.Table.from_batches(batches) if batches else None
            options = {"date_as_object": True, "coerce_temporal_nanoseconds": True}
        for i, layout in enumerate(layouts):
            names = [d for _, d in layout]
            part = None
            if table is not None and table.num_rows:
                part = table.filter(pc.equal(table[slot], i))
            if part is None or part.num_rows == 0:
                pdf = pd.DataFrame(columns=names)  # toPandas' own empty result
            else:
                part = part.sort_by(rank).select([s for s, _ in layout])
                pdf = part.rename_columns(
                    [f"col_{j}" for j in range(part.num_columns)]
                ).to_pandas(**options)
                pdf.columns = names
            out.append(convert(pdf, layout, **kw))
        return out

    rows_by_slot: Dict[int, list] = {}
    for r in df.collect():
        rows_by_slot.setdefault(r[slot], []).append(r)
    kw = dict(
        struct_in_pandas="row" if struct_mode == "legacy" else struct_mode,
        error_on_duplicated_field_names=False,
        timestamp_utc_localized=False,
    )
    for i, layout in enumerate(layouts):
        names = [d for _, d in layout]
        rows = sorted(rows_by_slot.get(i, []), key=lambda r: r[rank])
        if rows:
            records = [tuple(r[s] for s, _ in layout) for r in rows]
            pdf = pd.DataFrame.from_records(records, index=range(len(rows)), columns=names)
        else:
            pdf = pd.DataFrame(columns=names)
        out.append(convert(pdf, layout, **kw))
    return out


class SparkCompare:
    """Compare two Spark DataFrames joined on one or more key columns.

    Public API parity: ref ``spark.py:132-189`` constructor and the method
    surface of ``base.py:121-212`` (matches/subset/all_mismatch/
    sample_mismatch/report/...).

    Parameters mirror the reference: ``abs_tol``/``rel_tol`` accept a float or
    a per-column dict with a ``"default"`` key; ``ignore_spaces`` trims string
    values AND string join keys; ``ignore_case`` upper-cases compared string
    values (never join keys); ``cast_column_names_lower`` lower-cases all
    column names first (ref ``spark.py:161-173``).

    ``dup_order_by`` (extension): explicit ordering columns for duplicate-key
    ordinal pairing. The reference orders duplicates by
    ``monotonically_increasing_id`` (``spark.py:392-407``) which is
    partition-dependent; passing a deterministic ordering makes results
    reproducible across runs/cluster layouts.

    ``dup_join_on_ordinal`` (extension, hot-key escape hatch): by default
    the pairing ordinal enters the join as a range-pair residual condition
    (``o1 <= o2 AND o1 >= o2``) so the sort-merge join reuses the ordinal
    window's key partitioning — optimal for ordinary duplication (a few
    rows per key), but the residual is evaluated per key-group PAIR, i.e.
    O(k²) inside one task for a key duplicated k times. With a genuinely
    hot key (k ≳ 10⁴; AQE's skew split cannot help a FULL OUTER join) set
    this True: the ordinal becomes a real equi-join key, the hot key's
    rows spread across (key, ordinal) hash partitions, and the join is
    linear in k at the cost of one extra exchange per side. Same results
    either way — measured in SCALING.md §hot-key. The engine detects the
    condition itself: when the statistics pass observes a key at/over
    :data:`HOT_KEY_WARN_THRESHOLD` rows in the default mode it logs a
    warning naming this flag (see :meth:`_warn_if_hot_key`).
    """

    def __init__(
        self,
        spark: SparkSession,
        df1: DataFrame,
        df2: DataFrame,
        join_columns: Union[str, Sequence[str]],
        abs_tol: Tolerance = 0,
        rel_tol: Tolerance = 0,
        df1_name: str = "df1",
        df2_name: str = "df2",
        ignore_spaces: bool = False,
        ignore_case: bool = False,
        cast_column_names_lower: bool = True,
        custom_comparators: Optional[Sequence[BaseComparator]] = None,
        cache_intermediates: bool = False,
        dup_order_by: Optional[Sequence[str]] = None,
        assume_unique: bool = False,
        null_safe_join: bool = True,
        dup_join_on_ordinal: bool = False,
    ) -> None:
        self.spark = spark
        if df1_name == df2_name:
            raise ValueError("df1_name and df2_name must differ")
        self.df1_name = df1_name
        self.df2_name = df2_name
        self.ignore_spaces = ignore_spaces
        self.ignore_case = ignore_case
        self.cast_column_names_lower = cast_column_names_lower
        self.custom_comparators = list(custom_comparators or [])
        self.cache_intermediates = cache_intermediates
        self.assume_unique = assume_unique
        self.null_safe_join = null_safe_join
        self.dup_join_on_ordinal = dup_join_on_ordinal

        if isinstance(join_columns, (str, int, float)):
            join_columns = [str(join_columns)]
        self.join_columns = [
            str(c).lower() if cast_column_names_lower else str(c) for c in join_columns
        ]
        if not self.join_columns:
            raise ValueError("join_columns may not be empty")

        self.df1 = self._prep_df(df1, "df1")
        self.df2 = self._prep_df(df2, "df2")
        self._n = self._internal_names()

        self._dup_order_by = list(dup_order_by or [])
        # raw inputs kept for report display: the reference prints the
        # user-supplied scalar/dict verbatim (report.py:113-119)
        self.abs_tol_input = abs_tol
        self.rel_tol_input = rel_tol
        self.abs_tol = normalize_tolerance(
            abs_tol, self._compare_columns, cast_column_names_lower
        )
        self.rel_tol = normalize_tolerance(
            rel_tol, self._compare_columns, cast_column_names_lower
        )
        self._masked_columns: List[str] = []
        self._build()

    # ------------------------------------------------------------------ setup

    def _prep_df(self, df: DataFrame, which: str) -> DataFrame:
        if not isinstance(df, _DATAFRAME_TYPES):
            raise TypeError(
                f"{which} must be a pyspark.sql.DataFrame or "
                f"pyspark.sql.connect.dataframe.DataFrame, got {type(df)}"
            )
        if self.cast_column_names_lower:
            df = df.toDF(*[c.lower() for c in df.columns])
        if len(set(df.columns)) != len(df.columns):
            raise ValueError(f"{which} has duplicate column names after case folding")
        # columns differing only by case (ref tests/test_spark.py:2849):
        # even with lower-casing off, Spark's default case-INsensitive
        # resolver cannot reference them (AMBIGUOUS_REFERENCE mid-join) —
        # fail up front with an actionable message instead
        folded = [c.lower() for c in df.columns]
        if len(set(folded)) != len(folded) and (
            str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower()
            != "true"
        ):
            dupes = sorted({c for c in folded if folded.count(c) > 1})
            raise ValueError(
                f"{which} has columns differing only by case ({dupes}); "
                "enable spark.sql.caseSensitive or rename them before comparing"
            )
        missing = [c for c in self.join_columns if c not in df.columns]
        if missing:
            raise ValueError(f"{which} is missing join columns: {missing}")
        return df

    def _internal_names(self) -> Dict[str, str]:
        """Collision-proof engine-internal column names — the Spark analog
        of the reference's ``temp_column_name`` probe (``base.py:649-672``):
        the default names (``__dc_ordinal``, ``__present_lhs``, ``_merge``,
        …) are used unless an input column could collide, in which case a
        numbered variant is probed until free. Inputs may therefore own
        columns literally named ``_merge`` or ``__dc_ordinal`` — they are
        treated as ordinary compared data, never silently overwritten."""
        # probe case-INsensitively: Spark's default resolver folds case, so
        # a user column `_Merge` collides with the indicator alias `_merge`
        # (AMBIGUOUS_REFERENCE) even though the exact strings differ
        cols = {c.lower() for c in self.df1.columns} | {
            c.lower() for c in self.df2.columns
        }
        # ALSO probe the post-suffix forms each input column will take after
        # the internal rename: with df1_name="lhs" a user column `__present`
        # becomes `__present_lhs`, which would collide with the presence
        # marker added AFTER suffixing — so collisions must be checked
        # against what the columns are named at marker-attach time, not
        # just their raw input names
        join_lc = {j.lower() for j in self.join_columns}
        suffixed = set()
        for c in cols:
            if c in join_lc:
                suffixed.update((f"{c}__lhs", f"{c}__rhs"))
            else:
                suffixed.update(
                    (
                        f"{c}_{self.df1_name.lower()}",
                        f"{c}_{self.df2_name.lower()}",
                    )
                )
        cols |= suffixed
        t = 0
        while True:
            tag = "" if t == 0 else str(t + 1)
            names = {
                "idx": f"__dc{tag}_idx",
                "ordinal": f"__dc{tag}_ordinal",
                "present_lhs": f"__present{tag}_lhs",
                "present_rhs": f"__present{tag}_rhs",
                "merge": f"_merge{tag}",
                "ord": f"__dc{tag}_ord",
                "key": f"__dc{tag}_key",
                "slot": f"__dc{tag}_slot",
                "rank": f"__dc{tag}_rank",
            }
            # candidates include the join-suffixed forms of the ordinal and
            # the lowered keys — a join column named `__dc_ordinal__lhs`
            # would otherwise collide
            suffixable = [names["ordinal"], *self._lowered_key_names(names)]
            candidates = (
                set(names.values())
                | set(suffixable)
                | {f"{c}__{t}" for c in suffixable for t in ("lhs", "rhs")}
            )
            if not cols & candidates:
                return names
            t += 1

    def _lowered_key_names(self, names: Dict[str, str]) -> List[str]:
        """Names of the materialized null-safe join keys: one
        ``coalesce(k, default)`` and one ``isnull(k)`` column per join key."""
        return [
            f"{names['key']}{part}{i}"
            for i in range(len(self.join_columns))
            for part in ("c", "n")
        ]

    @property
    def _intersect_columns(self) -> List[str]:
        """Columns present in both frames, in df1 order (ref ``spark.py:365-375``)."""
        cols2 = set(self.df2.columns)
        return [c for c in self.df1.columns if c in cols2]

    @property
    def _compare_columns(self) -> List[str]:
        return [c for c in self._intersect_columns if c not in self.join_columns]

    def intersect_columns(self) -> List[str]:
        return self._intersect_columns

    def df1_unq_columns(self) -> List[str]:
        cols2 = set(self.df2.columns)
        return [c for c in self.df1.columns if c not in cols2]

    def df2_unq_columns(self) -> List[str]:
        cols1 = set(self.df1.columns)
        return [c for c in self.df2.columns if c not in cols1]

    # ---------------------------------------------------------------- the plan

    def _key_value(self, name: str, dt: T.DataType) -> str:
        """The join-key value, as SQL text, that both the pairing window and
        the join compare: string keys are trimmed under ``ignore_spaces`` but
        never case-folded (ref ``spark.py:416-427``). The trim is decided per
        side, by that side's own dtype — the two frames may declare different
        dtypes for the same key."""
        if self.ignore_spaces and isinstance(dt, _STRING_TYPES):
            return f"trim({quote(name)})"
        return quote(name)

    def _side(self, df: DataFrame, tag: str, public: str, lowered: Sequence[str]) -> DataFrame:
        """One side of the join: every column renamed, plus the presence
        marker, in one projection. A paired compare adds the pairing ordinal
        in a window projection below it, and the lowered keys and the
        ordering id in one more below that.

        Renames are atomic, NOT ``withColumnsRenamed``: that API folds its
        mapping sequentially, so a frame holding both ``v`` and ``v_df1``
        double-renames the freshly-suffixed ``v`` and the join dies with
        AMBIGUOUS_REFERENCE. One projection applies every rename against the
        ORIGINAL names (matching the reference's pandas-merge suffixing:
        ``v -> v_df1``, ``v_df1 -> v_df1_df1``). Join keys, the lowered keys
        and the ordinal get engine-private ``__lhs``/``__rhs`` suffixes;
        value columns the public ``{col}_{df_name}`` (ref
        ``spark.py:429-448``).

        The ordinal is 0-based per key, so the k-th duplicate on the left
        pairs with the k-th on the right (ref ``spark.py:386-412,1114-1170``).
        Its window partitions by the key values the join compares (trimmed
        under ``ignore_spaces``), so rows the join treats as one key share
        one ordinal sequence. With ``lowered`` names, each null-safe key is
        first materialized as ``coalesce(k, default)`` and ``isnull(k)``
        columns: the window partitions by those and the join equates them,
        so the join reuses the window's partitioning and ordering. The
        reference string-casts keys and substitutes a ``'DATACOMPY_NULL'``
        sentinel for NULLs before grouping (``spark.py:1136-1147``); Spark
        windows already treat NULL as an ordinary partition value, so no
        sentinel (and no sentinel-collision probe) is needed here."""
        cols = list(df.columns)
        if not self.assume_unique:
            dtypes = [df.schema[c].dataType for c in self.join_columns]
            keys = [self._key_value(c, dt) for c, dt in zip(self.join_columns, dtypes)]
            pre = []
            if lowered:
                for i, (k, dt) in enumerate(zip(keys, dtypes)):
                    pre.append(f"coalesce({k}, {_null_key_default(dt)}) AS {quote(lowered[2 * i])}")
                    pre.append(f"isnull({k}) AS {quote(lowered[2 * i + 1])}")
                cols += lowered
                keys = [quote(n) for n in lowered]
            if self._dup_order_by:
                order = [quote(c) for c in self._dup_order_by]
            else:
                pre.append(f"monotonically_increasing_id() AS {quote(self._n['idx'])}")
                order = [quote(self._n["idx"])]
            if pre:
                df = df.selectExpr("*", *pre)
            # the window gets a projection of its own: renames next to it
            # would be pushed below the Window, a Project the optimizer
            # cannot fold away. The renames drop the ordering id.
            window = f"PARTITION BY {', '.join(keys)} ORDER BY {', '.join(order)}"
            df = df.selectExpr(
                "*", f"row_number() OVER ({window}) - 1 AS {quote(self._n['ordinal'])}"
            )
            cols.append(self._n["ordinal"])

        engine_keys = {*self.join_columns, self._n["ordinal"], *lowered}

        def renamed(c: str) -> str:
            new = f"{c}__{tag}" if c in engine_keys else f"{c}_{public}"
            return f"{quote(c)} AS {quote(new)}"

        return df.selectExpr(
            *map(renamed, cols), f"true AS {quote(self._n['present_' + tag])}"
        )

    def _build(self) -> None:
        """Assemble the (lazy) comparison plan: each side (:meth:`_side`),
        the join, and two projections after it — the restored keys, merge
        indicator and ``__dc_ord``, then the match predicates. Every
        expression is Spark SQL text (a custom comparator may return a
        Column), applied with ``selectExpr`` or ``withColumns``.

        Scale design vs the reference (``spark.py:328-412``): the reference
        runs a duplicate-key probe (two counts per side = extra shuffles +
        driver barriers) and only then decides whether to attach pairing
        ordinals. Here the ordinal is ALWAYS attached — for unique keys it is
        0 everywhere and the join is unchanged — and duplicate presence falls
        out of the single statistics pass. Crucially the ordinal enters
        the join as a range-pair condition (``o1 <= o2 AND o1 >= o2``) rather
        than an equality, which keeps it OUT of the hash-partitioning keys,
        and the window partitions by exactly the join's keys (for nullable
        keys: the materialized ``coalesce(k, default)``/``isnull(k)``
        columns the join equates): the sort-merge join reuses the window's
        partitioning and ordering instead of re-shuffling. Net cost of
        dup-safety: one in-partition sort, zero extra shuffles, zero extra
        actions. ``assume_unique=True`` skips the ordinal entirely (caller
        guarantees key uniqueness)."""
        n1, n2 = self.df1_name, self.df2_name
        ordinal = self._n["ordinal"]
        pl, pr = quote(self._n["present_lhs"]), quote(self._n["present_rhs"])

        # Null-safe equality is the reference semantic (null keys pair
        # with null keys, spark.py:429-448) but its physical form —
        # (coalesce(k, 0), isnull(k)) join keys — disqualifies bucketed
        # scans. With null_safe_join=False the caller asserts keys are never
        # null; and when EVERY join key is declared non-nullable on BOTH
        # schemas the two predicates are provably equivalent, so the
        # lowering is auto-selected — same results, cheaper plan.
        keys_provably_non_null = all(
            (not self.df1.schema[c].nullable) and (not self.df2.schema[c].nullable)
            for c in self.join_columns
        )
        use_null_safe = self.null_safe_join and not keys_provably_non_null

        paired = not self.assume_unique
        # A paired null-safe compare lowers the null-safe keys itself, below
        # the ordinal window, so the window and the join share one key
        # partitioning (one exchange and one sort per side, not two of
        # each). Only when both sides declare the same key dtypes: mixed
        # dtypes keep <=> and its implicit coercion.
        lowered: List[str] = []
        if (
            paired
            and use_null_safe
            and all(
                self.df1.schema[c].dataType == self.df2.schema[c].dataType
                and _null_key_default(self.df1.schema[c].dataType) is not None
                for c in self.join_columns
            )
        ):
            lowered = self._lowered_key_names(self._n)
        left = self._side(self.df1, "lhs", n1, lowered)
        right = self._side(self.df2, "rhs", n2, lowered)

        # the suffixed names are unique across the sides, so the condition
        # needs no side-qualified references
        if lowered:
            conds = [f"{quote(n + '__lhs')} = {quote(n + '__rhs')}" for n in lowered]
        else:
            eq = "<=>" if use_null_safe else "="
            conds = [
                f"{self._key_value(c + '__lhs', self.df1.schema[c].dataType)} {eq} "
                f"{self._key_value(c + '__rhs', self.df2.schema[c].dataType)}"
                for c in self.join_columns
            ]
        if paired:
            ol, orr = quote(f"{ordinal}__lhs"), quote(f"{ordinal}__rhs")
            if self.dup_join_on_ordinal:
                # plain equality: Catalyst's ExtractEquiJoinKeys lifts it
                # into the hash keys — hot keys fan out, extra exchange
                conds.append(f"{ol} = {orr}")
            else:
                # range-pair keeps the ordinal OUT of the hash keys so the
                # join reuses the window's partitioning (zero extra
                # exchanges); per-key residual cost is O(dups²)
                conds += [f"{ol} <= {orr}", f"{ol} >= {orr}"]
        outer = left.join(right, on=F.expr(" AND ".join(conds)), how="full_outer")

        values = [
            f"{c}_{public}"
            for df, public in ((self.df1, n1), (self.df2, n2))
            for c in df.columns
            if c not in self.join_columns
        ]
        merge = (
            f"CASE WHEN {pr} IS NULL THEN 'left_only' "
            f"WHEN {pl} IS NULL THEN 'right_only' ELSE 'both' END"
        )
        if paired:
            # max pairing ordinal → duplicate detection, for free in the stats agg
            ord_expr = f"greatest(coalesce({ol}, 0), coalesce({orr}, 0))"
        else:
            ord_expr = "0"
        outer = outer.selectExpr(
            *[
                f"CASE WHEN {pl} IS NOT NULL THEN {quote(c + '__lhs')} "
                f"ELSE {quote(c + '__rhs')} END AS {quote(c)}"
                for c in self.join_columns
            ],
            *[quote(c) for c in values],
            f"{merge} AS {quote(self._n['merge'])}",
            f"{ord_expr} AS {quote(self._n['ord'])}",
        )

        # Per-column match predicates, all attached in one projection (ref
        # ``spark.py:549-570``). A custom comparator's Column claim is the
        # only expression attached as a Column.
        not_both = f"{quote(self._n['merge'])} != 'both'"
        matches: Dict[str, Union[str, Column]] = {}
        for c in self._compare_columns:
            pred = match_predicate(
                outer,
                f"{c}_{n1}",
                f"{c}_{n2}",
                rel_tol=self.rel_tol[c],
                abs_tol=self.abs_tol[c],
                ignore_spaces=self.ignore_spaces,
                ignore_case=self.ignore_case,
                comparators=self.custom_comparators,
            )
            if isinstance(pred, str):
                matches[f"{c}_match"] = (
                    f"CASE WHEN {not_both} THEN CAST(NULL AS BOOLEAN) ELSE {pred} END"
                )
            else:
                matches[f"{c}_match"] = F.when(
                    F.expr(not_both), F.lit(None).cast("boolean")
                ).otherwise(pred)
        # one projection; withColumns replaces a column of the same name
        outer = outer.withColumns(
            {m: F.expr(e) if isinstance(e, str) else e for m, e in matches.items()}
        )
        if self.cache_intermediates:
            outer = tracked_persist(outer)
        self._outer = outer

    def _ensure_cached(self) -> None:
        """Materialize the exceptions cache, ``self._exceptions``: the
        persisted *diff*, rows that are unique to one side or have at least
        one mismatching column. Mismatch extraction and repeated derived-frame
        reads make several passes — but only ever over these rows, so this
        is what gets persisted. At scale the diff is normally a tiny fraction
        of the join (the reference caches the full intersect frame instead,
        ``spark.py:532-537``). A report alone never calls this: it takes
        its statistics and samples in one pass (:meth:`_report_samples`).

        The statistics ride the same pass: when they are not known yet,
        their aggregates attach to the cache-populate action as
        ``DataFrame.observe`` metrics (SURVEY §2.4 — two ops over the same
        frame share one pass). Every outer-join row flows through the
        CollectMetrics node on its way into the exceptions filter, so the
        observed aggregates see every row of the join. Any statistics read
        therefore persists the diff, owned by the current
        ``plans.cache`` owner: :func:`~datacompy_spark.plans.cache.scope`,
        ``release_caches()`` or :meth:`uncache` releases it.

        The populate action is a ``noop`` write: it runs the cache-build
        stage and nothing else. ``count()`` on the persisted frame would add
        a count job with its own small exchange under AQE.

        Both memos are set only after the populate action succeeds; on
        failure the half-populated cache is released and the error
        propagates."""
        if "_exceptions" in self.__dict__:
            return

        def populate(diff: DataFrame) -> DataFrame:
            exc = tracked_persist(diff)
            try:
                # populate the cache; metrics collect in-flight
                exc.write.format("noop").mode("overwrite").save()
            except BaseException:
                exc.unpersist(blocking=True)
                raise
            return exc

        self._exceptions = self._diff_pass(populate)
        self._drop_unq_row_memos()

    def _diff_pass(self, action: Callable[[DataFrame], Any]) -> Any:
        """Run ``action`` over the diff of the outer join — rows unique to
        one side or with at least one mismatching column — and return its
        result. When the statistics are not known yet, their aggregates
        ride the same action as ``observe`` metrics and are memoized (with
        the hot-key advisory) once it succeeds."""
        src, obs = self._outer, None
        if "_stats" not in self.__dict__:
            from pyspark.sql import Observation

            obs = Observation()
            src = src.observe(obs, *self._stat_aggs())
        pred = f"({quote(self._n['merge'])} != 'both') OR ({self._any_mismatch_pred()})"
        out = action(src.filter(pred))
        if obs is not None:
            stats = {k: (0 if v is None else v) for k, v in obs.get.items()}
            self._warn_if_hot_key(stats)
            self.__dict__["_stats"] = stats
        return out

    def _drop_unq_row_memos(self) -> None:
        """Forget unique-row frames memoized BEFORE the exceptions cache
        existed: a standalone ``df1_unq_rows`` access binds to the raw
        outer join (prunable — the right choice without a cache), but once
        the persisted diff exists every later read should upgrade to it
        (r14 advice — the stale binding silently re-evaluated the join)."""
        for k in ("df1_unq_rows", "df2_unq_rows"):
            self.__dict__.pop(k, None)

    def explain(self, mode: str = "formatted") -> str:
        """The physical plan of the core comparison join, as a string — the
        operability hook for checking a compare's plan before running it at
        scale (is the join broadcast/sort-merge, are the scans pruned, did
        the bucketed zero-Exchange path engage). ``mode`` follows
        ``DataFrame.explain`` (``simple``/``extended``/``codegen``/
        ``cost``/``formatted``). Builds no job: planning only."""
        if hasattr(self._outer, "_jdf"):
            # the same JVM helper DataFrame.explain prints through,
            # returned instead of printed
            return self._outer._sc._jvm.PythonSQLUtils.explainString(
                self._outer._jdf.queryExecution(), mode
            )
        # Spark Connect: no JVM handle — capture the client-side print
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self._outer.explain(mode)
        return buf.getvalue()

    def uncache(self) -> None:
        """Release everything this compare persisted: the diff that the first
        statistics read or mismatch pull populated, and the outer join when
        ``cache_intermediates`` is set. ``scope()`` and ``release_caches()``
        release the same frames along with the other operators' caches."""
        if self.cache_intermediates:
            self._outer.unpersist()
        exc = self.__dict__.get("_exceptions")
        if exc is not None:
            exc.unpersist()
            if not self._masked_columns:
                # also forget the memoized frames (r14 advice): post-uncache
                # reads should re-plan from the prunable raw outer join, not
                # filter the now-unpersisted exceptions plan. Masked compares
                # keep their bindings — rebuilding from ``_outer`` would
                # resurrect unmasked values through the sample paths.
                self.__dict__.pop("_exceptions", None)
                self._drop_unq_row_memos()

    # ---------------------------------------------------------- derived frames

    def row_classes(self) -> DataFrame:
        """(join columns, row_class) for EVERY row of the comparison in one
        pass: ``left_only`` / ``right_only`` / ``both`` straight from the
        merge indicator (P3). Prefer this over unioning the three derived
        frames — each derived frame filters the same outer join, so a
        3-way union evaluates the join three times unless it was cached."""
        return self._outer.selectExpr(
            *map(quote, self.join_columns), f"{quote(self._n['merge'])} AS row_class"
        )

    def row_class_matrix(self) -> DataFrame:
        """Join columns + ``row_class`` + every ``{col}_match`` boolean in
        ONE pass over the outer join — the single-scan feed for per-key
        rollups (match-rate by key, duplicate-pair accounting). Match
        booleans are NULL for ``left_only``/``right_only`` rows, matching
        :attr:`intersect_rows` semantics on the ``both`` subset.

        Prefer this over combining :attr:`intersect_rows` with
        :attr:`df1_unq_rows`/:attr:`df2_unq_rows` in one query: each of
        those filters the same outer join, so an uncached combination
        re-evaluates the join (scan + shuffle + sort-merge) once per
        derived frame and then pays a fourth join to stitch the rollups
        back together. At 100 TB that is the difference between one
        key-partitioned pass and four."""
        return self._outer.selectExpr(
            *map(quote, self.join_columns),
            f"{quote(self._n['merge'])} AS row_class",
            *[quote(f"{c}_match") for c in self._compare_columns],
        )

    @cached_property
    def intersect_rows(self) -> DataFrame:
        """Rows present in both frames: join keys + suffixed value pairs +
        ``{col}_match`` booleans (ref ``spark.py:528,549-570``)."""
        cols = list(self.join_columns)
        for c in self._compare_columns:
            cols += [f"{c}_{self.df1_name}", f"{c}_{self.df2_name}", f"{c}_match"]
        for c in self.df1_unq_columns():
            cols.append(f"{c}_{self.df1_name}")
        for c in self.df2_unq_columns():
            cols.append(f"{c}_{self.df2_name}")
        return self._outer.filter(self._merge_is("both")).selectExpr(*map(quote, cols))

    def _unq_rows(self, side: str) -> DataFrame:
        tag, name, src = (
            ("left_only", self.df1_name, self.df1)
            if side == "df1"
            else ("right_only", self.df2_name, self.df2)
        )
        sel = [
            f"{quote(c if c in self.join_columns else f'{c}_{name}')} AS {quote(c)}"
            for c in src.columns
        ]
        # unique rows are by definition exceptions → serve from the small
        # cache WHEN IT ALREADY EXISTS (a statistics read or mismatch pull
        # populated it). A standalone unique-rows
        # read should NOT build that cache: its populate pass evaluates
        # every {col}_match expression just to persist rows this query
        # filters on the merge indicator alone — reading the raw outer join
        # instead lets Catalyst PRUNE all match expressions from the plan
        # (r14; measured via the cmp_unique_rows A/B).
        src_df = self.__dict__.get("_exceptions", self._outer)
        return src_df.filter(self._merge_is(tag)).selectExpr(*sel)

    @cached_property
    def df1_unq_rows(self) -> DataFrame:
        """Rows only in df1, original column names (ref ``spark.py:510-522``)."""
        return self._unq_rows("df1")

    @cached_property
    def df2_unq_rows(self) -> DataFrame:
        return self._unq_rows("df2")

    # ------------------------------------------------------------- statistics

    def _maxdiff_capable(self, c: str) -> bool:
        dt1 = self.df1.schema[c].dataType
        dt2 = self.df2.schema[c].dataType
        ok = _NUMERIC_TYPES + _STRING_TYPES + (T.BooleanType,)
        return isinstance(dt1, ok) and isinstance(dt2, ok)

    def _merge_is(self, tag: str) -> str:
        """SQL predicate: the merge indicator is ``tag``."""
        return f"{quote(self._n['merge'])} = {sql_string(tag)}"

    def _all_match_sql(self) -> str:
        """SQL predicate: every compared column matches (NULL off ``both``)."""
        match_cols = [quote(f"{c}_match") for c in self._compare_columns]
        return " AND ".join(match_cols) if match_cols else "true"

    def _stat_aggs(self) -> List[Column]:
        """The statistics aggregate expressions, consumed as ``observe``
        metrics on the first pass over the diff (:meth:`_diff_pass`)."""
        both = self._merge_is("both")
        n1, n2 = self.df1_name, self.df2_name

        def count_if(pred: str, alias: str) -> str:
            return f"sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS {quote(alias)}"

        aggs = [
            count_if(self._merge_is("left_only"), "__left_only"),
            count_if(self._merge_is("right_only"), "__right_only"),
            count_if(both, "__both"),
            f"max({quote(self._n['ord'])}) AS `__max_ord`",
            count_if(f"({both}) AND ({self._all_match_sql()})", "__rows_all_match"),
        ]
        for c in self._compare_columns:
            c1, c2 = quote(f"{c}_{n1}"), quote(f"{c}_{n2}")
            aggs.append(count_if(f"({both}) AND {quote(f'{c}_match')}", f"__match__{c}"))
            aggs.append(
                count_if(f"({both}) AND (({c1} IS NULL) != ({c2} IS NULL))", f"__nulldiff__{c}")
            )
            if self._maxdiff_capable(c):
                d1 = try_double(c1, self.df1.schema[c].dataType)
                d2 = try_double(c2, self.df2.schema[c].dataType)
                # exclude NaN rows from max_diff (ref ``spark.py:1058-1060``)
                guard = (
                    f"({both}) AND ({d1}) IS NOT NULL AND ({d2}) IS NOT NULL "
                    f"AND (NOT isnan({d1})) AND (NOT isnan({d2}))"
                )
                aggs.append(
                    f"max(CASE WHEN {guard} THEN abs(({d1}) - ({d2})) END) "
                    f"AS {quote(f'__maxdiff__{c}')}"
                )
        return [F.expr(a) for a in aggs]

    @property
    def _stats(self) -> Dict[str, Any]:
        """THE single statistics pass: one set of aggregates over the joined
        frame computes row classes, matching-row count, and per-column
        match/null-diff/max-diff — replacing the reference's per-column action
        loop (``spark.py:594-636``, A1+A3+A4 in SURVEY §2.4). They arrive as
        ``observe`` metrics on the first pass over the diff — a report's
        sample action or the exceptions populate (:meth:`_diff_pass`) — and
        are memoized for the compare's life."""
        if "_stats" not in self.__dict__:
            self._ensure_cached()
        return self.__dict__["_stats"]

    def _warn_if_hot_key(self, stats: Dict[str, Any]) -> None:
        """Hot-join-key advisory (r13 verdict item 3): the pairing ordinal
        already measures per-key duplication, so the hottest key's row
        count (``__max_ord`` + 1) falls out of the single statistics pass
        for free. At/over :data:`HOT_KEY_WARN_THRESHOLD` rows on one key —
        with the default range-pair join mode — warn loudly: AQE cannot
        split a skewed FULL OUTER join, so that key serializes onto one
        task at ANY cluster size and the range-pair residual is O(k²)
        inside it. ``dup_join_on_ordinal=True`` is the engine's own
        mitigation (re-keys the join to (key, ordinal) — uniform by
        construction, linear in k). Advisory only: identical results
        either way; uniform keys (max ordinal 0) never get near the
        threshold, and the re-keyed mode is exempt because it already IS
        the mitigation."""
        hottest = int(stats.get("__max_ord", 0)) + 1
        if (
            self.assume_unique
            or self.dup_join_on_ordinal
            or hottest < HOT_KEY_WARN_THRESHOLD
        ):
            return
        msg = (
            f"hot join key detected: some join-key value has "
            f"{hottest:,} rows on one side. Spark's AQE skew "
            "split does not apply to FULL OUTER joins, so this key runs "
            "on a single task regardless of cluster size, and the "
            "default duplicate-pairing mode costs O(k²) within it. "
            "Pass dup_join_on_ordinal=True to SparkCompare to re-key the "
            "join on (key, ordinal) - rows of the hot key then spread "
            "uniformly across partitions (identical results, one extra "
            "exchange per side)."
        )
        LOG.warning(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=4)

    @property
    def hot_key_rows(self) -> int:
        """Rows carried by the HOTTEST join-key value on either side —
        observed from the pairing ordinals during the single statistics
        pass (zero extra work). At/over :data:`HOT_KEY_WARN_THRESHOLD`
        with the default join mode, :meth:`_warn_if_hot_key` has already
        logged the ``dup_join_on_ordinal=True`` advisory."""
        return int(self._stats["__max_ord"]) + 1

    @property
    def has_duplicates(self) -> bool:
        """True iff either side has duplicate join keys — observed from the
        pairing ordinals during the single statistics pass (the reference
        runs a dedicated two-count probe per side, ``spark.py:328-332``)."""
        return int(self._stats["__max_ord"]) > 0

    @property
    def df1_row_count(self) -> int:
        """Derived from the single-agg pass — the (possibly ordinal-paired)
        outer join is 1:1, so |df1| = left_only + both. No extra scan."""
        return int(self._stats["__left_only"]) + int(self._stats["__both"])

    @property
    def df2_row_count(self) -> int:
        return int(self._stats["__right_only"]) + int(self._stats["__both"])

    @property
    def df1_unq_rows_count(self) -> int:
        return int(self._stats["__left_only"])

    @property
    def df2_unq_rows_count(self) -> int:
        return int(self._stats["__right_only"])

    @property
    def intersect_rows_count(self) -> int:
        return int(self._stats["__both"])

    def count_matching_rows(self) -> int:
        """Intersect rows where every compared column matches
        (ref ``spark.py:659-679``)."""
        return int(self._stats["__rows_all_match"])

    @cached_property
    def column_stats(self) -> List[ColumnStat]:
        """Per-column stats over EVERY intersect column (ref
        ``spark.py:582-636``): join columns appear as always-matching entries
        (``match_cnt == row_cnt``, zero diffs — ``spark.py:588-600``), value
        columns from the single statistics aggregate. Reference quirks kept
        for parity: ``all_match`` additionally requires identical declared
        dtypes (``spark.py:625-630``), and for join-columns-only schemas the
        join-column row count includes the unique rows
        (``spark.py:589-596``)."""
        stats: List[ColumnStat] = []
        s = self._stats
        n_both = int(s["__both"])
        for c in self._intersect_columns:
            dtype1 = self.df1.schema[c].dataType.simpleString()
            dtype2 = self.df2.schema[c].dataType.simpleString()
            if c in self.join_columns:
                row_cnt = n_both
                if self.only_join_columns():
                    row_cnt += self.df1_unq_rows_count + self.df2_unq_rows_count
                match_cnt, unequal = row_cnt, 0
                max_diff, null_diff = 0.0, 0
                rel_tol = self.rel_tol.get(c, self.rel_tol.get("default", 0.0))
                abs_tol = self.abs_tol.get(c, self.abs_tol.get("default", 0.0))
            else:
                match_cnt = int(s[f"__match__{c}"])
                unequal = n_both - match_cnt
                max_diff = float(s.get(f"__maxdiff__{c}", 0) or 0)
                null_diff = int(s[f"__nulldiff__{c}"])
                rel_tol, abs_tol = self.rel_tol[c], self.abs_tol[c]
            stats.append(
                ColumnStat(
                    column=c,
                    match_column=f"{c}_match",
                    match_cnt=match_cnt,
                    unequal_cnt=unequal,
                    dtype1=dtype1,
                    dtype2=dtype2,
                    all_match=(unequal == 0) and (dtype1 == dtype2),
                    max_diff=max_diff,
                    null_diff=null_diff,
                    rel_tol=rel_tol,
                    abs_tol=abs_tol,
                )
            )
        return stats

    # ------------------------------------------------------------ check API

    def all_columns_match(self) -> bool:
        """Both unique-column sets empty (ref ``spark.py:638-646``)."""
        return not self.df1_unq_columns() and not self.df2_unq_columns()

    def all_rows_overlap(self) -> bool:
        """No rows unique to either side (ref ``spark.py:648-657``)."""
        return self.df1_unq_rows_count == 0 and self.df2_unq_rows_count == 0

    def intersect_rows_match(self) -> bool:
        """Non-empty intersection whose rows all match; empty → False
        (ref ``spark.py:681-686``)."""
        if self.intersect_rows_count == 0:
            return False
        return self.count_matching_rows() == self.intersect_rows_count

    def matches(self, ignore_extra_columns: bool = False) -> bool:
        """Ref ``spark.py:688-700``."""
        if not ignore_extra_columns and not self.all_columns_match():
            return False
        return self.all_rows_overlap() and self.intersect_rows_match()

    def subset(self) -> bool:
        """df2 ⊆ df1 (ref ``spark.py:702-718``)."""
        return (
            not self.df2_unq_columns()
            and self.df2_unq_rows_count == 0
            and self.intersect_rows_match()
        )

    def only_join_columns(self) -> bool:
        """Schema is exactly the join key on both sides (ref ``base.py:463-465``)."""
        jc = set(self.join_columns)
        return set(self.df1.columns) == jc and set(self.df2.columns) == jc

    @property
    def columns_with_mismatches(self) -> List[str]:
        """Non-join columns with any unequal value (ref ``base.py:467-490``)."""
        return [
            cs["column"]
            for cs in self.column_stats
            if cs["unequal_cnt"] > 0 and cs["column"] not in self.join_columns
        ]

    # -------------------------------------------------------------- mismatches

    def _any_mismatch_pred(self) -> str:
        """SQL predicate: some compared column mismatches."""
        if not self._compare_columns:
            return "false"
        return f"NOT ({self._all_match_sql()})"

    def sample_mismatch(
        self, column: str, sample_count: int = 10, for_display: bool = False
    ) -> DataFrame:
        """First ``sample_count`` mismatching rows for one column
        (ref ``spark.py:720-791``). Join-columns-only schemas return the
        union of unique rows instead (ref ``spark.py:786-790``)."""
        if self.only_join_columns():
            return self.df1_unq_rows.union(self.df2_unq_rows).limit(sample_count)
        if column in self.join_columns:
            raise ValueError(f"{column} is a join column; cannot sample mismatches")
        n1, n2 = self.df1_name, self.df2_name
        self._ensure_cached()
        out = (
            self._exceptions.filter(
                f"({self._merge_is('both')}) AND (NOT {quote(f'{column}_match')})"
            )
            .selectExpr(*map(quote, [*self.join_columns, f"{column}_{n1}", f"{column}_{n2}"]))
            .limit(sample_count)
        )
        if for_display:
            out = out.toDF(
                *self.join_columns, f"{column} ({n1})", f"{column} ({n2})"
            )
        return out

    def all_mismatch(self, ignore_matching_cols: bool = False) -> DataFrame:
        """Every intersect row with ≥1 mismatching column
        (ref ``spark.py:793-867``); ``ignore_matching_cols`` drops columns
        that matched everywhere."""
        if self.only_join_columns():
            return self.df1_unq_rows.union(self.df2_unq_rows)
        keep = self._compare_columns
        if ignore_matching_cols:
            mismatched = set(self.columns_with_mismatches)
            keep = [c for c in keep if c in mismatched]
        n1, n2 = self.df1_name, self.df2_name
        cols = list(self.join_columns)
        for c in keep:
            cols += [f"{c}_{n1}", f"{c}_{n2}"]
        self._ensure_cached()
        return self._exceptions.filter(
            f"({self._merge_is('both')}) AND ({self._any_mismatch_pred()})"
        ).selectExpr(*map(quote, cols))

    # ------------------------------------------------------------ sensitive

    def hide_sensitive_columns(self, columns: Sequence[str]) -> None:
        """Mask values with ``'*******'`` in the three derived frames
        (ref ``spark.py:224-271``); unpersists any cached joined frame first
        so no unmasked partitions linger in executor memory."""
        cols = [
            c.lower() if self.cast_column_names_lower else c for c in columns
        ]
        bad = [c for c in cols if c in self.join_columns]
        if bad:
            raise ValueError(f"cannot mask join columns: {bad}")
        # stats before masking so counts reflect real values
        self._ensure_cached()

        def mask(df: DataFrame, suffixes: Sequence[str]) -> DataFrame:
            targets = set()
            for c in cols:
                targets.add(c)
                for sfx in suffixes:
                    targets.add(f"{c}_{sfx}")
            return df.selectExpr(
                *[
                    f"{sql_string(MASK_VALUE)} AS {quote(c)}" if c in targets else quote(c)
                    for c in df.columns
                ]
            )

        # no unmasked partitions may linger in executor memory
        if self.cache_intermediates:
            self._outer.unpersist()
        exc = self._exceptions
        exc.unpersist()
        # sample_mismatch/all_mismatch/report() all read _exceptions — mask it
        # too or sensitive values leak through those paths (ref
        # ``spark.py:720-791`` reads the masked intersect frame).
        self._exceptions = tracked_persist(mask(exc, [self.df1_name, self.df2_name]))
        self.__dict__["intersect_rows"] = mask(
            self.intersect_rows, [self.df1_name, self.df2_name]
        )
        self.__dict__["df1_unq_rows"] = mask(self.df1_unq_rows, [])
        self.__dict__["df2_unq_rows"] = mask(self.df2_unq_rows, [])
        self._masked_columns = cols

    def reveal_sensitive_columns(self) -> None:
        """Undo masking by rebuilding the derived frames (ref ``base.py:445-461``
        does a full recompare; our frames are lazy so a rebuild is free)."""
        exc = self.__dict__.pop("_exceptions", None)
        if exc is not None:
            exc.unpersist()
        for k in ("intersect_rows", "df1_unq_rows", "df2_unq_rows"):
            self.__dict__.pop(k, None)
        self._masked_columns = []

    # ---------------------------------------------------------------- report

    def _report_samples(
        self, sample_count: int, column_count: int
    ) -> Tuple[Dict[str, Any], Dict[str, Any]]:
        """Every report sample — and the statistics, when they are not known
        yet — from ONE Spark action (ref ``spark.py:571-580`` runs each stat
        query and sample pull as its own action on a thread pool).

        The source is the exceptions cache when it exists (populated
        earlier, or masked); otherwise the outer join filtered by the
        exceptions predicate, with the statistics attached as ``observe``
        metrics when unknown. Nothing is persisted. Each diff row is tagged
        with every sample slot it belongs to — one per compared column
        (``both`` and not ``{c}_match``), one per side's unique rows — and
        ``row_number() over (partition by slot order by keys, ord) <= n``
        keeps the first ``sample_count`` of each: Spark plans a partial
        ``WindowGroupLimit`` ahead of one small exchange.

        Returns ``({column: frame}, {"df1": frame, "df2": frame})``, pandas
        frames with the report's display columns, in join-key order. With
        known statistics, slots that cannot hold rows are left out; with
        ``sample_count <= 0`` both dicts are empty."""
        n1, n2 = self.df1_name, self.df2_name
        keys = list(self.join_columns)
        known = self.__dict__.get("_stats")
        slots: List[Tuple[str, str, str, SlotLayout]] = []
        for c in self._compare_columns:
            if known is None or int(known[f"__match__{c}"]) < int(known["__both"]):
                layout = [(k, k) for k in keys]
                layout += [(f"{c}_{n1}", f"{c} ({n1})"), (f"{c}_{n2}", f"{c} ({n2})")]
                pred = f"({self._merge_is('both')}) AND (NOT {quote(f'{c}_match')})"
                slots.append(("mismatch", c, pred, layout))
        for side, tag, name, src in (
            ("df1", "left_only", n1, self.df1),
            ("df2", "right_only", n2, self.df2),
        ):
            if known is None or int(known[f"__{tag}"]) > 0:
                layout = [
                    (c if c in keys else f"{c}_{name}", c) for c in src.columns[:column_count]
                ]
                slots.append(("unique", side, self._merge_is(tag), layout))
        if known is not None and (sample_count <= 0 or not slots):
            return {}, {}

        slot, rank = self._n["slot"], self._n["rank"]
        order = [*keys, self._n["ord"]]
        cols = _ordered_unique([*order, *(s for *_, lay in slots for s, _ in lay)])
        tags = ", ".join(
            f"CASE WHEN {pred} THEN {i} END" for i, (_, _, pred, _) in enumerate(slots)
        )
        window = f"PARTITION BY {quote(slot)} ORDER BY {', '.join(map(quote, order))}"

        def take(diff: DataFrame) -> List[Any]:
            top = (
                diff.selectExpr(
                    *map(quote, cols), f"explode(array_compact(array({tags}))) AS {quote(slot)}"
                )
                .selectExpr("*", f"row_number() OVER ({window}) AS {quote(rank)}")
                # n >= 1 even for sample_count 0: Catalyst folds a rank filter
                # of 0 into an empty relation, which would drop the observed
                # statistics along with the rows
                .filter(f"{quote(rank)} <= {max(sample_count, 1)}")
            )
            return _to_pandas_by_slot(top, slot, rank, [lay for *_, lay in slots])

        exc = self.__dict__.get("_exceptions")
        frames = take(exc) if exc is not None else self._diff_pass(take)
        mismatch: Dict[str, Any] = {}
        unique: Dict[str, Any] = {}
        if sample_count > 0:
            for (kind, label, _, _), frame in zip(slots, frames):
                (unique if kind == "unique" else mismatch)[label] = frame
        return mismatch, unique

    def build_report_data(self, sample_count: int = 10, column_count: int = 10):
        from datacompy_spark.plans.report import build_report_data

        return build_report_data(self, sample_count=sample_count, column_count=column_count)

    def report(
        self,
        sample_count: int = 10,
        column_count: int = 10,
        html_file: Optional[str] = None,
        template_path: Optional[str] = None,
    ) -> str:
        """Render the human-readable comparison report (ref ``base.py:405-443``);
        ``template_path`` selects a custom Jinja2 template (ref ``base.py:493-533``).
        One Spark action serves it — statistics and every sample — and
        nothing is persisted (:meth:`_report_samples`). Samples are each
        slot's first ``sample_count`` rows by join key."""
        data = self.build_report_data(sample_count=sample_count, column_count=column_count)
        text = data.render(template_path=template_path)
        if html_file:
            with open(html_file, "w") as fh:
                fh.write(data.to_html(template_path))
        return text
