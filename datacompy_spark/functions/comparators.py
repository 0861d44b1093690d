"""Tolerant column-comparison expression builders (the comparator chain).

Semantics parity target: capitalone/datacompy comparator package —
``comparator/base.py:22-50`` (chain contract), ``comparator/numeric.py:236-328``
(NaN + tolerance rules), ``comparator/string.py:254-340`` (trim/upper + TRY_CAST
string→temporal), ``comparator/boolean.py:170-274`` (bool↔numeric typed-literal
compare), ``comparator/array.py:129-160`` (null-safe array equality).

Every built-in comparator writes its match predicate as Spark SQL text: one
boolean expression with zero UDFs, so the whole predicate stays inside
whole-stage codegen and is ANSI-mode safe (TRY_CAST, int→double pre-cast).
The engine applies all of a compare's predicates in one ``withColumns``
projection of ``F.expr`` columns: the JVM parses each string once, where a
tree of ``Column`` calls costs a py4j round trip (and later a
garbage-collection message) per node. The
SQL rules: every identifier is backtick-quoted (:func:`quote`), doubles are
``<repr>D`` literals (a bare ``0.01`` is a DECIMAL in Spark SQL and would
change the tolerance arithmetic), non-finite doubles and typed literals are
``CAST`` expressions, string literals are escaped (:func:`sql_string`).

A comparator's ``compare()`` returns the boolean predicate when it claims
the column pair, or ``None`` to pass to the next comparator in the chain.
The built-ins return SQL text; a custom comparator may return SQL text or
a boolean ``Column`` (the reference's contract).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
_STRING_TYPES = (T.StringType, T.CharType, T.VarcharType)
_TEMPORAL_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)

#: a match predicate: Spark SQL text, or a Column from a custom comparator
Predicate = Union[str, Column]


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def _is_string(dt: T.DataType) -> bool:
    return isinstance(dt, _STRING_TYPES)


def _is_temporal(dt: T.DataType) -> bool:
    return isinstance(dt, _TEMPORAL_TYPES)


def quote(name: str) -> str:
    """``name`` as one backtick-quoted Spark SQL identifier: dots, spaces,
    keywords and backticks (doubled) in it stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal (``0.01D``; a bare ``0.01`` is a
    DECIMAL). Non-finite values have no literal form and are cast."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    text = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST({sql_string(text)} AS DOUBLE)"


def sql_cast(value: str, dt: T.DataType) -> str:
    """``CAST(value AS dt)``: a literal typed as ``dt``."""
    return f"CAST({value} AS {dt.simpleString()})"


#: every string Spark's TRY cast parses as a double holds an ASCII digit,
#: or spells inf/infinity/nan
_MAYBE_DOUBLE = "(?i)[0-9]|inf|nan"


def try_double(expr: str, dt: T.DataType) -> str:
    """``TRY_CAST(expr AS DOUBLE)`` for SQL ``expr`` of type ``dt``. A string
    cast is attempted only when it can succeed: a failed parse costs a
    thrown exception per row, while the regex gate is a cheap scan, and
    the gated strings would all have cast to NULL anyway."""
    cast = f"try_cast({expr} AS DOUBLE)"
    if _is_string(dt):
        return f"CASE WHEN {expr} RLIKE {sql_string(_MAYBE_DOUBLE)} THEN {cast} END"
    return cast


class BaseComparator:
    """Strategy contract (ref ``comparator/base.py:22-50``).

    ``compare`` receives the two column names plus the DataFrame they live in
    (for dtype lookup) and keyword options; returns the boolean predicate —
    Spark SQL text or a ``Column`` — or ``None`` ("not my type, ask the next
    comparator").
    """

    def compare(
        self,
        df: DataFrame,
        col1: str,
        col2: str,
        **kwargs,
    ) -> Optional[Predicate]:
        raise NotImplementedError


def _dtype(df: DataFrame, col: str) -> T.DataType:
    return df.schema[col].dataType


def _null_aware(c1: str, c2: str, rest: str) -> str:
    """Both NULL → True, one NULL → False, otherwise ``rest`` (CASE arms)."""
    return (
        f"CASE WHEN {c1} IS NULL AND {c2} IS NULL THEN true "
        f"WHEN {c1} IS NULL OR {c2} IS NULL THEN false {rest} END"
    )


class ArrayComparator(BaseComparator):
    """Order- and length-sensitive element-wise null-safe array equality.

    Parity: ref ``comparator/array.py:129-160`` and its tests
    ``tests/test_spark.py:1770-1877`` ([None]==[None] is True, reversed order
    is False, differing lengths are False).
    """

    def compare(self, df, col1, col2, **kwargs):
        dt1, dt2 = _dtype(df, col1), _dtype(df, col2)
        if not (isinstance(dt1, T.ArrayType) and isinstance(dt2, T.ArrayType)):
            return None
        return f"{quote(col1)} <=> {quote(col2)}"


class BooleanComparator(BaseComparator):
    """boolean↔boolean and boolean↔numeric comparison.

    Parity: ref ``comparator/boolean.py:170-274``: bool/bool is eqNullSafe;
    bool/numeric maps True↔1 / False↔0, comparing against literals in the
    numeric column's own type so decimal/bigint precision survives ANSI mode
    (ref ``boolean.py:248-255``); bool/string is deliberately declined
    (ref ``boolean.py:243-247``); bool vs anything else is declined.
    """

    def compare(self, df, col1, col2, **kwargs):
        dt1, dt2 = _dtype(df, col1), _dtype(df, col2)
        b1, b2 = isinstance(dt1, T.BooleanType), isinstance(dt2, T.BooleanType)
        if not (b1 or b2):
            return None
        if b1 and b2:
            return f"{quote(col1)} <=> {quote(col2)}"
        bool_col, num_col = (col1, col2) if b1 else (col2, col1)
        num_dt = dt2 if b1 else dt1
        if not _is_numeric(num_dt):
            # bool/string and bool/other: refuse to claim → chain falls through
            # to constant False, matching the reference's behavior.
            return None
        b, n = quote(bool_col), quote(num_col)
        return _null_aware(
            b,
            n,
            f"WHEN {b} THEN {n} <=> {sql_cast('1', num_dt)} "
            f"ELSE {n} <=> {sql_cast('0', num_dt)}",
        )


class NumericComparator(BaseComparator):
    """Tolerant numeric comparison with IEEE NaN semantics.

    Parity: ref ``comparator/numeric.py:236-328``:
      * NaN == NaN → True; NaN vs number → False (``numeric.py:305-314``);
      * exact null-safe equality short-circuits (``numeric.py:316-317``);
      * otherwise match iff ``|a-b| <= abs_tol + rel_tol*|b|`` — numpy
        ``isclose`` semantics, asymmetric in the df2 side
        (``numeric.py:318-322``, contract ``spark.py:90-92``);
      * integral columns are pre-cast to double to dodge ANSI overflow and
        ``isnan``-on-non-float errors (``numeric.py:293-304``).
    """

    def compare(self, df, col1, col2, rel_tol: float = 0, abs_tol: float = 0, **kwargs):
        dt1, dt2 = _dtype(df, col1), _dtype(df, col2)
        if not (_is_numeric(dt1) and _is_numeric(dt2)):
            return None
        c1, c2 = quote(col1), quote(col2)
        d1 = c1 if isinstance(dt1, T.DoubleType) else f"try_cast({c1} AS DOUBLE)"
        d2 = c2 if isinstance(dt2, T.DoubleType) else f"try_cast({c2} AS DOUBLE)"
        inf = sql_double(float("inf"))
        return _null_aware(
            c1,
            c2,
            f"WHEN isnan({d1}) AND isnan({d2}) THEN true "
            f"WHEN isnan({d1}) OR isnan({d2}) THEN false "
            f"WHEN {c1} <=> {c2} THEN true "
            # non-finite values only match exactly (numpy.isclose semantics;
            # also avoids 0*inf=NaN poisoning the tolerance bound)
            f"WHEN abs({d1}) = {inf} OR abs({d2}) = {inf} THEN false "
            f"ELSE abs({d1} - {d2}) <= {sql_double(abs_tol)} + {sql_double(rel_tol)} * abs({d2})",
        )


class StringComparator(BaseComparator):
    """string/string, string/temporal, temporal/temporal comparison.

    Parity: ref ``comparator/string.py:254-340``:
      * mixed string/date or string/timestamp: the string side is TRY_CAST to
        the temporal type — malformed strings become NULL (compare False), not
        an ANSI error (``string.py:315-321``);
      * string/string honors ``ignore_spaces`` (trim) and ``ignore_case``
        (upper) on both sides before null-safe equality (``string.py:488-511``).
    """

    def compare(
        self,
        df,
        col1,
        col2,
        ignore_spaces: bool = False,
        ignore_case: bool = False,
        **kwargs,
    ):
        dt1, dt2 = _dtype(df, col1), _dtype(df, col2)
        s1, s2 = _is_string(dt1), _is_string(dt2)
        t1, t2 = _is_temporal(dt1), _is_temporal(dt2)
        if not ((s1 or t1) and (s2 or t2)):
            return None
        c1, c2 = quote(col1), quote(col2)
        if s1 and t2:
            c1 = f"try_cast({c1} AS {dt2.simpleString()})"
        elif t1 and s2:
            c2 = f"try_cast({c2} AS {dt1.simpleString()})"
        elif s1 and s2:
            if ignore_spaces:
                c1, c2 = f"trim({c1})", f"trim({c2})"
            if ignore_case:
                c1, c2 = f"upper({c1})", f"upper({c2})"
        return f"{c1} <=> {c2}"


class ComplexComparator(BaseComparator):
    """Behavior EXTENSION beyond the reference: struct, binary and map columns.

    The reference leaves these to the constant-False fallthrough
    (``spark.py:989-990``); we claim same-family pairs with null-safe equality
    (maps via sorted entry lists, since Spark cannot compare MapType directly).
    """

    def compare(self, df, col1, col2, **kwargs):
        dt1, dt2 = _dtype(df, col1), _dtype(df, col2)
        c1, c2 = quote(col1), quote(col2)
        for family in (T.StructType, T.BinaryType):
            if isinstance(dt1, family) and isinstance(dt2, family):
                return f"{c1} <=> {c2}"
        if isinstance(dt1, T.MapType) and isinstance(dt2, T.MapType):
            return _null_aware(
                c1,
                c2,
                f"ELSE array_sort(map_entries({c1})) <=> array_sort(map_entries({c2}))",
            )
        return None


#: Default chain order mirrors the reference (``spark.py:54-59``): array,
#: boolean, numeric, string — custom comparators are consulted first.
DEFAULT_COMPARATORS: tuple[BaseComparator, ...] = (
    ArrayComparator(),
    BooleanComparator(),
    NumericComparator(),
    StringComparator(),
    ComplexComparator(),
)


def match_predicate(
    df: DataFrame,
    col1: str,
    col2: str,
    rel_tol: float = 0,
    abs_tol: float = 0,
    ignore_spaces: bool = False,
    ignore_case: bool = False,
    comparators: Optional[Sequence[BaseComparator]] = None,
) -> Predicate:
    """Dispatch through the comparator chain; the first claim wins, as SQL
    text or as the Column a custom comparator returned.

    Parity: ref ``spark.py:887-990`` — unclaimed pairs (e.g. numeric vs
    string) compare as constant False rather than erroring.
    """
    chain = list(comparators or ()) + list(DEFAULT_COMPARATORS)
    for comp in chain:
        result = comp.compare(
            df,
            col1,
            col2,
            rel_tol=rel_tol,
            abs_tol=abs_tol,
            ignore_spaces=ignore_spaces,
            ignore_case=ignore_case,
        )
        if result is not None:
            return result
    return "false"


def columns_equal(
    df: DataFrame,
    col1: str,
    col2: str,
    rel_tol: float = 0,
    abs_tol: float = 0,
    ignore_spaces: bool = False,
    ignore_case: bool = False,
    comparators: Optional[Sequence[BaseComparator]] = None,
) -> Column:
    """:func:`match_predicate` as a boolean ``Column``."""
    pred = match_predicate(
        df, col1, col2, rel_tol, abs_tol, ignore_spaces, ignore_case, comparators
    )
    return F.expr(pred) if isinstance(pred, str) else pred
