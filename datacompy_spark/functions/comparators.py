"""Tolerant column-comparison expression builders (the comparator chain).

Semantics parity target: capitalone/datacompy comparator package —
``comparator/base.py:22-50`` (chain contract), ``comparator/numeric.py:236-328``
(NaN + tolerance rules), ``comparator/string.py:254-340`` (trim/upper + TRY_CAST
string→temporal), ``comparator/boolean.py:170-274`` (bool↔numeric typed-literal
compare), ``comparator/array.py:129-160`` (null-safe array equality).

Everything here builds a single JVM-side ``pyspark.sql.Column`` boolean
expression — zero UDFs, so the whole match predicate stays inside
whole-stage codegen and is ANSI-mode safe (TRY_CAST, int→double pre-cast).

A comparator's ``compare()`` returns a boolean Column when it claims the
column pair, or ``None`` to pass to the next comparator in the chain.
"""

from __future__ import annotations

from typing import Optional, Sequence

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
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING_TYPES = (T.FloatType, T.DoubleType)
_STRING_TYPES = (T.StringType, T.CharType, T.VarcharType)
_TEMPORAL_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def _is_string(dt: T.DataType) -> bool:
    return isinstance(dt, _STRING_TYPES)


def _is_temporal(dt: T.DataType) -> bool:
    return isinstance(dt, _TEMPORAL_TYPES)


#: every string Spark's TRY cast parses as a double holds an ASCII digit,
#: or spells inf/infinity/nan
_MAYBE_DOUBLE = "(?i)[0-9]|inf|nan"


def try_double(col: Column, dt: T.DataType) -> Column:
    """``TRY_CAST(col AS DOUBLE)`` for a column of type ``dt``. A string
    cast is attempted only when it can succeed: a failed parse costs a
    thrown exception per row, while the regex gate is a cheap scan, and
    the gated strings would all have cast to NULL anyway."""
    if _is_string(dt):
        return F.when(col.rlike(_MAYBE_DOUBLE), col.try_cast("double"))
    return col.try_cast("double")


class BaseComparator:
    """Strategy contract (ref ``comparator/base.py:22-50``).

    ``compare`` receives the two column names plus the DataFrame they live in
    (for dtype lookup) and keyword options; returns a boolean ``Column`` or
    ``None`` ("not my type, ask the next comparator").
    """

    def compare(
        self,
        df: DataFrame,
        col1: str,
        col2: str,
        **kwargs,
    ) -> Optional[Column]:
        raise NotImplementedError


def _dtype(df: DataFrame, col: str) -> T.DataType:
    return df.schema[col].dataType


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
        return F.col(col1).eqNullSafe(F.col(col2))


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
            return F.col(col1).eqNullSafe(F.col(col2))
        bool_col, num_col = (col1, col2) if b1 else (col2, col1)
        num_dt = dt2 if b1 else dt1
        if not _is_numeric(num_dt):
            # bool/string and bool/other: refuse to claim → chain falls through
            # to constant False, matching the reference's behavior.
            return None
        one = F.lit(1).cast(num_dt)
        zero = F.lit(0).cast(num_dt)
        b, n = F.col(bool_col), F.col(num_col)
        return (
            F.when(b.isNull() & n.isNull(), F.lit(True))
            .when(b.isNull() | n.isNull(), F.lit(False))
            .when(b, n.eqNullSafe(one))
            .otherwise(n.eqNullSafe(zero))
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
        c1, c2 = F.col(col1), F.col(col2)
        d1 = c1 if isinstance(dt1, T.DoubleType) else c1.try_cast("double")
        d2 = c2 if isinstance(dt2, T.DoubleType) else c2.try_cast("double")
        return (
            F.when(c1.isNull() & c2.isNull(), F.lit(True))
            .when(c1.isNull() | c2.isNull(), F.lit(False))
            .when(F.isnan(d1) & F.isnan(d2), F.lit(True))
            .when(F.isnan(d1) | F.isnan(d2), F.lit(False))
            .when(c1.eqNullSafe(c2), F.lit(True))
            # non-finite values only match exactly (numpy.isclose semantics;
            # also avoids 0*inf=NaN poisoning the tolerance bound)
            .when(
                (F.abs(d1) == F.lit(float("inf"))) | (F.abs(d2) == F.lit(float("inf"))),
                F.lit(False),
            )
            .otherwise(
                F.abs(d1 - d2) <= F.lit(float(abs_tol)) + F.lit(float(rel_tol)) * F.abs(d2)
            )
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
        c1, c2 = F.col(col1), F.col(col2)
        if t1 and t2:
            return c1.eqNullSafe(c2)
        if s1 and t2:
            return c1.try_cast(dt2).eqNullSafe(c2)
        if t1 and s2:
            return c1.eqNullSafe(c2.try_cast(dt1))
        if ignore_spaces:
            c1, c2 = F.trim(c1), F.trim(c2)
        if ignore_case:
            c1, c2 = F.upper(c1), F.upper(c2)
        return c1.eqNullSafe(c2)


class ComplexComparator(BaseComparator):
    """Behavior EXTENSION beyond the reference: struct, binary and map columns.

    The reference leaves these to the constant-False fallthrough
    (``spark.py:989-990``); we claim same-family pairs with null-safe equality
    (maps via sorted entry lists, since Spark cannot compare MapType directly).
    """

    def compare(self, df, col1, col2, **kwargs):
        dt1, dt2 = _dtype(df, col1), _dtype(df, col2)
        if isinstance(dt1, T.StructType) and isinstance(dt2, T.StructType):
            return F.col(col1).eqNullSafe(F.col(col2))
        if isinstance(dt1, T.BinaryType) and isinstance(dt2, T.BinaryType):
            return F.col(col1).eqNullSafe(F.col(col2))
        if isinstance(dt1, T.MapType) and isinstance(dt2, T.MapType):
            e1 = F.array_sort(F.map_entries(F.col(col1)))
            e2 = F.array_sort(F.map_entries(F.col(col2)))
            both_null = F.col(col1).isNull() & F.col(col2).isNull()
            one_null = F.col(col1).isNull() | F.col(col2).isNull()
            return F.when(both_null, F.lit(True)).when(one_null, F.lit(False)).otherwise(
                e1.eqNullSafe(e2)
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
    """Dispatch through the comparator chain; first non-None Column wins.

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
    return F.lit(False)
