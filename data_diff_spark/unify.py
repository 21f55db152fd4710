"""Automatic precision/type unification between two table segments.

Spark re-expression of the reference's _validate_and_adjust_columns
(/root/reference/data_diff/hashdiff_tables.py:118-167): before diffing,
reduce every column pair to the *minimum mutual precision* — so a
timestamp(6) side diffed against a side that truncates to seconds, or a
decimal(15,4) against a decimal(15,2), compares at the coarser precision
instead of emitting every row as a false diff — and warn about columns
with no comparison handling.

In Spark both sides arrive as native Spark types, so "precision" is:
    Timestamp/TimestampNTZ  -> 6 (Spark stores microseconds) unless a
                               precision_override declares the column
                               semantically coarser (e.g. a source that
                               truncated to millis)
    DecimalType(p, s)       -> s
    Float/Double            -> DEFAULT_NUMERIC_PRECISION fractional digits
    Integer family, Boolean -> 0
The unified precision is recorded in each segment's precision_overrides,
which every downstream consumer (normalize.compared_forms, the one
comparison rule of join_diff and hash_diff; normalize.py checksums;
remote digest SQL) already honors.

Unlike the reference (strict=True raises on e.g. temporal-vs-numeric
pairs), the default here is strict=False: normalize.py genuinely supports
more cross-type comparisons (everything canonicalizes to strings), so
mismatched families warn and fall through to normalized comparison.
"""

from __future__ import annotations

import logging
from typing import Optional, Tuple

from pyspark.sql import types as T

from data_diff_spark.constants import (
    DEFAULT_DATETIME_PRECISION,
    DEFAULT_NUMERIC_PRECISION,
)
from data_diff_spark.table import TableSegment

logger = logging.getLogger(__name__)

# Types we can canonicalize for comparison (normalize.py). Anything else
# gets the reference's "no compatibility handling" warning
# (hashdiff_tables.py:160-167).
_SUPPORTED = (
    T.TimestampType, T.TimestampNTZType, T.DateType,
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.DecimalType, T.FloatType, T.DoubleType, T.BooleanType,
    T.StringType, T.BinaryType, T.ArrayType, T.MapType, T.StructType,
)


def _family(dt: T.DataType) -> str:
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "temporal"
    if isinstance(dt, (T.DecimalType, T.FloatType, T.DoubleType,
                       T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType)):
        return "numeric"
    if isinstance(dt, T.DateType):
        return "date"
    return "other"


def column_precision(dt: T.DataType, override: Optional[int] = None) -> Optional[int]:
    """Effective comparison precision of a column (None = not
    precision-typed). An explicit override models a source whose values
    are semantically coarser than the Spark type can express."""
    if override is not None:
        return override
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return DEFAULT_DATETIME_PRECISION
    if isinstance(dt, T.DecimalType):
        return dt.scale
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return DEFAULT_NUMERIC_PRECISION
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType)):
        return 0
    return None


def unify_precisions(
    t1: TableSegment, t2: TableSegment, strict: bool = False
) -> Tuple[TableSegment, TableSegment]:
    """Return both segments with precision_overrides set to the minimum
    mutual precision of every positionally-paired column (reference
    hashdiff_tables.py:125-158). Warns when precision is reduced; with
    strict=True, raises on family-incompatible pairs like the reference.
    """
    dt1 = {f.name: f.dataType for f in t1.schema.fields}
    dt2 = {f.name: f.dataType for f in t2.schema.fields}
    cols1, cols2 = list(t1.relevant_columns), list(t2.relevant_columns)
    if len(cols1) != len(cols2):
        raise ValueError(f"column count mismatch: {cols1} vs {cols2}")

    ov1, ov2 = dict(t1.precision_overrides), dict(t2.precision_overrides)
    for c1, c2 in zip(cols1, cols2):
        d1, d2 = dt1[c1], dt2[c2]
        if not isinstance(d1, _SUPPORTED):
            logger.warning(
                "Column %r of type %s has no compatibility handling; "
                "comparison falls back to cast-to-string and may produce "
                "false positives", c1, d1.simpleString())
        if not isinstance(d2, _SUPPORTED):
            logger.warning(
                "Column %r of type %s has no compatibility handling; "
                "comparison falls back to cast-to-string and may produce "
                "false positives", c2, d2.simpleString())

        f1, f2 = _family(d1), _family(d2)
        if "temporal" in (f1, f2) or "numeric" in (f1, f2):
            if f1 != f2:
                msg = (f"Incompatible types for column pair {c1!r}/{c2!r}: "
                       f"{d1.simpleString()} <-> {d2.simpleString()}")
                if strict:
                    raise TypeError(msg)
                logger.warning("%s — comparing canonical strings", msg)
                continue
            p1 = column_precision(d1, ov1.get(c1))
            p2 = column_precision(d2, ov2.get(c2))
            if p1 is None or p2 is None or p1 == p2:
                # equal precisions still become explicit overrides only if
                # one side declared one (keep default-derived implicit)
                continue
            lowest = min(p1, p2)
            logger.warning(
                "Using reduced precision %d for column pair %r/%r "
                "(types %s, %s)", lowest, c1, c2,
                d1.simpleString(), d2.simpleString())
            ov1[c1] = lowest
            ov2[c2] = lowest

    return t1.with_(precision_overrides=ov1), t2.with_(precision_overrides=ov2)
