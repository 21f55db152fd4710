"""Canonical value normalization and row checksums, as Spark Column expressions.

This is the Spark re-expression of the reference's NormalizeAsString /
Checksum layer (/root/reference/data_diff/databases/base.py:808-896 and
:411-421). Every value is rendered to one canonical string so that two
physically different encodings of the same logical value (timestamp
precisions, decimal vs double, boolean vs int) compare equal.

The recipes follow the reference's own Spark-SQL dialect
(/root/reference/data_diff/databases/databricks.py:87-116), which makes our
checksums bit-identical with every reference dialect (DuckDB, Postgres, ...)
— verified by the golden test against tests/common.py:117-127
(str_to_checksum) and by the DuckDB oracle queries.

Everything here is a plain Column expression: JVM-side, whole-stage
codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Optional, Sequence, Tuple, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_diff_spark.constants import (
    CHECKSUM_OFFSET,
    CHECKSUM_SUBSTR_POS,
    CHECKSUM_SUM_LO_BITS,
    DEFAULT_DATETIME_PRECISION,
    DEFAULT_NUMERIC_PRECISION,
    FINGERPRINT_SEP,
    NULL_LITERAL,
)

ColumnOrName = Union[Column, str]


def _to_col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_timestamp(col: ColumnOrName, precision: int = DEFAULT_DATETIME_PRECISION) -> Column:
    """Render a timestamp as 'YYYY-MM-DD HH:MM:SS.FFFFFF' (microsecond-padded).

    Digits beyond ``precision`` are truncated, then the string is padded back
    to 6 fractional digits with zeros — exactly the reference's canonical
    form (databricks.py:93-107, non-rounding path).
    """
    col = _to_col(col)
    if not 0 <= precision <= 6:
        raise ValueError(f"timestamp precision must be in [0, 6], got {precision}")
    fmt = "yyyy-MM-dd HH:mm:ss." + "S" * precision + "0" * (6 - precision)
    return F.date_format(col, fmt)


def normalize_date(col: ColumnOrName) -> Column:
    return F.date_format(_to_col(col), "yyyy-MM-dd")


def normalize_time(
    col: ColumnOrName,
    precision: int = DEFAULT_DATETIME_PRECISION,
    data_type: Optional[T.DataType] = None,
) -> Column:
    """Render a time-of-day as 'HH:MM:SS.FFFFFF' — the reference's `Time`
    column type (database_types.py:157-161), which Spark has no native
    type for. Two physical encodings are supported:

      - TimestampType at the epoch day: what spark.read.jdbc yields for a
        SQL TIME column (value = 1970-01-01 + time). date_format with a
        time-only pattern drops the date part, so a JDBC TIME side
        normalizes identically to a remote dialect rendering time-only.
      - DayTimeIntervalType (pass it as `data_type`): converted through
        its exact microsecond count.

    Truncate-then-pad semantics match normalize_timestamp. The generic
    normalize_as_string dispatch cannot infer "TIME" from a Spark schema
    (both encodings are also legitimate non-TIME types), so callers apply
    this per column — the same place the reference gets it from the
    remote schema (information_schema data_type)."""
    col = _to_col(col)
    if not 0 <= precision <= 6:
        raise ValueError(f"time precision must be in [0, 6], got {precision}")
    fmt = "HH:mm:ss." + "S" * precision + "0" * (6 - precision)
    if isinstance(data_type, T.DayTimeIntervalType):
        # exact: decimal(20,6) carries the full µs resolution of the interval
        us = (col.cast(T.DecimalType(20, 6)) * 1_000_000).cast("long")
        col = F.timestamp_micros(us)
    return F.date_format(col, fmt)


def normalize_number(col: ColumnOrName, precision: int = DEFAULT_NUMERIC_PRECISION) -> Column:
    """Render a number as a fixed-point string with ``precision`` fractional digits.

    cast → decimal(38, p) (HALF_UP, matching DuckDB/Postgres renderings), then
    format and strip grouping commas (databricks.py:109-113).

    try_cast, not cast: a double past the decimal(38,p) envelope
    (|x| >= 1e32 at p=6) must fingerprint as '<null>' deterministically —
    under Spark 4's ANSI default a plain cast would instead abort the
    whole diff job with NUMERIC_VALUE_OUT_OF_RANGE, and under non-ANSI it
    NULLs anyway; try_cast gives the NULL behavior regardless of the
    session's ansi flag. The SQLite dnorm mirror clamps identically
    (operators/remote.py).
    """
    col = _to_col(col)
    value = col.try_cast(T.DecimalType(38, precision))
    if precision > 0:
        return F.replace(F.format_number(value, precision), F.lit(","), F.lit(""))
    return value.cast("string")


def normalize_boolean(col: ColumnOrName) -> Column:
    """'0' / '1' (databricks.py:115-116)."""
    return _to_col(col).cast("int").cast("string")


def normalize_uuid(col: ColumnOrName) -> Column:
    """Trim whitespace; keep casing (reference base.py:848-852)."""
    return F.trim(_to_col(col))


def normalize_json(col: ColumnOrName) -> Column:
    """Canonicalize a JSON document held in a string column.

    The reference compares JSON minified (base.py:858-860) with a Python-side
    equivalence fallback (utils.py:522-536). In Spark we canonicalize
    structurally: parse to VariantType and re-serialize, which minifies and
    normalizes number forms without leaving the JVM.
    """
    col = _to_col(col)
    return F.to_json(F.try_parse_json(col))


def normalize_as_string(
    col: ColumnOrName,
    data_type: T.DataType,
    precision: Optional[int] = None,
) -> Column:
    """Dispatch on the Spark type — the NormalizeAsString equivalent
    (reference base.py:866-896)."""
    col = _to_col(col)
    if isinstance(data_type, (T.TimestampType, T.TimestampNTZType)):
        return normalize_timestamp(col, DEFAULT_DATETIME_PRECISION if precision is None else precision)
    if isinstance(data_type, T.DateType):
        return normalize_date(col)
    if isinstance(data_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return col.cast("string")
    if isinstance(data_type, T.DecimalType):
        return normalize_number(col, data_type.scale if precision is None else precision)
    if isinstance(data_type, (T.FloatType, T.DoubleType)):
        return normalize_number(col, DEFAULT_NUMERIC_PRECISION if precision is None else precision)
    if isinstance(data_type, T.BooleanType):
        return normalize_boolean(col)
    if isinstance(data_type, T.StringType):
        return col
    if isinstance(data_type, T.BinaryType):
        return F.lower(F.hex(col))
    if isinstance(data_type, (T.ArrayType, T.MapType, T.StructType)):
        # Arrays/structs are compared as their JSON string (reference
        # base.py:858-864, bigquery.py:209-214).
        return F.to_json(col)
    # UnknownColType fallback (reference database_types.py:303-308).
    return col.cast("string")


def normalized_columns(
    schema: T.StructType,
    columns: Sequence[str],
    precision_overrides: Optional[Mapping[str, int]] = None,
    kind_overrides: Optional[Mapping[str, str]] = None,
) -> list[Column]:
    """Normalize each named column per its schema type; keeps original names.

    kind_overrides marks string columns with refined semantic kinds
    (refine.py / the reference's _refine_coltypes): 'uuid' → trim,
    'json' → structural canonicalization, 'alphanum' → comparison-neutral
    (detection parity only; the reference uses it for key-space
    arithmetic Spark doesn't need).
    """
    by_name = {f.name: f for f in schema.fields}
    overrides = precision_overrides or {}
    kinds = kind_overrides or {}
    out = []
    for name in columns:
        f = by_name[name]
        kind = kinds.get(name)
        if kind == "uuid":
            expr = normalize_uuid(F.col(name))
        elif kind == "json":
            expr = normalize_json(F.col(name))
        else:
            expr = normalize_as_string(F.col(name), f.dataType, overrides.get(name))
        out.append(expr.alias(name))
    return out


def row_fingerprint(normalized: Iterable[Column]) -> Column:
    """Concatenate normalized column strings: coalesce(x, '<null>') joined by '|'.

    Exact concat semantics of the reference's Checksum node
    (base.py:411-421, 423-443): NULL → '<null>', separator '|'.
    """
    parts = [F.coalesce(c, F.lit(NULL_LITERAL)) for c in normalized]
    if not parts:
        raise ValueError("row_fingerprint needs at least one column")
    if len(parts) == 1:
        return parts[0]
    return F.concat_ws(FINGERPRINT_SEP, *parts)


def md5_as_int(col: ColumnOrName) -> Column:
    """Low 12 hex digits of md5, as a long centered at 0.

    Reference Spark-SQL recipe databricks.py:87-88:
        cast(conv(substr(md5(s), 21), 16, 10) as decimal(38, 0)) - OFFSET
    Here the cast is to long instead: 12 hex digits are 48 bits, so the
    centered value lies in [-(2**47 - 1), 2**47] and one 8-byte long holds
    it exactly. The reference needs decimal(38,0) only for headroom in
    sum(); sum these with checksum_sum, which is exact without it.
    """
    col = _to_col(col)
    raw = F.conv(F.substring(F.md5(col), CHECKSUM_SUBSTR_POS, 1000), 16, 10)
    return raw.cast("long") - F.lit(CHECKSUM_OFFSET)


def checksum_sum(cks: ColumnOrName) -> Tuple[Column, Column]:
    """Exact sum(cks) of a long checksum column as two long aggregates
    (hi, lo) with sum = hi * 2**24 + lo and 0 <= lo < 2**24. Both halves
    are summed separately and lo's overflow is carried into hi, so the pair
    is canonical: equal sums give equal pairs. A single long sum could
    overflow (and raise, under ANSI) once ~2**16 same-sign 48-bit values
    share a group; the halves overflow only past 2**39 rows. NULL pair if
    the group holds no non-NULL value. Python-side value: checksum_value."""
    cks = _to_col(cks)
    mask = (1 << CHECKSUM_SUM_LO_BITS) - 1
    hi = F.sum(F.shiftright(cks, CHECKSUM_SUM_LO_BITS))
    lo = F.sum(cks.bitwiseAND(F.lit(mask)))
    return hi + F.shiftright(lo, CHECKSUM_SUM_LO_BITS), lo.bitwiseAND(F.lit(mask))


def checksum_value(hi: Optional[int], lo: Optional[int]) -> Optional[int]:
    """The Python int that checksum_sum's (hi, lo) pair encodes."""
    return None if hi is None else (hi << CHECKSUM_SUM_LO_BITS) + lo


def row_checksum(
    schema: T.StructType,
    columns: Sequence[str],
    precision_overrides: Optional[Mapping[str, int]] = None,
    kind_overrides: Optional[Mapping[str, str]] = None,
) -> Column:
    """Per-row checksum column: md5_as_int(fingerprint(normalized columns)),
    a long (the reference's decimal(38,0), narrowed: 48 bits fit).

    The sum of this column over any row set is the reference's segment
    checksum (table_segment.py:239-258); equal row multisets ⇒ equal sums.
    Take that sum with checksum_sum, not a single long sum().
    """
    normd = normalized_columns(schema, columns, precision_overrides, kind_overrides)
    return md5_as_int(row_fingerprint(normd))
