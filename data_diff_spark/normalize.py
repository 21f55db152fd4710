"""Canonical value normalization and row checksums, as Spark Column expressions.

This is the Spark re-expression of the reference's NormalizeAsString /
Checksum layer (/root/reference/data_diff/databases/base.py:808-896 and
:411-421). Every value is rendered to one canonical string so that two
physically different encodings of the same logical value (timestamp
precisions, decimal vs double, boolean vs int) compare equal.

The strings follow the reference's own Spark-SQL dialect
(/root/reference/data_diff/databases/databricks.py:87-116), which makes our
checksums bit-identical with every reference dialect (DuckDB, Postgres, ...)
— verified by the golden test against tests/common.py:117-127
(str_to_checksum) and by the DuckDB oracle queries. Where a cast gives
the same string as that dialect's recipe, Spark builds it with the cast.

Both diff operators take each column pair's form from compared_forms:
raw where both sides hold one exact type, bigint across integer widths,
the canonical string otherwise. join_diff joins and flags on those forms,
a Spark-Spark hash_diff hashes, groups and joins them, so the two give
the same rows on unique keys.

Everything here is a plain Column expression: JVM-side, whole-stage
codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from typing import Callable, Iterable, List, Mapping, Optional, Sequence, Tuple, Union

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
    form (databricks.py:93-107, non-rounding path). A cast rebuild (date_trunc +
    lpad(pmod(unix_micros, 10**6))) is bit-identical but slower: 0.66 → 0.91 s on
    4M rows, 4 cores."""
    col = _to_col(col)
    if not 0 <= precision <= 6:
        raise ValueError(f"timestamp precision must be in [0, 6], got {precision}")
    fmt = "yyyy-MM-dd HH:mm:ss." + "S" * precision + "0" * (6 - precision)
    return F.date_format(col, fmt)


def normalize_date(col: ColumnOrName) -> Column:
    """'YYYY-MM-DD' by cast: the string date_format(col, 'yyyy-MM-dd') gives,
    BCE and 5-digit years too, under either ANSI or time-parser policy."""
    return _to_col(col).cast("string")


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


_PLAIN_CAST_MAX_SCALE = 6  # past it, a non-ANSI decimal cast can print E-notation


def normalize_number(col: ColumnOrName, precision: int = DEFAULT_NUMERIC_PRECISION) -> Column:
    """Render a number as a fixed-point string with ``precision`` fractional digits.

    try_cast → decimal(38, p) (HALF_UP, matching DuckDB/Postgres), then cast
    → string: the same output as the reference recipe replace(format_number(
    x, p), ',', '') (databricks.py:109-113). Only scales above 6 keep that
    recipe: with ANSI off Spark casts through BigDecimal.toString, which is
    E-notation once the adjusted exponent is below -6 (0 at scale 10 is
    '0E-10'), and a library cannot choose its caller's ANSI flag.

    try_cast, not cast: past the envelope (|x| >= 1e32 at p=6) it is NULL under
    either ANSI setting, where cast aborts the diff under ANSI; the SQLite
    dnorm mirror (operators/remote.py) clamps identically.
    """
    col = _to_col(col)
    value = col.try_cast(T.DecimalType(38, precision))
    if precision > _PLAIN_CAST_MAX_SCALE:
        return F.replace(F.format_number(value, precision), F.lit(","), F.lit(""))
    return value.cast("string")


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
    if isinstance(data_type, T.DecimalType):
        return normalize_number(col, data_type.scale if precision is None else precision)
    if isinstance(data_type, (T.FloatType, T.DoubleType)):
        return normalize_number(col, DEFAULT_NUMERIC_PRECISION if precision is None else precision)
    if isinstance(data_type, T.BooleanType):
        return col.cast("int").cast("string")  # '0' / '1' (databricks.py:115-116)
    if isinstance(data_type, T.StringType):
        return col
    if isinstance(data_type, T.BinaryType):
        return F.lower(F.hex(col))
    if isinstance(data_type, (T.ArrayType, T.MapType, T.StructType)):
        # Arrays/structs are compared as their JSON string (reference
        # base.py:858-864, bigquery.py:209-214).
        return F.to_json(col)
    # Integers, and the UnknownColType fallback (reference database_types.py:303-308).
    return col.cast("string")


def canonical_column(
    col: Column, data_type: T.DataType, precision: Optional[int] = None, kind: Optional[str] = None
) -> Column:
    """One column's canonical string. kind marks a string column with a
    refined semantic kind (refine.py / the reference's _refine_coltypes):
    'uuid' → trim, 'json' → structural canonicalization, 'alphanum' →
    comparison-neutral (detection parity only; the reference uses it for
    key-space arithmetic Spark doesn't need)."""
    if kind == "uuid":
        return normalize_uuid(col)
    if kind == "json":
        return normalize_json(col)
    return normalize_as_string(col, data_type, precision)


def normalized_columns(
    schema: T.StructType,
    columns: Sequence[str],
    precision_overrides: Optional[Mapping[str, int]] = None,
    kind_overrides: Optional[Mapping[str, str]] = None,
) -> list[Column]:
    """Each named column's canonical string (canonical_column); keeps the
    original names."""
    overrides = precision_overrides or {}
    kinds = kind_overrides or {}
    return [canonical_column(F.col(name), schema[name].dataType, overrides.get(name), kinds.get(name))
            .alias(name) for name in columns]


# types whose raw values compare as they are when both sides hold the same
# one. Floats too: their canonical string rounds to 6 digits, but eqNullSafe,
# xxhash64, groupBy and joins all treat 0.0 as -0.0 and every NaN as one value
_RAW_TYPES = (T.IntegralType, T.DecimalType, T.FloatType, T.DoubleType, T.StringType,
              T.DateType, T.TimestampType, T.TimestampNTZType, T.BooleanType, T.BinaryType)

RAW, BIGINT, CANONICAL = "raw", "bigint", "canonical"


def compared_forms(
    t1, t2, cols1: Sequence[str], cols2: Sequence[str],
    col1: Callable[[str], Column] = F.col, col2: Callable[[str], Column] = F.col,
) -> List[Tuple[str, Column, Column]]:
    """THE comparison rule of both diff operators: for each compared column
    pair of segments t1 and t2 (cols1[i] with cols2[i], the keys first), its
    form and each side's Column in it, the side's column read by col1/col2:

      RAW        both sides hold one exact _RAW_TYPES type and neither has
                 a precision or kind override: the columns as they are
      BIGINT     both sides are integral (of different widths, or with a
                 precision override) and neither has a kind override: both
                 cast to bigint, which is equal exactly when the canonical
                 digit strings are
      CANONICAL  every other pair: each side's canonical string
                 (canonical_column), so a date never equals a timestamp nor
                 an int the string '01', and maps, arrays and structs
                 compare as their JSON

    A RAW pair only separates what the canonical strings merge (a NULL vs
    a literal '<null>' string, two instants of a DST fall-back hour)."""
    out = []
    for c1, c2 in zip(cols1, cols2):
        d1, d2 = t1.schema[c1].dataType, t2.schema[c2].dataType
        p1, p2 = t1.precision_overrides.get(c1), t2.precision_overrides.get(c2)
        k1, k2 = t1.kind_overrides.get(c1), t2.kind_overrides.get(c2)
        if d1 == d2 and isinstance(d1, _RAW_TYPES) and p1 is None and p2 is None and not (k1 or k2):
            out.append((RAW, col1(c1), col2(c2)))
        elif isinstance(d1, T.IntegralType) and isinstance(d2, T.IntegralType) and not (k1 or k2):
            out.append((BIGINT, col1(c1).cast("bigint"), col2(c2).cast("bigint")))
        else:
            out.append((CANONICAL, canonical_column(col1(c1), d1, p1, k1),
                        canonical_column(col2(c2), d2, p2, k2)))
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
