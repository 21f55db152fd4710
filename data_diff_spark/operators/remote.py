"""Cross-engine hashdiff: one side in Spark, the other in a remote SQL
engine that computes its own bucket digests.

This is the reference's core scenario — diff a table you can scan with
Spark against one that lives in PostgreSQL/Snowflake/DuckDB — re-expressed
for the bucketed algorithm (operators/hashdiff.py): the remote side never
ships rows for matching buckets; it runs ONE digest query

    SELECT bucket, count(*), sum(md5_as_int(fingerprint(normalized cols)))
    GROUP BY bucket

using the exact checksum formula of the reference's dialects (bit-identical
to our normalize.py — that equivalence is what the golden tests pin), and
ships only digest rows plus the rows of mismatched buckets. The diff is
hashdiff.hash_diff with this side as its second side: its phase 2 and
emission, with RemotePair's choices (one level, rows fetched once).

Three layers, mirroring the reference's dialect/adapter split
(data_diff/databases/base.py + the 13 per-database files):

  RemoteDialect   per-engine SQL rendering (normalization strings, the
                  md5->int48 checksum, the bucket hash). Adding an engine
                  = the reference's md5_as_int/normalize_* recipe for it
                  (~10 lines).
  RemoteSide      the second-side contract hash_diff consumes (through
                  RemotePair): bucket_digests() + fetch_bucket_rows(). It
                  renders the digest and fetch SQL once for every adapter;
                  an adapter implements only execution: _query(sql) -> rows
                  (a DB-API default) and _frame(spark, schema, sql) ->
                  DataFrame.
  DuckDBSide      in-process DB-API adapter (DuckDB stands in for any
                  reference dialect available as a local connection).
  SQLiteSide      in-process stdlib sqlite3 adapter — the THIRD dialect
                  this sandbox executes LIVE (md5/bucket/double-norm as
                  registered deterministic functions, the Derby CREATE
                  FUNCTION analogue).
  JdbcSide        any JDBC database: both the digest query and the
                  mismatched-row fetch are pushed down as JDBC source
                  queries (spark.read.jdbc query=...), so the remote
                  engine does the hashing and only digests + differing
                  rows cross the wire. Embedded Derby drives it live
                  (tests/test_jdbc_derby.py); other tests inject a reader
                  that routes the generated SQL to DuckDB.

Scale notes: network transfer is O(n_buckets + differing rows), same as the
reference's checksum-then-download model; the Spark side stays fully
distributed. Bucket alignment uses a cross-engine-stable key hash
(md5-based, not xxhash64 — xxhash64 exists only in Spark).
"""

from __future__ import annotations

import re
from typing import Callable, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_diff_spark.constants import CHECKSUM_OFFSET, DEFAULT_NUMERIC_PRECISION
from data_diff_spark.normalize import CANONICAL, checksum_sum, checksum_value, normalized_columns
from data_diff_spark.operators.hashdiff import (
    _AUTO_ROWS_PER_BUCKET,
    _BUCKET,
    _CKS,
    _KHASH,
    _annotated_keys,
    _bucketed,
    _dirty_buckets,
    _emit_rows,
    _knorm,
    _md5_key_hash,
    _restrict_join,
    _side,
    hash_diff,
)
from data_diff_spark.table import TableSegment

_MAX_BUCKETS = 1 << 20  # the one digest level's cap: 16 rows a bucket up to ~16.7M rows

_DECIMAL_RE = re.compile(r"(?:DECIMAL|NUMERIC)\s*\(\s*\d+\s*,\s*(\d+)\s*\)")
_FLOAT_TYPES = ("DOUBLE", "FLOAT", "REAL", "DOUBLE PRECISION", "FLOAT8", "FLOAT4")
_INT_TYPES = ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT",
              "UBIGINT", "UINTEGER", "INT", "INT2", "INT4", "INT8")


def _decimal_scale(t: str) -> int:
    """Declared scale of an upper-cased DECIMAL/NUMERIC type (6 if bare)."""
    m = _DECIMAL_RE.match(t)
    return int(m.group(1)) if m else 6


# --- dialects ---------------------------------------------------------------


class RemoteDialect:
    """Per-engine SQL renderings of the canonical normalization + checksum
    (reference BaseDialect.md5_as_int/normalize_*, databases/base.py:799-896).
    Subclasses override the engine-specific pieces only."""

    name = "generic"
    # Most engines accept GROUP BY <ordinal>; Derby needs the expression.
    group_by_ordinal = True
    # How the engine folds UNQUOTED identifiers: 'upper' | 'lower' | None.
    # Set only where execution-verified (Derby); drives ident() below.
    fold = None

    def ident(self, name: str) -> str:
        """Render a column identifier: quote it iff the engine's unquoted
        fold could not find it. Spark's JDBC writer creates quoted
        lowercase columns, which an upper-folding engine (Derby) can only
        reach quoted."""
        if name.startswith('"'):
            return name
        if self.fold == "upper" and name != name.upper():
            return f'"{name}"'
        if self.fold == "lower" and name != name.lower():
            return f'"{name}"'
        return name

    def ts_literal(self, dt) -> str:
        """Render a datetime as a SQL timestamp literal (standard form;
        engines that reject it override — Derby only takes the TIMESTAMP()
        function form, verified live)."""
        s = dt.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{dt.microsecond:06d}" if dt.microsecond else "")
        return f"TIMESTAMP '{s}'"

    def concat_ws_sql(self, parts: Sequence[str]) -> str:
        """'|'-joined fingerprint concatenation (parts are already
        null-coalesced). Engines without concat_ws override with `||`."""
        return f"concat_ws('|', {', '.join(parts)})"

    def alias_sql(self, name: str) -> str:
        """Render an AS alias. Engines that fold unquoted identifiers and
        reject leading underscores (Derby) override with quoting."""
        return name

    def select_col_sql(self, col: str, sql_type: str) -> str:
        """Render a column for the phase-2 row fetch. Engines whose JDBC
        driver cannot hand certain types to the reader as-is (Derby CLOB
        -> getString raises 22005) override with a cast."""
        return col

    def norm_sql(self, col: str, sql_type: str) -> str:
        """Render a column to the canonical comparison string of
        normalize.py (reference NormalizeAsString)."""
        t = sql_type.upper()
        if t.startswith(("DECIMAL", "NUMERIC")):
            # the column's OWN scale, like Spark normalize_as_string
            return f"cast(cast({col} as decimal(38,{_decimal_scale(t)})) as varchar)"
        if t in _FLOAT_TYPES:
            # via varchar: engines convert double->decimal through float
            # multiplication, which is inexact beyond 2^53/10^scale
            # (DuckDB renders 576460752305.0 as ...304.999936); the
            # shortest-repr string round-trip matches Spark's
            # BigDecimal.valueOf(double) semantics for all doubles
            # (property-fuzzed in tests/test_properties.py).
            # Sub-half-ulp guard: varchar->decimal parsers round on the
            # first SIGNIFICANT dropped digit regardless of position
            # (DuckDB: 5e-324 -> 0.000001); Spark rounds those to zero.
            via = f"cast(cast(cast({col} as varchar) as decimal(38,6)) as varchar)"
            zero = "cast(cast(0 as decimal(38,6)) as varchar)"
            return f"(case when abs({col}) < 5e-7 then {zero} else {via} end)"
        if "TIMESTAMP" in t:
            return self.norm_timestamp_sql(col)
        if t == "DATE":
            return self.norm_date_sql(col)
        if t in ("BOOLEAN", "BOOL"):
            return f"cast(cast({col} as int) as varchar)"
        if t in _INT_TYPES:
            return f"cast({col} as varchar)"
        return col  # VARCHAR/TEXT

    def norm_timestamp_sql(self, col: str) -> str:
        raise NotImplementedError

    def norm_date_sql(self, col: str) -> str:
        raise NotImplementedError

    def md5_as_int_sql(self, s: str) -> str:
        """Low 12 hex digits of md5 as a bigint, centered (reference
        md5_as_int per dialect)."""
        raise NotImplementedError

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        """First 8 md5 hex digits of the key fingerprint, mod n_buckets —
        must match pmod of hashdiff._md5_key_hash bit-for-bit."""
        raise NotImplementedError


class DuckDBDialect(RemoteDialect):
    """Reference duckdb.py:105-116 renderings."""

    name = "duckdb"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S.%f')"

    def norm_date_sql(self, col: str) -> str:
        return f"strftime({col}, '%Y-%m-%d')"

    def md5_as_int_sql(self, s: str) -> str:
        return f"(('0x' || substring(md5({s}), 21, 12))::BIGINT - {CHECKSUM_OFFSET})"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"(('0x' || substring(md5({key_fp}), 1, 8))::BIGINT % {n_buckets})"


class PostgresDialect(RemoteDialect):
    """Reference postgresql.py:107-173 renderings (the ::bit(48) checksum)."""

    name = "postgresql"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"to_char({col}::timestamp(6), 'YYYY-MM-DD HH24:MI:SS.US')"

    def norm_date_sql(self, col: str) -> str:
        return f"to_char({col}, 'YYYY-MM-DD')"

    def md5_as_int_sql(self, s: str) -> str:
        return f"('x' || substring(md5({s}), 21))::bit(48)::bigint - {CHECKSUM_OFFSET}"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"mod(('x' || substring(md5({key_fp}), 1, 8))::bit(32)::bigint, {n_buckets})"


class MySQLDialect(RemoteDialect):
    """Reference mysql.py:102-119: conv() hex parse, datetime(6) canon."""

    name = "mysql"

    def norm_timestamp_sql(self, col: str) -> str:
        # cast to datetime(6) renders 'YYYY-MM-DD HH:MM:SS.ffffff'
        return f"cast(cast({col} as datetime(6)) as char)"

    def norm_date_sql(self, col: str) -> str:
        return f"date_format({col}, '%Y-%m-%d')"

    def md5_as_int_sql(self, s: str) -> str:
        return f"(conv(substring(md5({s}), 21), 16, 10) - {CHECKSUM_OFFSET})"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"(conv(substring(md5({key_fp}), 1, 8), 16, 10) % {n_buckets})"


class ClickHouseDialect(RemoteDialect):
    """Reference clickhouse.py:104-167: little-endian reinterpret of the
    md5 tail; formatDateTime + padded fractional seconds."""

    name = "clickhouse"

    def norm_timestamp_sql(self, col: str) -> str:
        frac = f"lpad(toString(toUnixTimestamp64Micro(toDateTime64({col}, 6)) % 1000000), 6, '0')"
        return f"formatDateTime({col}, '%Y-%m-%d %H:%M:%S') || '.' || {frac}"

    def norm_date_sql(self, col: str) -> str:
        return f"formatDateTime({col}, '%Y-%m-%d')"

    def md5_as_int_sql(self, s: str) -> str:
        return (
            f"(reinterpretAsUInt64(reverse(unhex(substr(hex(MD5({s})), 21)))) "
            f"- {CHECKSUM_OFFSET})"
        )

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return (
            f"(reinterpretAsUInt32(reverse(unhex(substr(hex(MD5({key_fp})), 1, 8)))) "
            f"% {n_buckets})"
        )


class SnowflakeDialect(RemoteDialect):
    """Reference snowflake.py:79-104: native md5_number_lower64 + mask."""

    name = "snowflake"
    _MASK = (1 << 48) - 1  # CHECKSUM_HEXDIGITS=12 -> low 48 bits

    def norm_timestamp_sql(self, col: str) -> str:
        return f"to_char({col}::timestamp(6), 'YYYY-MM-DD HH24:MI:SS.FF6')"

    def norm_date_sql(self, col: str) -> str:
        return f"to_char({col}, 'YYYY-MM-DD')"

    def md5_as_int_sql(self, s: str) -> str:
        return f"(bitand(md5_number_lower64({s}), {self._MASK}) - {CHECKSUM_OFFSET})"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        # first 8 hex digits = top 32 bits of the upper half
        return f"mod(bitshiftright(md5_number_upper64({key_fp}), 32), {n_buckets})"


class MsSQLDialect(RemoteDialect):
    """Reference mssql.py:157-161: HashBytes + varbinary reinterpret."""

    name = "mssql"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"format({col}, 'yyyy-MM-dd HH:mm:ss.ffffff')"

    def norm_date_sql(self, col: str) -> str:
        return f"format({col}, 'yyyy-MM-dd')"

    def md5_as_int_sql(self, s: str) -> str:
        hexs = f"CONVERT(NVARCHAR(32), HashBytes('MD5', {s}), 2)"
        return (
            f"(convert(bigint, convert(varbinary, '0x' + RIGHT({hexs}, 12), 1)) "
            f"- {CHECKSUM_OFFSET})"
        )

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        hexs = f"CONVERT(NVARCHAR(32), HashBytes('MD5', {key_fp}), 2)"
        return f"(convert(bigint, convert(varbinary, '0x' + LEFT({hexs}, 8), 1)) % {n_buckets})"


class OracleDialect(RemoteDialect):
    """Reference oracle.py:128-151: standard_hash + to_number hex format."""

    name = "oracle"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"to_char({col}, 'YYYY-MM-DD HH24:MI:SS.FF6')"

    def norm_date_sql(self, col: str) -> str:
        return f"to_char({col}, 'YYYY-MM-DD')"

    def md5_as_int_sql(self, s: str) -> str:
        return (
            f"(to_number(substr(standard_hash({s}, 'MD5'), 21), "
            f"'xxxxxxxxxxxx') - {CHECKSUM_OFFSET})"
        )

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return (
            f"mod(to_number(substr(standard_hash({key_fp}, 'MD5'), 1, 8), "
            f"'xxxxxxxx'), {n_buckets})"
        )


class BigQueryDialect(RemoteDialect):
    """Reference bigquery.py:160-221: to_hex(md5()) + int64 hex literal."""

    name = "bigquery"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"format_timestamp('%F %H:%M:%E6S', {col})"

    def norm_date_sql(self, col: str) -> str:
        return f"format_date('%F', {col})"

    def md5_as_int_sql(self, s: str) -> str:
        return (
            f"(cast(cast(concat('0x', substr(to_hex(md5({s})), 21)) as int64) "
            f"as numeric) - {CHECKSUM_OFFSET})"
        )

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return (
            f"mod(cast(concat('0x', substr(to_hex(md5({key_fp})), 1, 8)) as int64), "
            f"{n_buckets})"
        )


class TrinoDialect(RemoteDialect):
    """Reference presto.py:121-144 (trino.py inherits it): from_base over
    the utf8-md5 hex."""

    name = "trino"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"date_format(cast({col} as timestamp(6)), '%Y-%m-%d %H:%i:%S.%f')"

    def norm_date_sql(self, col: str) -> str:
        return f"date_format(cast({col} as date), '%Y-%m-%d')"

    def md5_as_int_sql(self, s: str) -> str:
        return (
            f"(cast(from_base(substr(to_hex(md5(to_utf8({s}))), 21), 16) "
            f"as decimal(38, 0)) - {CHECKSUM_OFFSET})"
        )

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"mod(from_base(substr(to_hex(md5(to_utf8({key_fp}))), 1, 8), 16), {n_buckets})"


class RedshiftDialect(PostgresDialect):
    """Reference redshift.py:52-77: strtol instead of the bit(48) trick;
    otherwise Postgres-shaped."""

    name = "redshift"

    def md5_as_int_sql(self, s: str) -> str:
        return f"(strtol(substring(md5({s}), 21), 16)::decimal(38) - {CHECKSUM_OFFSET})"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"mod(strtol(substring(md5({key_fp}), 1, 8), 16), {n_buckets})"


class VerticaDialect(RemoteDialect):
    """Reference vertica.py:106-134: HEX_TO_INTEGER."""

    name = "vertica"

    def norm_timestamp_sql(self, col: str) -> str:
        return f"TO_CHAR({col}::TIMESTAMP(6), 'YYYY-MM-DD HH24:MI:SS.US')"

    def norm_date_sql(self, col: str) -> str:
        return f"TO_CHAR({col}, 'YYYY-MM-DD')"

    def md5_as_int_sql(self, s: str) -> str:
        return (
            f"(CAST(HEX_TO_INTEGER(SUBSTRING(MD5({s}), 21)) AS NUMERIC(38, 0)) "
            f"- {CHECKSUM_OFFSET})"
        )

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"MOD(HEX_TO_INTEGER(SUBSTRING(MD5({key_fp}), 1, 8)), {n_buckets})"


class DerbyDialect(RemoteDialect):
    """Apache Derby (embedded) — the ONE dialect this sandbox can execute
    LIVE, because Spark ships the Derby jars (its Hive-metastore backend).
    tests/test_jdbc_derby.py drives JdbcSide end-to-end against a real
    embedded Derby database through spark.read.jdbc — the reference's
    live-adapter scenario (databases/_connect.py) with an actually-running
    second engine, not an injected stand-in.

    Derby has no md5()/format functions, but supports CREATE FUNCTION over
    any public static Java method on the classpath; DERBY_SETUP_SQL
    registers md5 (commons-codec, shipped with Spark), hex-parse
    (Long.parseLong) and double-repr (Double.toString), from which the
    canonical checksum assembles exactly. Quirks handled here, all verified
    against Derby 10.16:
      - numeric -> VARCHAR casts are illegal; numeric -> CHAR + TRIM works
      - no concat_ws; `||` with pre-coalesced parts
      - GROUP BY ordinal is illegal; the bucket expression is repeated
      - unquoted identifiers fold to UPPERCASE and may not start with `_`;
        aliases like __cks__ must be quoted
      - timestamp -> VARCHAR renders a variable-length fraction ('.0',
        '.12'); zero-padding via substr reconstructs the canonical
        6-digit form
    Known deviation: Derby's varchar->decimal cast TRUNCATES extra
    fractional digits where Spark rounds HALF_UP, so double columns whose
    values carry >6 significant fractional digits can checksum-mismatch
    (surfacing as false diffs, never missed ones). Columns with defined
    scale (money, quantity) are unaffected.
    """

    name = "derby"
    group_by_ordinal = False
    fold = "upper"  # unquoted identifiers fold to UPPERCASE (verified live)

    def ts_literal(self, dt) -> str:
        # Derby rejects the standard TIMESTAMP '...' literal (42X01);
        # the TIMESTAMP('...') function form parses fractional seconds too
        s = dt.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{dt.microsecond:06d}" if dt.microsecond else "")
        return f"TIMESTAMP('{s}')"

    def concat_ws_sql(self, parts: Sequence[str]) -> str:
        return "(" + " || '|' || ".join(parts) + ")"

    def alias_sql(self, name: str) -> str:
        return f'"{name}"'

    def select_col_sql(self, col: str, sql_type: str) -> str:
        # Derby's driver refuses getString on a CLOB (22005); ship the
        # fetched rows as VARCHAR, aliased back to the column name (Spark's
        # JDBC source re-projects the wrapped query BY NAME)
        if sql_type.upper() == "CLOB":
            return f"cast({col} as varchar(32672)) as {col}"
        return col

    def norm_sql(self, col: str, sql_type: str) -> str:
        t = sql_type.upper()
        if t.startswith(("DECIMAL", "NUMERIC")):
            return f"trim(cast(cast({col} as decimal(31,{_decimal_scale(t)})) as char(42)))"
        if t in ("DOUBLE", "FLOAT", "REAL", "DOUBLE PRECISION"):
            # Double.toString gives the shortest round-trip repr (same
            # contract as the other engines' varchar hop); Derby's
            # varchar->decimal parser accepts E-notation, and values below
            # half-ulp truncate to 0.000000 — matching Spark's sub-half-ulp
            # zero without an explicit guard.
            return f"trim(cast(cast(DBLSTR({col}) as decimal(31,6)) as char(42)))"
        if "TIMESTAMP" in t:
            return self.norm_timestamp_sql(col)
        if t == "DATE":
            return self.norm_date_sql(col)
        if t == "BOOLEAN":
            # trim() forces VARCHAR: a bare CASE of CHAR literals would
            # coalesce with the CHAR(6) '<null>' filler and blank-pad
            return f"trim(case when {col} then '1' when not {col} then '0' end)"
        if t in ("BIGINT", "INTEGER", "SMALLINT", "INT"):
            return f"trim(cast({col} as char(24)))"
        if t == "CLOB":  # Spark's JDBC writer maps unbounded StringType here
            return f"cast({col} as varchar(32672))"
        return col

    def norm_timestamp_sql(self, col: str) -> str:
        # cast renders 'yyyy-mm-dd hh:mm:ss.f{1,6}' (>=1 fraction digit,
        # '.' always at position 20); right-pad the fraction to 6
        base = f"cast({col} as varchar(29))"
        return (
            f"(substr({base}, 1, 19) || '.' || "
            f"substr(substr({base}, 21) || '000000', 1, 6))"
        )

    def norm_date_sql(self, col: str) -> str:
        return f"cast({col} as varchar(10))"

    def md5_as_int_sql(self, s: str) -> str:
        return f"(HEXLONG(substr(MD5HEX({s}), 21, 12), 16) - {CHECKSUM_OFFSET})"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        return f"mod(HEXLONG(substr(MD5HEX({key_fp}), 1, 8), 16), {n_buckets})"


# Registers the Java-backed SQL functions DerbyDialect renders. All three
# target classes ship in every Spark distribution (commons-codec, JDK), so
# embedded Derby — which runs inside the Spark JVM — always resolves them.
# Against a standalone Derby server, install commons-codec on its classpath.
DERBY_SETUP_SQL = [
    "CREATE FUNCTION MD5HEX(S VARCHAR(32672)) RETURNS VARCHAR(32) "
    "LANGUAGE JAVA PARAMETER STYLE JAVA DETERMINISTIC NO SQL "
    "RETURNS NULL ON NULL INPUT "
    "EXTERNAL NAME 'org.apache.commons.codec.digest.DigestUtils.md5Hex'",
    "CREATE FUNCTION HEXLONG(S VARCHAR(16), R INTEGER) RETURNS BIGINT "
    "LANGUAGE JAVA PARAMETER STYLE JAVA DETERMINISTIC NO SQL "
    "RETURNS NULL ON NULL INPUT "
    "EXTERNAL NAME 'java.lang.Long.parseLong'",
    "CREATE FUNCTION DBLSTR(D DOUBLE) RETURNS VARCHAR(32) "
    "LANGUAGE JAVA PARAMETER STYLE JAVA DETERMINISTIC NO SQL "
    "RETURNS NULL ON NULL INPUT "
    "EXTERNAL NAME 'java.lang.Double.toString'",
]


def derby_setup(spark: SparkSession, url: str) -> None:
    """Idempotently register DERBY_SETUP_SQL on an embedded Derby database,
    via the JDBC driver already living in Spark's JVM (py4j — no Python
    JDBC client needed)."""
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = con.createStatement()
        for ddl in DERBY_SETUP_SQL:
            try:
                st.execute(ddl)
            except Exception as e:  # noqa: BLE001
                if "X0Y68" not in str(e):  # object already exists
                    raise
    finally:
        con.close()


def jdbc_probe_types(spark: SparkSession, url: str, relation_sql: str) -> dict:
    """Column -> engine SQL type-name mapping for a JDBC relation, probed
    with a zero-row select through the driver JVM (the reference's
    select_table_schema, base.py:1031-1039, done portably via JDBC
    metadata)."""
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = con.createStatement().executeQuery(
            f"select * from {relation_sql} where 1=0"
        )
        md = rs.getMetaData()
        out = {}
        for i in range(md.getColumnCount()):
            name = md.getColumnName(i + 1)
            t = md.getColumnTypeName(i + 1)
            if t.upper() in ("DECIMAL", "NUMERIC"):
                # type-name alone loses the scale the normalization needs
                t = f"{t}({md.getPrecision(i + 1)},{md.getScale(i + 1)})"
            out[name] = t
        return out
    finally:
        con.close()


# Databricks (reference databricks.py:87-116) is intentionally absent: its
# dialect IS Spark SQL — this engine's normalize.py renders those exact
# expressions natively, which the golden checksum tests already pin.
class SQLiteDialect(RemoteDialect):
    """SQLite (stdlib sqlite3) — the THIRD dialect this sandbox executes
    LIVE (after embedded Derby and DuckDB). SQLite has no md5 and no
    decimal type, so the checksum/bucket/double-normalization pieces are
    registered as deterministic Python UDFs on the connection
    (SQLiteSide.register — the same move as Derby's CREATE FUNCTION
    registering Java MD5): the ENGINE still evaluates them per row
    inside its own scan, and the SQL this dialect renders is what any
    md5-capable SQLite build would run. Timestamps/dates are ISO-8601
    TEXT (SQLite's own storage convention); normalization pads the
    fractional part to the canonical 6 digits in pure SQL."""

    name = "sqlite"

    def concat_ws_sql(self, parts: Sequence[str]) -> str:
        return " || '|' || ".join(f"({p})" for p in parts)

    def norm_timestamp_sql(self, col: str) -> str:
        # '2020-01-02 03:04:05[.ffffff]' -> exactly 26 chars with 6
        # fractional digits: append '.000000' when there is no fraction,
        # else pad with zeros, then truncate
        return (f"substr({col} || (case when instr({col}, '.') > 0 "
                f"then '000000' else '.000000' end), 1, 26)")

    def norm_date_sql(self, col: str) -> str:
        return f"substr({col}, 1, 10)"

    def md5_as_int_sql(self, s: str) -> str:
        # md5_int = int of the LOW 12 md5 hex digits (registered pure
        # function); the centering offset stays visible in SQL like every
        # other dialect
        return f"(md5_int({s}) - {CHECKSUM_OFFSET})"

    def bucket_sql(self, key_fp: str, n_buckets: int) -> str:
        # md5_bucket(s, 8) = int of the FIRST 8 md5 hex digits
        return f"(md5_bucket({key_fp}, 8) % {n_buckets})"

    def norm_sql(self, col: str, sql_type: str) -> str:
        t = sql_type.upper()
        if t.startswith(("DECIMAL", "NUMERIC")):
            # SQLite has no decimal type (NUMERIC affinity stores int/real),
            # so the base dialect's cast-to-decimal(col_scale) rendering is
            # unavailable; route through the registered dnorm_s at the
            # DECLARED scale so the fingerprint matches Spark's scale-padded
            # decimal string ('1.5' as DECIMAL(10,2) -> '1.50', not '1.5').
            return f"dnorm_s({col}, {_decimal_scale(t)})"
        if t in ("DOUBLE", "REAL", "FLOAT", "DOUBLE PRECISION"):
            return f"dnorm({col})"  # BigDecimal.valueOf + HALF_UP mirror
        if "TIMESTAMP" in t or t == "DATETIME":
            return self.norm_timestamp_sql(col)
        if t == "DATE":
            return self.norm_date_sql(col)
        if t in ("BOOLEAN", "BOOL"):
            return f"cast({col} as text)"  # stored 0/1 integers
        if t in ("BIGINT", "INTEGER", "INT", "SMALLINT", "TINYINT", "INT8"):
            return f"cast({col} as text)"
        return col  # TEXT


DIALECTS = {
    d.name: d
    for d in (
        DuckDBDialect(), PostgresDialect(), MySQLDialect(), ClickHouseDialect(),
        SnowflakeDialect(), MsSQLDialect(), OracleDialect(), BigQueryDialect(),
        TrinoDialect(), RedshiftDialect(), VerticaDialect(), DerbyDialect(),
        SQLiteDialect(),
    )
}


# --- shared SQL assembly ----------------------------------------------------


def _fingerprint_sql(dialect: RemoteDialect, columns: Sequence[str],
                     types: Mapping[str, str]) -> str:
    parts = [
        f"coalesce({dialect.norm_sql(c, types[c])}, '<null>')" for c in columns
    ]
    return dialect.concat_ws_sql(parts)


def digest_query_sql(dialect: RemoteDialect, relation_sql: str,
                     key_columns: Sequence[str], columns: Sequence[str],
                     types: Mapping[str, str], n_buckets: int) -> str:
    """The ONE remote aggregation query: (bucket, count, checksum-sum)."""
    cks = dialect.md5_as_int_sql(_fingerprint_sql(dialect, columns, types))
    bucket = dialect.bucket_sql(_fingerprint_sql(dialect, key_columns, types), n_buckets)
    a = dialect.alias_sql
    if not dialect.group_by_ordinal:
        # Engines whose GROUP BY can't reference select-list ordinals (and
        # whose expression-equivalence matching is too strict to repeat the
        # bucket expression — Derby 42Y36): aggregate over a subquery.
        return (
            f"select {a('bucket')}, count(*) as {a('cnt')}, "
            f"cast(sum({a('cks')}) as bigint) as {a('cks')} "
            f"from (select {bucket} as {a('bucket')}, {cks} as {a('cks')} "
            f"from {relation_sql}) t group by {a('bucket')}"
        )
    return (
        f"select {bucket} as {a('bucket')}, count(*) as {a('cnt')}, "
        f"cast(sum({cks}) as bigint) as {a('cks')} "
        f"from {relation_sql} group by 1"
    )


def fetch_query_sql(dialect: RemoteDialect, relation_sql: str,
                    key_columns: Sequence[str], columns: Sequence[str],
                    types: Mapping[str, str], n_buckets: int,
                    bucket_ids: Optional[Sequence[int]]) -> str:
    """Rows (plus per-row checksum) of the given buckets — the only
    row download, proportional to differing data. bucket_ids=None fetches
    every row (the most-buckets-dirty degenerate case, where a per-row
    bucket filter costs more than it saves)."""
    cks = dialect.md5_as_int_sql(_fingerprint_sql(dialect, columns, types))
    where = ""
    if bucket_ids is not None:
        bucket = dialect.bucket_sql(_fingerprint_sql(dialect, key_columns, types), n_buckets)
        where = f" where {bucket} in ({', '.join(str(int(b)) for b in bucket_ids)})"
    sel = ", ".join(dialect.select_col_sql(c, types[c]) for c in columns)
    return f"select {sel}, {cks} as {dialect.alias_sql(_CKS)} from {relation_sql}{where}"


# --- adapters ---------------------------------------------------------------


class RemoteSide:
    """Second-side contract consumed by hash_diff (RemotePair). This base renders the
    digest and fetch SQL for every adapter; a subclass sets dialect,
    relation_sql, key_columns, columns (keys first, positionally paired
    with the Spark side's relevant_columns) and types (column -> engine
    SQL type), and implements only execution: _query and _frame."""

    dialect: RemoteDialect
    relation_sql: str
    key_columns: List[str]
    columns: List[str]
    types: Mapping[str, str]

    def _query(self, sql: str) -> Sequence[Tuple]:
        """Rows of `sql`. Default: a DB-API connection in self.con."""
        return self.con.execute(sql).fetchall()

    def _frame(self, spark: SparkSession, schema: T.StructType, sql: str) -> DataFrame:
        """A Spark DataFrame of `sql`'s rows, one column per schema field
        in order; values may still carry the engine's own types."""
        raise NotImplementedError

    def bucket_digests(self, n_buckets: int) -> Sequence[Tuple[int, int, Optional[int]]]:
        """[(bucket, count, checksum_sum)] — ONE remote aggregation query."""
        return self._query(digest_query_sql(
            self.dialect, self.relation_sql, self.key_columns, self.columns,
            self.types, n_buckets))

    def fetch_bucket_rows(self, spark: SparkSession, schema: T.StructType,
                          n_buckets: int,
                          bucket_ids: Optional[Sequence[int]]) -> DataFrame:
        """Spark DataFrame (schema = the Spark side's columns + __cks__)
        holding the remote rows of the given buckets; an empty
        bucket list runs no query. Columns are renamed and cast to `schema`
        by position, like the reference's differing-column-name support."""
        if bucket_ids is not None and not bucket_ids:
            return spark.createDataFrame([], schema)
        df = self._frame(spark, schema, fetch_query_sql(
            self.dialect, self.relation_sql, self.key_columns, self.columns,
            self.types, n_buckets, bucket_ids))
        return df.select(*[
            F.col(src).cast(f.dataType).alias(f.name)
            for src, f in zip(df.columns, schema.fields)
        ])


class DuckDBSide(RemoteSide):
    """Remote adapter: a DuckDB relation (parquet path or table name) with
    declared key columns. Stands in for any reference dialect."""

    def __init__(self, relation_sql: str, key_columns: Sequence[str],
                 columns: Sequence[str], con=None):
        import duckdb

        self.relation_sql = relation_sql
        self.key_columns = list(key_columns)
        self.columns = list(columns)  # keys first, reference column order
        self.con = con or duckdb.connect()
        self.dialect = DuckDBDialect()
        desc = self.con.execute(f"describe select * from {relation_sql}").fetchall()
        self.types = {r[0]: r[1] for r in desc}

    def _frame(self, spark, schema, sql):
        # Arrow transfer: decimals stay decimal128 (exact), timestamps stay
        # us-precision, and no per-row Python objects are built — an order of
        # magnitude faster than the pandas path for large dirty-bucket sets.
        tbl = self.con.execute(sql).fetch_arrow_table()
        return spark.createDataFrame(tbl.rename_columns(schema.names), schema=schema)


class SQLiteSide(RemoteSide):
    """Remote adapter over a LIVE stdlib sqlite3 connection: digest and
    fetch SQL run inside SQLite, so the third executed engine computes
    its own buckets/checksums row-by-row (md5/bucket/double-norm as
    registered deterministic Python functions — SQLite's extension
    mechanism, the Derby CREATE FUNCTION analogue). `types` declares the
    logical type per column ('BIGINT'/'DOUBLE'/'TEXT'/'BOOLEAN'/'DATE'/
    'TIMESTAMP'), since SQLite's own affinities are lossy."""

    def __init__(self, con, relation_sql: str, key_columns: Sequence[str],
                 columns: Sequence[str], types: Mapping[str, str]):
        self.con = con
        self.relation_sql = relation_sql
        self.key_columns = list(key_columns)
        self.columns = list(columns)
        self.types = dict(types)
        self.dialect = SQLiteDialect()
        self.register(con)

    @staticmethod
    def register(con) -> None:
        """Install the deterministic helper functions on a connection
        (idempotent). dnorm mirrors Spark's normalize_number for doubles:
        BigDecimal.valueOf (= legacy Java <= 18 Double.toString digits,
        see jdouble.py — NOT Python's shortest repr) -> setScale(6,
        HALF_UP) -> plain string; BigDecimal has no negative zero.
        dnorm_s renders DECIMAL(p,s) columns at their declared scale;
        store decimals as TEXT for exactness past double precision
        (SQLite's NUMERIC affinity keeps int/real otherwise)."""
        import hashlib as _hl
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        from data_diff_spark.jdouble import java_double_decimal

        # jdouble.py ports the LEGACY (Java <= 18) Double.toString digit
        # generation, which is what BigDecimal.valueOf — and therefore
        # Spark's double->decimal cast — sees on those JVMs. On Java 19+
        # (JDK-4511638 fixed) the digits become shortest-repr and dnorm
        # would silently diverge for doubles >= 2^53, so refuse loudly
        # rather than produce wrong digests (r11 ADVICE). Checked here
        # because register() is the choke point every SQLite digest side
        # passes through; skipped when no Spark session exists yet (the
        # comparison that could diverge also needs one).
        try:
            from pyspark.sql import SparkSession as _SS
            _sess = _SS.getActiveSession()
        except Exception:
            _sess = None
        if _sess is not None:
            try:
                spec = str(_sess._jvm.java.lang.System.getProperty(
                    "java.specification.version"))
                major = int(spec.split(".")[-1]) if spec.startswith("1.") \
                    else int(spec)
            except Exception:
                major = None
            if major is not None and major >= 19:
                raise RuntimeError(
                    "sqlite digest side requires Java <= 18: jdouble.py "
                    "mirrors the legacy Double.toString digits that "
                    f"BigDecimal.valueOf used before JDK-4511638; Java {major} "
                    "generates shortest-repr digits and double normalization "
                    "would silently diverge for |x| >= 2^53")

        def md5_int(s):
            if s is None:
                return None
            return int(_hl.md5(s.encode()).hexdigest()[20:32], 16)

        def md5_bucket(s, nhex):
            if s is None:
                return None
            return int(_hl.md5(s.encode()).hexdigest()[:nhex], 16)

        def _fixed_point(d: Decimal, scale: int) -> str:
            if d == 0:
                d = abs(d)  # BigDecimal.valueOf(-0.0) is plain zero
            return f"{d:.{scale}f}" if scale > 0 else str(d)

        def dnorm(x):
            # Mirror Spark's normalize_number for doubles EXACTLY: the
            # Spark side goes BigDecimal.valueOf(x) -> setScale(6,
            # HALF_UP), and on Java <= 18 BigDecimal.valueOf's digits are
            # the LEGACY Double.toString — not Python's shortest repr
            # (e.g. 1e23 -> '9.999999999999999E22'); jdouble.py is the
            # fuzz-verified port. Quantize under a wide explicit context:
            # the default 28-digit context raises InvalidOperation for
            # |x| >= ~1e23, silently aborting the whole digest query,
            # while the cast-to-decimal(38,6) dialects keep going to 1e32
            # (r10 ADVICE).
            if x is None:
                return None
            x = float(x)
            if x != x or x in (float("inf"), float("-inf")):
                return None  # Spark cast(double NaN/Inf as decimal) -> NULL
            with localcontext() as ctx:
                ctx.prec = 400
                d = java_double_decimal(x).quantize(
                    Decimal("1.000000"), rounding=ROUND_HALF_UP)
                # decimal(38,6) overflow: Spark's non-ANSI cast returns
                # NULL once the value needs >38 digits at scale 6
                # (|x| >= 1e32), and normalize_number fingerprints that as
                # '<null>'. Without this clamp every such double
                # false-diffs (r11 ADVICE).
                if abs(d) >= Decimal(10) ** 32:
                    return None
            return _fixed_point(d, 6)

        def dnorm_s(x, scale):
            # Declared-scale fixed-point rendering for DECIMAL(p,s) columns
            # (SQLite stores them as int/real/text under NUMERIC affinity).
            # TEXT-stored decimals parse exactly; int/real via str() keeps
            # the shortest round-trip repr, matching dnorm's float path.
            if x is None:
                return None
            with localcontext() as ctx:
                ctx.prec = 400
                d = Decimal(repr(x) if isinstance(x, float) else str(x))
                d = d.quantize(Decimal(1).scaleb(-int(scale)),
                               rounding=ROUND_HALF_UP)
                # same decimal(38,s) overflow-to-NULL clamp as dnorm: a
                # stored value past the 38-digit envelope can't round-trip
                # the Spark side's decimal type either.
                if abs(d) >= Decimal(10) ** (38 - int(scale)):
                    return None
            return _fixed_point(d, int(scale))

        kw = {"deterministic": True}
        con.create_function("md5_int", 1, md5_int, **kw)
        con.create_function("md5_bucket", 2, md5_bucket, **kw)
        con.create_function("dnorm", 1, dnorm, **kw)
        con.create_function("dnorm_s", 2, dnorm_s, **kw)

    def _frame(self, spark, schema, sql):
        # everything travels as strings (SQLite hands back native
        # int/float/str — stringify uniformly); fetch_bucket_rows then
        # casts to the Spark side's types, and '0'/'1' casts to boolean fine
        rows = [tuple(None if v is None else str(v) for v in r)
                for r in self._query(sql)]
        return spark.createDataFrame(
            rows, T.StructType([T.StructField(n, T.StringType()) for n in schema.names]))


class JdbcSide(RemoteSide):
    """Remote adapter over spark.read.jdbc: the digest and fetch SQL are
    pushed as JDBC source *queries*, so the remote engine computes its own
    hashes and only digests + mismatched-bucket rows travel.

    types maps each remote column to its SQL type string (as the engine's
    information_schema reports it) — the reference fetches this with
    select_table_schema (base.py:1031-1039); callers with a live connection
    can do the same via a `select * ... where 1=0` probe.

    reader: injectable `sql -> DataFrame` (defaults to spark.read.jdbc with
    the given url/properties). Tests inject a DuckDB-backed reader; against
    a real database pass e.g. numPartitions/partitionColumn options through
    `properties` for a parallel fetch of large dirty-bucket sets.
    """

    def __init__(self, spark: SparkSession, url: str, relation_sql: str,
                 key_columns: Sequence[str], columns: Sequence[str],
                 types: Mapping[str, str],
                 dialect: Optional[RemoteDialect] = None,
                 properties: Optional[Mapping[str, str]] = None,
                 reader: Optional[Callable[[str], DataFrame]] = None):
        self.spark = spark
        self.url = url
        self.relation_sql = relation_sql
        self.key_columns = list(key_columns)
        self.columns = list(columns)
        self.types = dict(types)
        self.dialect = dialect or PostgresDialect()
        self.properties = dict(properties or {})
        self._reader = reader or self._jdbc_reader

    def _jdbc_reader(self, sql: str) -> DataFrame:
        r = self.spark.read.format("jdbc").option("url", self.url).option("query", sql)
        for k, v in self.properties.items():
            r = r.option(k, v)
        return r.load()

    def _query(self, sql):
        return self._reader(sql).collect()

    def _frame(self, spark, schema, sql):
        return self._reader(sql)


# --- the cross-engine diff --------------------------------------------------


def _match_remote_scales(t1: TableSegment, remote: RemoteSide) -> TableSegment:
    """Render every fractional Spark column at the scale its remote column
    renders at (norm_sql: a DECIMAL's own scale, 6 for floats, 0 for
    integers), so equal values fingerprint equal across engines — the
    cross-engine counterpart of unify_precisions, which cannot reach the
    remote's SQL. A Spark integer column has no fractional rendering, so
    pairing it with a remote scale > 0 raises rather than false-diffing
    every row."""
    overrides = dict(t1.precision_overrides)
    for f, rc in zip((t1.schema[c] for c in t1.relevant_columns), remote.columns):
        t = remote.types[rc].upper()
        if t.startswith(("DECIMAL", "NUMERIC")):
            scale = _decimal_scale(t)
        elif t in _FLOAT_TYPES:
            scale = DEFAULT_NUMERIC_PRECISION
        elif t in _INT_TYPES:
            scale = 0
        else:
            continue
        if isinstance(f.dataType, (T.DecimalType, T.FloatType, T.DoubleType)):
            overrides[f.name] = scale
        elif isinstance(f.dataType, T.IntegralType) and scale > 0:
            raise ValueError(
                f"column {f.name!r} ({f.dataType.simpleString()}) cannot be "
                f"compared with remote column {rc!r} ({remote.types[rc]}): the "
                f"remote renders {scale} fractional digits, a Spark integer none")
    return t1.with_(precision_overrides=overrides)


def _in_buckets(df: DataFrame, kh: Column, ids: List[int], n: int) -> DataFrame:
    """`df` restricted to the buckets `ids` of n by a broadcast id frame.
    On the cross-engine orders diff (~3900 of 16384 buckets dirty) this
    ran the diff ~0.8 s faster than hashdiff._restrict's InSet filter."""
    ids_df = df.sparkSession.createDataFrame([(int(x),) for x in ids], f"{_BUCKET} long")
    return _restrict_join(df, kh, ids_df, n, broadcast=True)


class RemotePair:
    """A remote second side's choices for hashdiff.hash_diff: t1's numbers
    rendered at the remote's scales, canonical strings and the reference
    checksum (md5), the md5 key prefix cached as the key hash, ONE
    digest level, and B's rows fetched once.

    The level has ~_AUTO_ROWS_PER_BUCKET rows a bucket (counted on A's
    cache, which the digest then reads), at most _MAX_BUCKETS: small
    buckets keep the fetch proportional to the diff. No coarse level goes
    first: each level is a full remote scan while its digest rows cost
    next to nothing (DuckDB, 1.2M lineitem rows: 6.4 s at 4096 buckets and
    at 131072), so a coarse level would slow every dirty pair by a scan."""

    fine_level = False

    def __init__(self, t1: TableSegment, remote: RemoteSide):
        if not isinstance(remote, RemoteSide):
            raise TypeError(f"second side must be a TableSegment or a RemoteSide, "
                            f"got {type(remote).__name__}")
        cols = list(t1.relevant_columns)
        if len(cols) != len(remote.columns):
            raise ValueError(f"column arity mismatch: {cols} vs {remote.columns}")
        self.t1, self.cols1 = _match_remote_scales(t1, remote), cols
        self.remote = remote
        self.kh = F.col(_KHASH)
        t1 = self.t1
        canonical = normalized_columns(t1.schema, cols, t1.precision_overrides, t1.kind_overrides)
        vals, self.keys_a = _side([(CANONICAL, c) for c in canonical], len(t1.key_columns))
        keys = [_knorm(i) for i in range(len(t1.key_columns))]
        self.a = (_annotated_keys(t1, vals, self.keys_a, md5=True)
                  .withColumn(_KHASH, _md5_key_hash(keys)).persist())
        self.persisted = [self.a]

    def first_level(self) -> int:
        rows = self.a.count()
        return min(1 << max(rows // _AUTO_ROWS_PER_BUCKET, 1).bit_length(), _MAX_BUCKETS)

    def digests(self, n: int):
        """Both sides' digests, A's through Arrow (no Row objects), compared
        on the driver."""
        hi, lo = checksum_sum(_CKS)
        own = _bucketed(self.a, self.kh, n).groupBy(_BUCKET).agg(
            F.count(F.lit(1)), hi, lo).toArrow()
        da = {k: (c, checksum_value(h, l))
              for k, c, h, l in zip(*(col.to_pylist() for col in own.columns))}
        db = {int(k): (int(c), None if s is None else int(s))
              for k, c, s in self.remote.bucket_digests(n)}
        return _dirty_buckets({k: (da.get(k, (0, None)), db.get(k, (0, None)))
                               for k in da.keys() | db.keys()})

    def rows_a(self, ids: List[int], n: int) -> DataFrame:
        return _in_buckets(self.a, self.kh, ids, n)

    def rows_b(self, ids: List[int], n: int) -> DataFrame:
        """The remote rows of the dirty buckets: by an IN list, or, once
        more than a quarter are dirty, every row, restricted here. Cached
        for phase 2 and the '+' emission; they carry t1's types, so t1's
        key form applies."""
        fetch_ids = ids if len(ids) <= max(1024, n // 4) else None
        t1, cols = self.t1, self.cols1
        keys = [_knorm(i) for i in range(len(t1.key_columns))]
        schema = T.StructType([t1.schema[c] for c in cols] + [T.StructField(_CKS, T.LongType())])
        self.b = self.remote.fetch_bucket_rows(t1.df.sparkSession, schema, n, fetch_ids).select(
            *cols, _CKS, *[k.alias(name) for k, name in zip(self.keys_a, keys)]
        ).persist()
        self.persisted.append(self.b)
        return self.b if fetch_ids is not None else _in_buckets(self.b, _md5_key_hash(keys), ids, n)

    def emit_b(self, out_names: List[str], bad_keys: DataFrame) -> DataFrame:
        return _emit_rows(self.b, out_names, "+", bad_keys)


def hash_diff_remote(t1: TableSegment, remote: RemoteSide,
                     n_buckets: Optional[int] = None) -> DataFrame:
    """Diff a Spark-side segment against a remote-engine side: hash_diff
    with the remote as its second side (RemotePair). Only digests and the
    rows of the dirty buckets cross the wire."""
    return hash_diff(t1, remote, n_buckets)
