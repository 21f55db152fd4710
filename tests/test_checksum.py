"""Checksum/normalization parity pins (reference FIXTURES.md F10)."""

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_diff_spark.constants import CHECKSUM_OFFSET, MD5_HEXDIGITS, CHECKSUM_HEXDIGITS
from data_diff_spark.normalize import (
    md5_as_int,
    normalize_as_string,
    normalize_date,
    normalize_number,
    row_checksum,
    row_fingerprint,
)


def str_to_checksum(s: str) -> int:
    """Python replica of the reference's golden checksum
    (/root/reference/tests/common.py:117-127)."""
    md5 = hashlib.md5(s.encode("utf-8")).hexdigest()
    half_pos = MD5_HEXDIGITS - CHECKSUM_HEXDIGITS
    return int(md5[half_pos:], 16) - CHECKSUM_OFFSET


def test_md5_as_int_golden(spark):
    # "hello world" => md5 5eb63bbbe01eeed093cb22bb8f5acdc3 => low 12 hex
    got = spark.range(1).select(md5_as_int(F.lit("hello world")).alias("c")).collect()[0]["c"]
    assert int(got) == str_to_checksum("hello world")
    # low 12 hex of 5eb63bbbe01eeed093cb22bb8f5acdc3 = 22bb8f5acdc3
    assert int(got) == 0x22BB8F5ACDC3 - CHECKSUM_OFFSET


def test_row_checksum_golden(spark):
    # 1-row table (id=1, ts 2022-01-01) checksums to
    # str_to_checksum("1|2022-01-01 00:00:00.000000")
    # (reference tests/test_diff_tables.py:148-161)
    df = spark.createDataFrame(
        [(1, "2022-01-01 00:00:00")], "id int, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    cks = df.select(row_checksum(df.schema, ["id", "ts"]).alias("c")).collect()[0]["c"]
    assert int(cks) == str_to_checksum("1|2022-01-01 00:00:00.000000")


def test_null_literal_and_separator(spark):
    df = spark.createDataFrame([("a", None)], "c1 string, c2 string")
    fp = df.select(
        row_fingerprint([F.col("c1"), F.col("c2")]).alias("fp")
    ).collect()[0]["fp"]
    assert fp == "a|<null>"


def test_normalize_timestamp_precisions(spark):
    df = spark.createDataFrame([("2022-01-01 12:34:56.123456",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    t = T.TimestampType()
    rows = df.select(
        normalize_as_string(F.col("ts"), t, 6).alias("p6"),
        normalize_as_string(F.col("ts"), t, 3).alias("p3"),
        normalize_as_string(F.col("ts"), t, 0).alias("p0"),
    ).collect()[0]
    assert rows["p6"] == "2022-01-01 12:34:56.123456"
    assert rows["p3"] == "2022-01-01 12:34:56.123000"
    assert rows["p0"] == "2022-01-01 12:34:56.000000"


def test_normalize_numbers(spark):
    df = spark.range(1)
    rows = df.select(
        normalize_as_string(F.lit(2.675), T.DoubleType(), 2).alias("a"),
        normalize_as_string(F.lit(-0.005), T.DoubleType(), 2).alias("b"),
        normalize_as_string(F.lit(1234.5), T.DoubleType(), 2).alias("c"),
        normalize_as_string(F.lit(42), T.IntegerType()).alias("d"),
        normalize_as_string(F.lit(True), T.BooleanType()).alias("e"),
        normalize_as_string(F.lit(0.1), T.DoubleType(), 6).alias("f"),
    ).collect()[0]
    assert rows["a"] == "2.68"      # matches DuckDB 2.675::DECIMAL(38,2)
    assert rows["b"] == "-0.01"
    assert rows["c"] == "1234.50"   # zero-padded to scale
    assert rows["d"] == "42"
    assert rows["e"] == "1"
    assert rows["f"] == "0.100000"


def test_normalize_array_struct(spark):
    df = spark.range(1).select(
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.struct(F.lit(1).alias("x"), F.lit("y").alias("s")).alias("st"),
    )
    rows = df.select(
        normalize_as_string(F.col("arr"), df.schema["arr"].dataType).alias("a"),
        normalize_as_string(F.col("st"), df.schema["st"].dataType).alias("b"),
    ).collect()[0]
    assert rows["a"] == "[1,2]"
    assert rows["b"] == '{"x":1,"s":"y"}'


def test_checksum_matches_duckdb_formula(spark):
    """The exact cross-engine invariant: Spark md5_as_int == DuckDB dialect
    ('0x' || SUBSTRING(md5(s),21,12))::BIGINT - OFFSET
    (reference databases/duckdb.py:99-100)."""
    import duckdb

    vals = ["", "x", "1|2022-01-01 00:00:00.000000", "héllo|wörld", "a" * 500]
    got = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", md5_as_int(F.col("s")).alias("c"))
        .collect()
    )
    con = duckdb.connect()
    for r in got:
        want = con.execute(
            f"select ('0x' || substring(md5(?),21,12))::BIGINT - {CHECKSUM_OFFSET}",
            [r["s"]],
        ).fetchone()[0]
        assert int(r["c"]) == want, r["s"]


@pytest.fixture(params=["true", "false"])
def ansi(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _reference_number(x, p):
    """The reference dialect's recipe (databricks.py:109-113)."""
    value = x.try_cast(T.DecimalType(38, p))
    if p == 0:
        return value.cast("string")
    return F.replace(F.format_number(value, p), F.lit(","), F.lit(""))


def _mismatches(df, pairs):
    """Rows where any (got, want) pair differs, NULL-safely: one job."""
    ok = F.lit(True)
    for got, want in pairs:
        ok = ok & got.eqNullSafe(want)
    return df.filter(~ok).collect()


@pytest.mark.parametrize("scale", [0, 1, 2, 6, 7, 10, 38])
def test_number_cast_matches_reference_recipe_decimal(spark, ansi, scale):
    """normalize_number renders scales <= 6 by cast and scales above by the
    reference recipe; either way the string equals the recipe's, under
    ANSI on and off: zero, +-10^-s, negatives, 38-digit maxima, NULL."""
    ip = 38 - scale
    top = "9" * ip + ("." + "9" * scale if scale else "")
    tiny = f"1e-{scale}" if scale else "1"
    vals = ["0", tiny, "-" + tiny, "-0.5", "0.125", top, "-" + top, "null"]
    vals += ["-98765.4321", "123456.5"] if ip >= 6 else []
    df = spark.sql("select * from values " + ", ".join(
        f"(try_cast({v} as decimal(38,{scale})))" for v in vals) + " as t(x)")
    assert df.filter(F.col("x").isNull()).count() == 1  # only the NULL row overflowed
    ps = sorted({scale, 0, 2, 6, 7})
    assert _mismatches(df, [(normalize_number(F.col("x"), p), _reference_number(F.col("x"), p))
                            for p in ps]) == []


@pytest.mark.parametrize("dtype", ["double", "float"])
def test_number_cast_matches_reference_recipe_floating(spark, ansi, dtype):
    vals = ["-0.0D", "cast('NaN' as double)", "cast('Infinity' as double)",
            "cast('-Infinity' as double)", "1e31D", "-1e31D", "1e32D", "2.675D",
            "-0.005D", "1234.5D", "5e-7D", "1e-10D", "123456789.123456789D", "null"]
    df = spark.sql("select * from values " + ", ".join(
        f"(cast({v} as {dtype}))" for v in vals) + " as t(x)")
    ps = [0, 2, 6, 10]
    assert _mismatches(df, [(normalize_number(F.col("x"), p), _reference_number(F.col("x"), p))
                            for p in ps]) == []
    # past the decimal(38,6) envelope: NULL, not an error
    big = spark.sql(f"select cast(1e32D as {dtype}) x").select(normalize_number(F.col("x"), 6))
    assert big.collect()[0][0] is None


@pytest.mark.parametrize("policy", ["CORRECTED", "LEGACY"])
def test_date_cast_matches_reference_recipe(spark, ansi, policy):
    """cast(d as string) == date_format(d, 'yyyy-MM-dd') for years 0001,
    0999, 1000, the Julian/Gregorian switch, 9999, year 0, BCE years and
    +10000, under either time-parser policy."""
    prev = spark.conf.get("spark.sql.legacy.timeParserPolicy")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", policy)
    try:
        ymd = [(1, 1, 1), (999, 12, 31), (1000, 1, 1), (1582, 10, 4), (1582, 10, 15),
               (9999, 12, 31), (0, 1, 1), (-5, 3, 1), (-44, 3, 15), (10000, 1, 1)]
        df = spark.sql("select * from values " + ", ".join(
            f"(make_date({y}, {m}, {d}))" for y, m, d in ymd) + ", (null) as t(d)")
        assert _mismatches(df, [(normalize_date(F.col("d")),
                                 F.date_format(F.col("d"), "yyyy-MM-dd"))]) == []
    finally:
        spark.conf.set("spark.sql.legacy.timeParserPolicy", prev)


def test_plain_cast_scale_bound_reason(spark, ansi):
    """Why normalize_number keeps format_number past scale 6: with ANSI off,
    a decimal→string cast is BigDecimal.toString, E-notation once the
    adjusted exponent is below -6. If a future Spark renders this plain,
    the format_number branch can go."""
    raw = spark.sql("select cast(cast(0 as decimal(38,10)) as string) s").collect()[0]["s"]
    assert raw == ("0E-10" if ansi == "false" else "0.0000000000")
    six = spark.sql("select cast(cast(0 as decimal(38,6)) as string) s").collect()[0]["s"]
    assert six == "0.000000"
