"""Cross-engine hashdiff vs a LIVE stdlib sqlite3 database — the THIRD
executed engine (after embedded Derby and DuckDB). SQLite evaluates the
dialect's digest/fetch SQL itself; md5/bucket/double-normalization run
as registered deterministic functions (SQLite's extension mechanism —
the Derby CREATE FUNCTION analogue), so checksums and buckets are
computed row-by-row inside the engine and only digests + dirty-bucket
rows cross the wire. The zero-diff tests are the strictest
normalization-parity check: ONE canonical-string mismatch on ANY row of
ANY type poisons a bucket checksum and surfaces as a false diff."""

import sqlite3

import pytest
from pyspark.sql import functions as F

from data_diff_spark import table_segment
from data_diff_spark.operators.remote import SQLiteSide, hash_diff_remote

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
TYPES = {"o_orderkey": "BIGINT", "o_custkey": "BIGINT",
         "o_orderstatus": "TEXT", "o_totalprice": "DOUBLE",
         "o_orderdate": "TIMESTAMP", "o_orderpriority": "TEXT"}


@pytest.fixture(scope="module")
def t1(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(*COLS)
    return table_segment(df, ["o_orderkey"], extra_columns=COLS[1:])


def _ts(v):
    if v is None:
        return None
    s = v.strftime("%Y-%m-%d %H:%M:%S")
    return s + (f".{v.microsecond:06d}" if v.microsecond else "")


@pytest.fixture(scope="module")
def con(spark, sf_dir):
    c = sqlite3.connect(":memory:", check_same_thread=False)
    c.execute("create table orders (o_orderkey integer, o_custkey integer, "
              "o_orderstatus text, o_totalprice real, o_orderdate text, "
              "o_orderpriority text)")
    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(*COLS).collect()
    c.executemany(
        "insert into orders values (?,?,?,?,?,?)",
        [(r[0], r[1], r[2], r[3], _ts(r[4]), r[5]) for r in rows],
    )
    c.commit()
    return c


def test_identical_sides_zero_diff(t1, con):
    remote = SQLiteSide(con, "orders", ["o_orderkey"], COLS, TYPES)
    assert hash_diff_remote(t1, remote).count() == 0


def test_sqlite_detects_changes(t1, con):
    con.execute("""create view if not exists mod as
      select o_orderkey, o_custkey, o_orderstatus,
             case when o_orderkey % 100 = 2 then o_totalprice + 100.0
                  else o_totalprice end as o_totalprice,
             o_orderdate, o_orderpriority
      from orders where o_orderkey % 100 <> 1""")
    remote = SQLiteSide(con, "mod", ["o_orderkey"], COLS, TYPES)
    rows = hash_diff_remote(t1, remote).collect()
    minus = {r.o_orderkey for r in rows if r[0] == "-"}
    plus = {r.o_orderkey for r in rows if r[0] == "+"}
    assert {k for k in minus if k % 100 == 1}  # deletions found
    assert plus == {k for k in minus if k % 100 == 2}  # updates both-sided
    assert all(k % 100 in (1, 2) for k in minus)  # and NOTHING else


def test_type_matrix_zero_diff_and_detection(spark):
    """Every supported logical type incl. NULLs round-trips to the same
    canonical string in both engines; then one cell of each type is
    perturbed and each perturbation must surface as exactly one diff."""
    import datetime as dt
    from decimal import Decimal

    base = [
        (1, 10, "a b", 1.5, dt.datetime(2020, 1, 2, 3, 4, 5), True, Decimal("1.50")),
        (2, None, None, None, None, None, None),
        (3, -7, "x'y", -0.000001, dt.datetime(1999, 12, 31, 23, 59, 59, 123456), False,
         Decimal("-42.07")),
        (4, 0, "", 576460752305.0, dt.datetime(1970, 1, 1), True, Decimal("0.00")),
        (5, 8, "unicode é", 2.5e-7, dt.datetime(2038, 1, 19, 3, 14, 7), False,
         Decimal("1234567890.05")),
    ]
    schema = ("k long, i long, s string, d double, ts timestamp, b boolean, "
              "dec decimal(12,2)")
    types = {"k": "BIGINT", "i": "BIGINT", "s": "TEXT", "d": "DOUBLE",
             "ts": "TIMESTAMP", "b": "BOOLEAN", "dec": "DECIMAL(12,2)"}
    cols = ["k", "i", "s", "d", "ts", "b", "dec"]
    df = spark.createDataFrame(base, schema)
    t = table_segment(df, ["k"], extra_columns=cols[1:])

    def make_side(perturb_sql=None):
        c2 = sqlite3.connect(":memory:", check_same_thread=False)
        # dec column declared DECIMAL: NUMERIC affinity stores int/real;
        # dnorm_s re-pads to the declared scale (r10 ADVICE — the raw TEXT
        # fallthrough fingerprinted '1.5' vs Spark's '1.50', all rows false-diffed)
        c2.execute("create table m (k integer, i integer, s text, d real, "
                   "ts text, b integer, dec decimal(12,2))")
        c2.executemany("insert into m values (?,?,?,?,?,?,?)",
                       [(r[0], r[1], r[2], r[3], _ts(r[4]),
                         None if r[5] is None else int(r[5]),
                         None if r[6] is None else str(r[6])) for r in base])
        if perturb_sql:
            c2.execute(perturb_sql)
        return SQLiteSide(c2, "m", ["k"], cols, types)

    assert hash_diff_remote(t, make_side(), n_buckets=8).count() == 0

    perturbations = [
        "update m set i = 11 where k = 1",
        "update m set s = 'a  b' where k = 1",          # whitespace-sensitive
        "update m set d = 1.500001 where k = 1",  # smallest visible at p=6
        "update m set ts = '2020-01-02 03:04:05.000001' where k = 1",
        "update m set b = 0 where k = 1",
        "update m set i = 99 where k = 2",               # NULL -> value
        "update m set dec = 1.51 where k = 1",           # smallest at scale 2
    ]
    for sql in perturbations:
        got = hash_diff_remote(t, make_side(sql), n_buckets=8).collect()
        assert len(got) == 2, (sql, got)  # one -, one + for the changed key


def test_double_normalization_edges(spark):
    """dnorm must equal Spark's normalize_number for the classic traps:
    shortest-repr doubles, sub-half-ulp values, negative zero, HALF_UP
    boundaries."""
    import random
    import struct

    vals = [0.0, -0.0, 1.5, -1.5, 5e-7, -5e-7, 4.9e-7, 5e-324,
            576460752305.0, 0.1 + 0.2, 1e15, -123456.789012345,
            # r10 ADVICE: the default 28-digit decimal context raised
            # InvalidOperation at |x| >= ~1e23, aborting the digest query,
            # while decimal(38,6) dialects cover up to 1e32
            1e23, -4.2e24, 9.9e31,
            # legacy-Double.toString territory (jdouble.py): >= 2^53 the
            # JDK <= 18 digits are NOT Python's shortest repr
            2.0**53, 2.0**53 + 2, 123456789012345678.0, 2.0**62, 2.0**63,
            -6.573074988361458e+17, 1.2345678901234568e+17,
            # r11 ADVICE: past the decimal(38,6) envelope Spark's
            # non-ANSI cast overflows to NULL ('<null>' fingerprint) —
            # dnorm must clamp to None there, not render 400 digits
            1e32, -1e32, 9.999999999999999e31, 1.0000000000000001e32,
            1e33, -3.7e45, 1e308, -1.7976931348623157e308,
            float("inf"), float("-inf")]
    # deterministic fuzz across the whole double magnitude range, one
    # Spark job for all; |x| >= 1e32 pins the overflow-to-NULL clamp
    rng = random.Random(20260816)
    for _ in range(300):
        e = rng.randint(-10, 38)
        vals.append(rng.choice([1, -1]) * rng.uniform(1, 10) * 10 ** e)
    for _ in range(200):
        b = rng.getrandbits(64)
        x = struct.unpack("<d", struct.pack("<Q", b))[0]
        if x == x:
            vals.append(x)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "k long, d double")
    from data_diff_spark.normalize import normalize_number

    want = {r["k"]: r["n"] for r in
            df.select("k", normalize_number(F.col("d")).alias("n")).collect()}
    c = sqlite3.connect(":memory:")
    SQLiteSide.register(c)
    for i, v in enumerate(vals):
        got = c.execute("select dnorm(?)", (v,)).fetchone()[0]
        assert got == want[i], (v, got, want[i])

def test_sqlite_uri_scheme(spark, tmp_path):
    """sqlite://<path>#<table> reads through connect.read_uri and diffs
    cleanly against the parquet side via the CLI-style composition."""
    import datetime as dt

    from data_diff_spark.sources.connect import read_uri

    p = str(tmp_path / "t.db")
    c = sqlite3.connect(p)
    c.execute("create table t (k integer, v text, d real)")
    c.executemany("insert into t values (?,?,?)",
                  [(1, "a", 1.5), (2, "b", None)])
    c.commit()
    c.close()
    df = read_uri(spark, f"sqlite://{p}#t")
    assert sorted(map(tuple, df.collect())) == [(1, "a", 1.5), (2, "b", None)]
    with pytest.raises(ValueError, match="max_rows"):
        read_uri(spark, f"sqlite://{p}#t", max_rows=1)
    with pytest.raises(ValueError, match="needs"):
        read_uri(spark, f"sqlite://{p}")

def test_cli_remote_digest_sqlite(spark, sf_dir, tmp_path, capsys):
    """--remote-digest end-to-end from the command line against a LIVE
    sqlite file: the engine computes its own digests; output matches the
    known synthetic changes (the duckdb CLI test's twin)."""
    from data_diff_spark.cli import main

    db = str(tmp_path / "r.db")
    c = sqlite3.connect(db)
    c.execute("create table orders_mod (o_orderkey integer, o_custkey integer, "
              "o_totalprice real)")
    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice").collect()
    c.executemany(
        "insert into orders_mod values (?,?,?)",
        [(r[0], r[1], r[2] + 100.0 if r[0] % 100 == 2 else r[2])
         for r in rows if r[0] % 100 != 1],
    )
    c.commit()
    n_changed = sum(1 for r in rows if r[0] % 100 == 2)
    n_deleted = sum(1 for r in rows if r[0] % 100 == 1)
    c.close()

    rc = main([
        f"parquet://{sf_dir}/orders.parquet", f"sqlite://{db}#orders_mod",
        "-k", "o_orderkey", "-c", "o_custkey", "-c", "o_totalprice",
        "--remote-digest", "--stats",
    ], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    stats = {k: int(v) for k, v in (line.split(": ") for line in out.strip().splitlines())}
    n = len(rows)
    assert stats == {
        "rows_A": n, "rows_B": n - n_deleted, "exclusive_A": n_deleted,
        "exclusive_B": 0, "updated": n_changed,
        "unchanged": n - n_deleted - n_changed, "total": n_deleted + 2 * n_changed,
    }
