"""LIVE cross-engine diff against embedded Apache Derby over real JDBC.

The reference's flagship scenario is diffing a table in a live database
adapter (data_diff/databases/_connect.py:79-93; per-type matrix
tests/test_database_types.py:47-370). No network database exists in this
sandbox, but Spark ships the Derby jars, so Derby runs as a genuine second
SQL engine inside the JVM: Spark writes rows over JDBC, Derby computes its
OWN bucket digests with its OWN md5 (commons-codec via CREATE FUNCTION),
and hash_diff_remote compares engines for real — including the reference's
`rows_downloaded == 0` zero-diff assertion (test_database_types.py:366).
Everything JdbcSide does here uses its default spark.read.jdbc reader —
no injected stand-in.
"""

import os

import pytest
from pyspark.sql import functions as F

from data_diff_spark.operators import remote as rm
from data_diff_spark.operators.hashdiff import hash_diff
from data_diff_spark.operators.remote import (
    DerbyDialect, JdbcSide, derby_setup, hash_diff_remote, jdbc_probe_types,
)
from data_diff_spark.sources.connect import connect_to_table
from data_diff_spark.table import table_segment

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
QCOLS = [f'"{c}"' for c in COLS]  # Spark's JDBC writer creates quoted-lowercase columns


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "diffdb"
    return f"jdbc:derby:{db};create=true"


def _jdbc_write(df, url, table):
    # without explicit types Spark maps StringType -> CLOB (handled by the
    # dialect, but a live table would declare VARCHAR)
    (df.write.format("jdbc").option("url", url).option("dbtable", table)
     .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
     .option("createTableColumnTypes",
             "o_orderstatus VARCHAR(4), o_orderpriority VARCHAR(32)")
     .mode("overwrite").save())


@pytest.fixture(scope="module")
def derby_orders(spark, orders, derby_url):
    """orders + a modified copy (1% deleted / 1% updated / 1% inserted),
    both written INTO Derby through JDBC."""
    derby_setup(spark, derby_url)
    _jdbc_write(orders.select(*COLS), derby_url, "orders_t")
    modified = (
        orders.select(*COLS)
        .filter("o_orderkey % 100 <> 1")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 100 == 2, F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice")),
        )
        .unionAll(
            orders.select(*COLS).filter("o_orderkey % 100 = 3")
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        )
    )
    _jdbc_write(modified, derby_url, "orders_mod")
    return derby_url


def _derby_side(spark, url, table, counter=None):
    types = jdbc_probe_types(spark, url, table)
    # JDBC metadata reports the created (lowercase) names; key by quoted SQL
    qtypes = {f'"{k}"': v for k, v in types.items()}
    side = JdbcSide(
        spark, url, table, QCOLS[:1], QCOLS, qtypes,
        dialect=DerbyDialect(),
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    if counter is not None:
        inner = side._reader

        def counting(sql):
            counter.append(sql)
            return inner(sql)

        side._reader = counting
    return side


def test_probe_types(spark, derby_orders, derby_url):
    types = jdbc_probe_types(spark, derby_url, "orders_t")
    assert types["o_orderkey"] == "BIGINT"
    assert types["o_totalprice"] == "DOUBLE"
    assert types["o_orderdate"] == "TIMESTAMP"
    assert types["o_orderstatus"].startswith("VARCHAR")


def test_jdbc_roundtrip_and_pushdown(spark, orders, derby_orders, derby_url):
    back = connect_to_table(
        spark, derby_url, ["o_orderkey"],
        dbtable="orders_t", driver="org.apache.derby.jdbc.EmbeddedDriver",
    ).df
    assert back.count() == orders.count()
    # µs timestamps and doubles survive the round trip exactly
    a = sorted(orders.select(*COLS).collect())
    b = sorted(back.select(*COLS).collect())
    assert a == b
    # key-range predicate reaches the Derby scan as a pushed filter
    plan = (back.filter("o_orderkey >= 100").select("o_orderkey")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan


def test_live_zero_diff_zero_download(spark, orders, derby_orders, derby_url):
    """Identical sides: engines agree bucket-for-bucket; exactly ONE remote
    query runs (the digest aggregation) and zero rows are downloaded."""
    t1 = table_segment(orders.select(*COLS), ["o_orderkey"], extra_columns=COLS[1:])
    queries = []
    side = _derby_side(spark, derby_url, "orders_t", counter=queries)
    diff = hash_diff_remote(t1, side, n_buckets=64)
    assert diff.count() == 0
    assert len(queries) == 1 and "group by" in queries[0]


def test_live_diff_matches_local(spark, orders, derby_orders, derby_url):
    """Diff parquet-vs-Derby(modified) cross-engine; the result must equal
    the pure-Spark hashdiff of the same logical change."""
    t1 = table_segment(orders.select(*COLS), ["o_orderkey"], extra_columns=COLS[1:])
    side = _derby_side(spark, derby_url, "orders_mod")
    got = {tuple(r) for r in hash_diff_remote(t1, side, n_buckets=64).collect()}

    modified = (
        orders.select(*COLS)
        .filter("o_orderkey % 100 <> 1")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 100 == 2, F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice")),
        )
        .unionAll(
            orders.select(*COLS).filter("o_orderkey % 100 = 3")
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        )
    )
    t2 = table_segment(modified, ["o_orderkey"], extra_columns=COLS[1:])
    want = {tuple(r) for r in hash_diff(t1, t2, n_buckets=64).collect()}
    assert got == want and len(want) > 0


def test_derby_digest_sql_golden():
    """Pin the Derby digest SQL shape (expression GROUP BY, quoted aliases,
    ||-concat, CHAR+TRIM casts) so refactors can't silently regress the one
    live-executable dialect."""
    sql = rm.digest_query_sql(
        DerbyDialect(), "t", ['"k"'], ['"k"', '"v"'],
        {'"k"': "BIGINT", '"v"': "DOUBLE"}, 16,
    )
    assert 'as "bucket"' in sql and 'as "cks"' in sql
    assert "group by 1" not in sql
    assert "MD5HEX" in sql and "HEXLONG" in sql and "DBLSTR" in sql
    assert "concat_ws" not in sql
    assert 'trim(cast("k" as char(24)))' in sql


# --- CLI end-to-end over live JDBC -------------------------------------------
# The reference's remaining CLI scenario (tests/test_cli.py:29-77) never ran
# against a real second engine; here the CLI binary path drives embedded
# Derby through its jdbc: URI with a compound key and an update-column age
# window — both sides restricted consistently, live.


def test_cli_compound_key_against_live_derby(spark, orders, derby_orders,
                                             derby_url, sf_dir, capsys):
    from data_diff_spark.cli import main

    rc = main([
        f"parquet://{sf_dir}/orders.parquet",
        f"{derby_url}?dbtable=orders_mod",
        "-k", "o_orderkey", "-k", "o_custkey",
        "--remote-digest", "--stats",
    ], spark=spark)
    assert rc == 0
    out = {k: int(v) for k, v in (l.split(": ") for l in capsys.readouterr().out.strip().splitlines())}
    n = orders.count()
    # 1% deleted, 1% updated, 1% inserted (derby_orders)
    assert out == {
        "rows_A": n, "rows_B": n, "exclusive_A": n // 100, "exclusive_B": n // 100,
        "updated": n // 100, "unchanged": n - 2 * (n // 100), "total": 4 * (n // 100),
    }


@pytest.fixture(scope="module")
def derby_updated(spark, orders, derby_url, tmp_path_factory):
    """orders + deterministic historic o_updated timestamps, parquet on the
    Spark side and the 1%-modified copy INSIDE Derby."""
    derby_setup(spark, derby_url)  # md5/hex/double helper functions
    upd = F.to_timestamp(
        F.concat(F.lit("2020-01-"), F.lpad((F.col("o_orderkey") % 28 + 1), 2, "0"))
    )
    base = orders.select(*COLS).withColumn("o_updated", upd)
    p = tmp_path_factory.mktemp("cliupd") / "orders_upd"
    base.write.mode("overwrite").parquet(str(p))
    modified = (
        base.filter("o_orderkey % 100 <> 1")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 100 == 2, F.col("o_totalprice") + 100.0)
            .otherwise(F.col("o_totalprice")),
        )
    )
    _jdbc_write(modified, derby_url, "orders_upd_mod")
    return str(p)


def test_cli_update_column_age_window_live(spark, orders, derby_updated,
                                           derby_url, capsys):
    """--max-age 1d excludes every (historic) row on BOTH engines -> zero
    diffs; if the remote side were not restricted identically, each of its
    rows would surface as a spurious '+'. --min-age 5min includes all ->
    the full diff set, over live JDBC."""
    from data_diff_spark.cli import main

    base_args = [
        f"parquet://{derby_updated}",
        f"{derby_url}?dbtable=orders_upd_mod",
        "-k", "o_orderkey", "--remote-digest", "--stats",
        "-t", "o_updated",
    ]
    rc = main(base_args + ["--max-age", "1d"], spark=spark)
    assert rc == 0
    out = {k: int(v) for k, v in (l.split(": ") for l in capsys.readouterr().out.strip().splitlines())}
    assert out == dict.fromkeys(
        ["rows_A", "rows_B", "exclusive_A", "exclusive_B", "updated", "unchanged", "total"], 0)

    rc = main(base_args + ["--min-age", "5min"], spark=spark)
    assert rc == 0
    out = {k: int(v) for k, v in (l.split(": ") for l in capsys.readouterr().out.strip().splitlines())}
    n = orders.count()
    # 1% deleted, 1% updated (derby_updated)
    assert out == {
        "rows_A": n, "rows_B": n - n // 100, "exclusive_A": n // 100, "exclusive_B": 0,
        "updated": n // 100, "unchanged": n - 2 * (n // 100), "total": 3 * (n // 100),
    }
