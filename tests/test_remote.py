"""Cross-engine hashdiff: Spark side vs DuckDB side (digests-only wire),
plus the JdbcSide adapter driven end-to-end by routing its generated SQL
into DuckDB (no live JDBC database exists in this sandbox)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from data_diff_spark import table_segment
from data_diff_spark.operators.remote import (
    DuckDBDialect,
    DuckDBSide,
    JdbcSide,
    PostgresDialect,
    digest_query_sql,
    fetch_query_sql,
    hash_diff_remote,
)

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


@pytest.fixture(scope="module")
def t1(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(*COLS)
    return table_segment(df, ["o_orderkey"], extra_columns=COLS[1:])


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(f"create view orders as select * from read_parquet('{sf_dir}/orders.parquet')")
    return c


def test_identical_sides_zero_diff_zero_download(spark, t1, con):
    remote = DuckDBSide("orders", ["o_orderkey"], COLS, con=con)
    diff = hash_diff_remote(t1, remote)
    assert diff.count() == 0
    # and the digest phase alone suffices: an empty bucket list downloads
    # zero rows
    assert remote.fetch_bucket_rows(spark, diff.sparkSession.createDataFrame(
        [], "o_orderkey long").schema, 1024, []).count() == 0


def test_cross_engine_detects_changes(t1, con):
    con.execute("""create or replace view mod as
      select o_orderkey, o_custkey, o_orderstatus,
             case when o_orderkey % 100 = 2 then o_totalprice + 100.0 else o_totalprice end as o_totalprice,
             o_orderdate, o_orderpriority
      from orders where o_orderkey % 100 <> 1""")
    remote = DuckDBSide("mod", ["o_orderkey"], COLS, con=con)
    rows = hash_diff_remote(t1, remote).collect()
    minus = {r.o_orderkey for r in rows if r[0] == "-"}
    plus = {r.o_orderkey for r in rows if r[0] == "+"}
    deleted = {r.o_orderkey for r in rows if r[0] == "-" and r.o_orderkey % 100 == 1}
    assert deleted == {k for k in minus if k % 100 == 1}
    assert plus == {k for k in minus if k % 100 == 2}  # updates appear on both sides


def test_decimal_scale_normalization(spark, sf_dir, con):
    """DECIMAL columns must normalize at their OWN scale on both engines
    (ADVICE r1: a hardcoded decimal(38,6) rendered DuckDB '1234.500000' vs
    Spark '1234.50', false-diffing every row of any scale!=6 column)."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(15,2)").alias("price"),
        F.col("o_custkey").cast("decimal(10,0)").alias("ck"),
    )
    t = table_segment(df, ["o_orderkey"], extra_columns=["price", "ck"])
    con.execute("""create or replace view dec2 as
      select o_orderkey, cast(o_totalprice as decimal(15,2)) as price,
             cast(o_custkey as decimal(10,0)) as ck
      from orders""")
    remote = DuckDBSide("dec2", ["o_orderkey"], ["o_orderkey", "price", "ck"], con=con)
    assert hash_diff_remote(t, remote).count() == 0

    # and the checksum is still sensitive: a 1-cent change is detected
    con.execute("""create or replace view dec2_mod as
      select o_orderkey,
             case when o_orderkey % 500 = 7 then price + 0.01 else price end as price,
             ck
      from dec2""")
    remote_mod = DuckDBSide("dec2_mod", ["o_orderkey"], ["o_orderkey", "price", "ck"], con=con)
    changed = hash_diff_remote(t, remote_mod)
    assert changed.filter("o_orderkey % 500 = 7").count() > 0
    assert changed.filter("o_orderkey % 500 <> 7").count() == 0


def _duck_types(con, relation):
    return {r[0]: r[1] for r in con.execute(f"describe select * from {relation}").fetchall()}


def _duck_reader(spark, con, captured):
    """A JdbcSide reader that executes the adapter's generated SQL in DuckDB
    — stands in for spark.read.jdbc(query=...) against a live database."""
    def read(sql):
        captured.append(sql)
        return spark.createDataFrame(con.execute(sql).fetch_df())
    return read


def test_jdbc_side_zero_diff_single_digest_query(spark, t1, con):
    captured = []
    side = JdbcSide(spark, "jdbc:duckdb://mem", "orders", ["o_orderkey"], COLS,
                    _duck_types(con, "orders"), dialect=DuckDBDialect(),
                    reader=_duck_reader(spark, con, captured))
    assert hash_diff_remote(t1, side, n_buckets=64).count() == 0
    # clean tables cost exactly ONE remote query (the digest aggregation);
    # no rows ever crossed
    assert len(captured) == 1
    assert "group by 1" in captured[0]


def test_jdbc_side_matches_duckdb_side(spark, t1, con):
    """JdbcSide and DuckDBSide implement the same contract: identical diffs
    on the same modified remote relation."""
    con.execute("""create or replace view jmod as
      select o_orderkey, o_custkey, o_orderstatus,
             case when o_orderkey % 100 = 2 then o_totalprice + 100.0 else o_totalprice end as o_totalprice,
             o_orderdate, o_orderpriority
      from orders where o_orderkey % 100 <> 1""")
    captured = []
    jdbc = JdbcSide(spark, "jdbc:duckdb://mem", "jmod", ["o_orderkey"], COLS,
                    _duck_types(con, "jmod"), dialect=DuckDBDialect(),
                    reader=_duck_reader(spark, con, captured))
    duck = DuckDBSide("jmod", ["o_orderkey"], COLS, con=con)
    key = lambda r: (r[0], r["o_orderkey"])
    a = sorted(map(key, hash_diff_remote(t1, jdbc, n_buckets=64).collect()))
    b = sorted(map(key, hash_diff_remote(t1, duck, n_buckets=64).collect()))
    assert a == b and len(a) > 0
    # second remote query fetched only mismatched buckets
    assert len(captured) == 2 and "where" in captured[1]


def test_postgres_dialect_digest_sql_golden():
    """Pin the PostgresDialect SQL to the reference's formulas
    (postgresql.py:107-111 md5_as_int; base.py:1271-1286 constants)."""
    d = PostgresDialect()
    types = {"id": "bigint", "v": "numeric(15,2)", "t": "timestamp without time zone"}
    q = digest_query_sql(d, "public.tbl", ["id"], ["id", "v", "t"], types, 256)
    assert "('x' || substring(md5(" in q
    assert "::bit(48)::bigint - 140737488355327" in q
    assert "cast(cast(v as decimal(38,2)) as varchar)" in q
    assert "to_char(t::timestamp(6), 'YYYY-MM-DD HH24:MI:SS.US')" in q
    assert q.strip().startswith("select") and "group by 1" in q
    f = fetch_query_sql(d, "public.tbl", ["id"], ["id", "v", "t"], types, 256, [3, 7])
    assert "in (3, 7)" in f


def test_differing_remote_column_names(t1, con):
    """Remote side with different column names — matched by position, like
    the reference (test_diff_tables.py:306-348)."""
    con.execute("""create or replace view renamed as
      select o_orderkey as pk, o_custkey as c1, o_orderstatus as c2,
             o_totalprice as c3, o_orderdate as c4, o_orderpriority as c5
      from orders""")
    remote = DuckDBSide("renamed", ["pk"], ["pk", "c1", "c2", "c3", "c4", "c5"], con=con)
    assert hash_diff_remote(t1, remote).count() == 0


def test_all_dialects_digest_sql_golden():
    """Pin every dialect's checksum + bucket renderings to the reference's
    per-engine md5 idioms (mysql.py:102-103, clickhouse.py:104-108,
    snowflake.py:79-80, mssql.py:157-158, oracle.py:128-131,
    bigquery.py:160-161, presto.py:121-122, redshift.py:52-53,
    vertica.py:106-107). All take the LOW 12 md5 hex digits minus the
    shared centering offset, so any pair of engines can digest-compare."""
    from data_diff_spark.constants import CHECKSUM_OFFSET
    from data_diff_spark.operators.remote import DIALECTS, digest_query_sql

    want_md5 = {
        "mysql": "conv(substring(md5(x), 21), 16, 10)",
        "clickhouse": "reinterpretAsUInt64(reverse(unhex(substr(hex(MD5(x)), 21))))",
        "snowflake": f"bitand(md5_number_lower64(x), {(1 << 48) - 1})",
        "mssql": "RIGHT(CONVERT(NVARCHAR(32), HashBytes('MD5', x), 2), 12)",
        "oracle": "to_number(substr(standard_hash(x, 'MD5'), 21), 'xxxxxxxxxxxx')",
        "bigquery": "substr(to_hex(md5(x)), 21)",
        "trino": "from_base(substr(to_hex(md5(to_utf8(x))), 21), 16)",
        "redshift": "strtol(substring(md5(x), 21), 16)::decimal(38)",
        "vertica": "HEX_TO_INTEGER(SUBSTRING(MD5(x), 21))",
        "duckdb": "substring(md5(x), 21, 12)",
        "postgresql": "('x' || substring(md5(x), 21))::bit(48)::bigint",
        # dialects this sandbox executes LIVE: Derby over JDBC
        # (tests/test_jdbc_derby.py) and stdlib sqlite3 in-process
        # (tests/test_sqlite_side.py — md5_int/md5_bucket are registered
        # deterministic functions, SQLite's extension mechanism; the
        # centering offset and modulo stay visible in SQL like every
        # other dialect)
        "derby": "HEXLONG(substr(MD5HEX(x), 21, 12), 16)",
        "sqlite": "md5_int(x)",
    }
    assert set(DIALECTS) == set(want_md5)  # 13 engines + Spark-native = 14
    for name, d in DIALECTS.items():
        s = d.md5_as_int_sql("x")
        assert want_md5[name] in s, (name, s)
        assert str(CHECKSUM_OFFSET) in s, name  # shared centering constant
        b = d.bucket_sql("fp", 64)
        assert "64" in b and ("1, 8" in b or ", 8)" in b or "32)" in b), (name, b)
        # every dialect renders a complete one-pass digest query
        q = digest_query_sql(d, "t", ["id"], ["id", "v"],
                             {"id": "BIGINT", "v": "DOUBLE"}, 16)
        assert q.strip().startswith("select"), name
        assert ("group by 1" in q) == d.group_by_ordinal, name
        assert "group by" in q, name


def test_dialect_timestamp_canonical_forms():
    """Every dialect's timestamp rendering targets the same canonical
    'YYYY-MM-DD HH:MM:SS.ffffff' string normalize_timestamp produces."""
    from data_diff_spark.operators.remote import DIALECTS

    marks = {
        "mysql": "datetime(6)",
        "clickhouse": "toUnixTimestamp64Micro",
        "snowflake": "HH24:MI:SS.FF6",
        "mssql": "HH:mm:ss.ffffff",
        "oracle": "HH24:MI:SS.FF6",
        "bigquery": "%H:%M:%E6S",
        "trino": "%H:%i:%S.%f",
        "redshift": "HH24:MI:SS.US",
        "vertica": "HH24:MI:SS.US",
        "duckdb": "%H:%M:%S.%f",
        "postgresql": "HH24:MI:SS.US",
        # Derby has no format function: substr-reassembled cast with the
        # fraction right-padded to 6 digits (live-verified in test_jdbc_derby)
        "derby": "|| '000000', 1, 6)",
        # SQLite stores ISO-8601 TEXT: pure-SQL pad of the fraction to 6
        # digits, truncated to the canonical 26 chars (live-verified in
        # test_sqlite_side)
        "sqlite": "1, 26)",
    }
    for name, d in DIALECTS.items():
        assert marks[name] in d.norm_timestamp_sql("c"), name


def test_cli_remote_digest_duckdb(spark, sf_dir, tmp_path, capsys):
    """--remote-digest end-to-end from the command line: Spark side reads
    parquet, the DuckDB side computes its own digests, output matches the
    known synthetic changes."""
    import duckdb as _duckdb

    from data_diff_spark.cli import main

    db = str(tmp_path / "r.duckdb")
    con = _duckdb.connect(db)
    con.execute(f"""
        create table orders_mod as
        select o_orderkey, o_custkey,
               case when o_orderkey % 100 = 2 then o_totalprice + 100.0
                    else o_totalprice end as o_totalprice
        from read_parquet('{sf_dir}/orders.parquet')
        where o_orderkey % 100 <> 1
    """)
    n_changed = con.execute(
        f"select count(*) from read_parquet('{sf_dir}/orders.parquet') "
        "where o_orderkey % 100 = 2").fetchone()[0]
    n_deleted = con.execute(
        f"select count(*) from read_parquet('{sf_dir}/orders.parquet') "
        "where o_orderkey % 100 = 1").fetchone()[0]
    n = con.execute(f"select count(*) from read_parquet('{sf_dir}/orders.parquet')").fetchone()[0]
    con.close()

    rc = main([
        f"parquet://{sf_dir}/orders.parquet", f"duckdb://{db}#orders_mod",
        "-k", "o_orderkey", "-c", "o_custkey", "-c", "o_totalprice",
        "--remote-digest", "--stats",
    ], spark=spark)
    assert rc == 0
    out = dict(
        line.split(": ") for line in capsys.readouterr().out.strip().splitlines()
    )
    # the same 7-key block as the local path: the remote side's rows come
    # from its own bucket digests
    assert {k: int(v) for k, v in out.items()} == {
        "rows_A": n, "rows_B": n - n_deleted, "exclusive_A": n_deleted,
        "exclusive_B": 0, "updated": n_changed,
        "unchanged": n - n_deleted - n_changed, "total": n_deleted + 2 * n_changed,
    }


def test_stats_contract_three_operators(spark, t1, con, tmp_path):
    """joindiff, library hashdiff and hash_diff_remote report the same
    7-key stats for one pair, equal to DuckDB-computed truth: deletes,
    value updates (one to NULL), inserts."""
    from data_diff_spark import diff_tables
    from data_diff_spark.diff import DiffResult

    con.execute("""create or replace view smod as
      select o_orderkey, o_custkey, o_orderstatus,
             case when o_orderkey % 100 = 2 then o_totalprice + 100.0 else o_totalprice end as o_totalprice,
             o_orderdate,
             case when o_orderkey % 100 = 4 then null else o_orderpriority end as o_orderpriority
      from orders where o_orderkey % 100 <> 1
      union all
      select o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      from orders where o_orderkey % 100 = 3""")
    row_a, row_b = (", ".join(f"{t}.{c}" for c in COLS[1:]) for t in "ab")
    rows_a, rows_b, xa, xb, upd = con.execute(f"""
      select (select count(*) from orders), (select count(*) from smod),
             count(*) filter (b.o_orderkey is null), count(*) filter (a.o_orderkey is null),
             count(*) filter (a.o_orderkey is not null and b.o_orderkey is not null
                              and row({row_a}) is distinct from row({row_b}))
      from orders a full join smod b on a.o_orderkey = b.o_orderkey""").fetchone()
    truth = {"rows_A": rows_a, "rows_B": rows_b, "exclusive_A": xa, "exclusive_B": xb,
             "updated": upd, "unchanged": rows_a - xa - upd, "total": xa + xb + 2 * upd}
    assert xa and xb and upd

    path = str(tmp_path / "smod.parquet")
    con.execute(f"copy (select * from smod) to '{path}' (format parquet)")
    t2 = table_segment(spark.read.parquet(path).select(*COLS), ["o_orderkey"],
                       extra_columns=COLS[1:])
    results = [diff_tables(t1, t2, algorithm=algo) for algo in ("joindiff", "hashdiff")]
    remote = DuckDBSide("smod", ["o_orderkey"], COLS, con=con)
    results.append(DiffResult(hash_diff_remote(t1, remote), t1))
    for r in results:
        assert r.get_stats_dict() == truth
        r.unpersist()


def test_cross_engine_fast_path_degradation_is_loud(spark, sf_dir, caplog):
    """When no relaid ingest copy exists, the cross-engine entry must (a)
    warn loudly that the DuckDB side degrades to the single-row-group
    original and (b) record which path it scanned in _ORACLE_SCANS — a
    silent fallback cost a past round a 4x unexplained swing."""
    import logging

    from data_diff_spark import workload as W

    src = f"{sf_dir}/orders.parquet"
    W.load_views(spark, sf_dir)  # else the entry's own load_views repopulates
    saved = dict(W._INGEST_PATHS)
    W._INGEST_PATHS.clear()
    try:
        with caplog.at_level(logging.WARNING, logger="data_diff_spark.workload"):
            W.q_hashdiff_cross_engine(spark, sf_dir).count()
        assert any("no relaid ingest copy" in r.message for r in caplog.records)
        assert W._ORACLE_SCANS["orders"] == src
    finally:
        W._INGEST_PATHS.update(saved)
    # with the copy present the same entry records the fast path and is quiet
    fast = saved.get(src)
    if fast is None:  # scratch unwritable in this environment
        return
    W._INGEST_PATHS[src] = fast
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="data_diff_spark.workload"):
        W._ORACLE_SCANS.clear()
        W.q_hashdiff_cross_engine(spark, sf_dir)
    assert not any("no relaid ingest copy" in r.message for r in caplog.records)
    assert W._ORACLE_SCANS["orders"] == fast
    W._INGEST_PATHS.clear()
    W._INGEST_PATHS.update(saved)


@pytest.mark.parametrize("sparktype,ducktype", [
    ("double", "DECIMAL(15,2)"),
    ("decimal(10,2)", "DECIMAL(18,4)"),
    ("decimal(18,4)", "DOUBLE"),
    ("double", "BIGINT"),
])
def test_cross_typed_numeric_matches_local_hashdiff(spark, sparktype, ducktype):
    """A numeric column typed differently on the two engines: the remote
    renders at its own scale, so the Spark side must render at that scale
    too. Only key 1 really changed; the cross-engine diff must equal the
    local hashdiff of the same pair (which unifies precisions) and report
    no phantom update on key 0."""
    from decimal import Decimal

    from data_diff_spark import diff_tables

    a_vals, b_vals = [1.5, 2.0, 7.25], [1.5, 3.0, 7.25]
    if ducktype == "BIGINT":
        a_vals, b_vals = [1.0, 2.0, 7.0], [1, 3, 7]
    py = (lambda v: Decimal(str(v))) if sparktype.startswith("decimal") else float
    df = spark.createDataFrame([(i, py(v)) for i, v in enumerate(a_vals)],
                               f"id bigint, v {sparktype}")
    con = duckdb.connect()
    con.execute(f"create table t (id bigint, v {ducktype})")
    con.executemany("insert into t values (?, ?)", list(enumerate(b_vals)))
    t1 = table_segment(df, ["id"], extra_columns=["v"])
    got = hash_diff_remote(t1, DuckDBSide("t", ["id"], ["id", "v"], con=con), n_buckets=8)

    df2 = spark.createDataFrame(con.execute("select * from t").fetch_arrow_table())
    local = diff_tables(t1, table_segment(df2, ["id"], extra_columns=["v"]),
                        algorithm="hashdiff").df
    key = lambda r: (r["sign"], r["id"], float(r["v"]))
    assert sorted(map(key, got.collect())) == sorted(map(key, local.collect()))
    assert {r["id"] for r in got.collect()} == {1}


def test_spark_integer_vs_remote_fraction_raises(spark):
    """A Spark integer column cannot render the remote's fractional digits;
    the pair must be refused, not diffed into a false update per row."""
    df = spark.createDataFrame([(0, 1), (1, 2)], "id bigint, v bigint")
    con = duckdb.connect()
    con.execute("create table t (id bigint, v DECIMAL(18,2))")
    con.executemany("insert into t values (?, ?)", [(0, 1), (1, 2)])
    t1 = table_segment(df, ["id"], extra_columns=["v"])
    with pytest.raises(ValueError, match="fractional"):
        hash_diff_remote(t1, DuckDBSide("t", ["id"], ["id", "v"], con=con))


def test_remote_phase2_is_hashdiff_kernel_plan(spark, t1, con):
    """Phase 2 runs hashdiff's aggregation kernel, never a Window; the
    cached Spark-side frame is hashdiff's narrow shape plus the bucket (no
    compared column); the '+' rows are read from the cached fetch."""
    from data_diff_spark.operators import hashdiff as H

    con.execute("""create or replace view pmod as
      select o_orderkey, o_custkey, o_orderstatus,
             case when o_orderkey % 50 = 2 then o_totalprice + 1.0 else o_totalprice end as o_totalprice,
             o_orderdate, o_orderpriority
      from orders""")
    out = hash_diff_remote(t1, DuckDBSide("pmod", ["o_orderkey"], COLS, con=con), n_buckets=64)
    assert out.count() > 0

    def nodes(plan):
        todo, seen = [plan], []
        while todo:
            node = todo.pop()
            if node.nodeName() == "AdaptiveSparkPlan":
                node = node.initialPlan()
            seen.append(node)
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
            if node.nodeName() == "InMemoryTableScan":
                todo.append(node.relation().cachedPlan())
        return seen

    def names(attrs):
        return sorted(attrs.apply(i).name() for i in range(attrs.size()))

    plan = out._jdf.queryExecution().executedPlan()
    all_nodes = nodes(plan)
    assert not [n for n in all_nodes if "Window" in n.nodeName()]
    cached = [names(n.relation().output()) for n in all_nodes
              if n.nodeName() == "InMemoryTableScan"]
    spark_side = [c for c in cached if H._BUCKET in c]
    assert spark_side, cached
    assert spark_side == [sorted([H._CKS, H._knorm(0), H._BUCKET])] * len(spark_side)
    # the union's '+' branch scans the cached fetch (compared columns +
    # checksum + normalized key), not a fresh remote read
    union = next(n for n in all_nodes if n.nodeName() == "Union")
    plus = [names(n.relation().output()) for n in nodes(union.children().apply(1))
            if n.nodeName() == "InMemoryTableScan"]
    assert sorted(COLS + [H._CKS, H._knorm(0)]) in plus, plus
    for h in out._ddspark_persisted:
        h.unpersist()


def test_cli_remote_digest_materialize_and_explain(spark, sf_dir, tmp_path, capsys):
    """--materialize and --explain apply under --remote-digest like on the
    local path: the diff is written (not printed), and --explain prints
    the plan instead of rows."""
    import duckdb as _duckdb

    from data_diff_spark.cli import main

    db = str(tmp_path / "r.duckdb")
    c = _duckdb.connect(db)
    c.execute(f"""
        create table orders_mod as
        select o_orderkey,
               case when o_orderkey % 100 = 2 then o_totalprice + 100.0
                    else o_totalprice end as o_totalprice
        from read_parquet('{sf_dir}/orders.parquet')
    """)
    c.close()
    argv = [f"parquet://{sf_dir}/orders.parquet", f"duckdb://{db}#orders_mod",
            "-k", "o_orderkey", "-c", "o_totalprice", "--remote-digest"]
    out_path = str(tmp_path / "diff.parquet")
    assert main(argv + ["-m", out_path], spark=spark) == 0
    assert capsys.readouterr().out == ""
    got = spark.read.parquet(out_path)
    assert got.columns == ["sign", "o_orderkey", "o_totalprice"]
    assert got.count() > 0 and got.filter("o_orderkey % 100 <> 2").count() == 0

    assert main(argv + ["--explain"], spark=spark) == 0
    plan = capsys.readouterr().out
    assert "Physical Plan" in plan and "\n- " not in plan and "\n+ " not in plan
