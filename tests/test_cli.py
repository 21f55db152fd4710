"""CLI tests — in-process (shared Spark session) against scratch parquet."""

import json
import os

import duckdb
import pytest

from data_diff_spark.cli import expand_columns, main, parse_duration_seconds

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@pytest.fixture(scope="module")
def mod_orders_path(sf_dir):
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, "cli_orders_mod.parquet")
    duckdb.sql(f"""
      copy (
        select o_orderkey, o_custkey, o_orderstatus,
               case when o_orderkey % 100 = 2 then o_totalprice + 100.0 else o_totalprice end as o_totalprice,
               o_orderdate, o_orderpriority
        from '{sf_dir}/orders.parquet' where o_orderkey % 100 <> 1
      ) to '{path}' (format parquet)
    """)
    return path


def test_duration_parsing():
    assert parse_duration_seconds("5min") == 300
    assert parse_duration_seconds("2h") == 7200
    assert parse_duration_seconds("1d") == 86400
    assert parse_duration_seconds("3 weeks") == 3 * 7 * 86400
    with pytest.raises(ValueError):
        parse_duration_seconds("fortnight")


def test_expand_columns():
    cols = ["o_orderkey", "o_totalprice", "o_orderdate"]
    assert expand_columns(["o_total*"], cols, ["o_orderkey"]) == ["o_totalprice"]
    assert expand_columns(["*"], cols, ["o_orderkey"]) == ["o_totalprice", "o_orderdate"]
    with pytest.raises(SystemExit):
        expand_columns(["nope*"], cols, [])


def test_cli_stats(spark, sf_dir, mod_orders_path, capsys):
    rc = main(
        [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
         "-k", "o_orderkey", "--stats"],
        spark=spark,
    )
    assert rc == 0
    out = dict(line.split(": ") for line in capsys.readouterr().out.strip().splitlines())
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()  # SF-relative
    assert int(out["rows_A"]) == n
    assert int(out["exclusive_A"]) == n // 100
    assert int(out["updated"]) == n // 100


def test_cli_stats_json(spark, sf_dir, mod_orders_path, tmp_path, capsys):
    """--stats -j prints the stats as one JSON object, for a local diff and
    for a --remote-digest diff of the same pair; without -j the output is
    the 7 `key: int` lines."""
    pair = [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
            "-k", "o_orderkey", "--stats"]
    assert main(pair, spark=spark) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    plain = {k: int(v) for k, v in (line.split(": ") for line in lines)}
    assert list(plain) == ["rows_A", "rows_B", "exclusive_A", "exclusive_B",
                           "updated", "unchanged", "total"]
    assert main(pair + ["-j"], spark=spark) == 0
    assert json.loads(capsys.readouterr().out) == plain

    db = str(tmp_path / "r.duckdb")
    con = duckdb.connect(db)
    con.execute(f"create table orders_mod as select * from read_parquet('{mod_orders_path}')")
    con.close()
    rc = main([pair[0], f"duckdb://{db}#orders_mod", *pair[2:], "--remote-digest", "-j"],
              spark=spark)
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == plain


def test_cli_skip_null_keys_with_unique_check(spark, tmp_path, capsys):
    """--skip-null-keys drops repeated NULL keys before the default
    duplicate-key check runs, instead of failing on them."""
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    duckdb.sql(f"copy (select * from (values (1, 'a'), (2, 'b'), (null, 'n'), (null, 'm')) "
               f"t(id, v)) to '{a}' (format parquet)")
    duckdb.sql(f"copy (select * from (values (1, 'a'), (2, 'B'), (null, 'n')) t(id, v)) "
               f"to '{b}' (format parquet)")
    rc = main([f"parquet://{a}", f"parquet://{b}", "-k", "id", "--skip-null-keys",
               "--stats", "-j"], spark=spark)
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {
        "rows_A": 2, "rows_B": 2, "exclusive_A": 0, "exclusive_B": 0,
        "updated": 1, "unchanged": 1, "total": 2}


def test_n_buckets_must_be_positive(spark, sf_dir, capsys):
    """0 and negative bucket counts are rejected, not silently read as
    "auto" (0) or "prune nothing" (negative), by both hashdiff operators
    and the CLI flag."""
    from data_diff_spark import table_segment
    from data_diff_spark.operators.hashdiff import hash_diff
    from data_diff_spark.operators.remote import hash_diff_remote

    t = table_segment(spark.range(3), ["id"])
    orders = f"parquet://{sf_dir}/orders.parquet"
    for bad in (0, -4):
        with pytest.raises(ValueError, match="n_buckets"):
            hash_diff(t, t, n_buckets=bad)
        with pytest.raises(ValueError, match="n_buckets"):
            hash_diff_remote(t, None, n_buckets=bad)
        with pytest.raises(SystemExit) as exc:
            main([orders, orders, "-k", "o_orderkey", "-a", "hashdiff",
                  "--n-buckets", str(bad)], spark=spark)
        assert exc.value.code == 2
        assert "--n-buckets" in capsys.readouterr().err


def test_cli_jsonl_hashdiff(spark, sf_dir, mod_orders_path, capsys):
    rc = main(
        [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
         "-k", "o_orderkey", "-a", "hashdiff", "-j", "-c", "o_total*"],
        spark=spark,
    )
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert all(set(r) == {"sign", "o_orderkey", "o_totalprice"} for r in rows)
    signs = {}
    for r in rows:
        signs[r["sign"]] = signs.get(r["sign"], 0) + 1
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert signs == {"-": 2 * (n // 100), "+": n // 100}


def test_diff_schemas():
    import pyspark.sql.types as T

    from data_diff_spark.diff import diff_schemas

    class FakeDF:
        def __init__(self, fields):
            self.schema = T.StructType([T.StructField(n, t) for n, t in fields])

    a = FakeDF([("id", T.LongType()), ("v", T.DoubleType()), ("gone", T.StringType())])
    b = FakeDF([("id", T.LongType()), ("v", T.DecimalType(10, 2)), ("new", T.StringType())])
    got = {c: s for c, _, _, s in diff_schemas(a, b)}
    assert got == {"id": "common", "v": "type_changed", "gone": "only_a", "new": "only_b"}


def test_duckdb_scheme(spark, sf_dir):
    from data_diff_spark.sources.connect import read_uri

    df = read_uri(spark, f"duckdb://#select 1 as a, 'x' as b")
    assert df.collect()[0].asDict() == {"a": 1, "b": "x"}
    df2 = read_uri(spark, f"duckdb://#read_parquet('{sf_dir}/region.parquet')")
    assert df2.count() == spark.read.parquet(f"{sf_dir}/region.parquet").count()


def test_duckdb_scheme_row_guard(spark, sf_dir):
    """duckdb:// materializes through the driver, so big relations must
    refuse with a pointer at the digests-only remote path."""
    import pytest

    from data_diff_spark.sources.connect import read_uri

    with pytest.raises(ValueError, match="hash_diff_remote"):
        read_uri(spark, f"duckdb://#read_parquet('{sf_dir}/orders.parquet')",
                 max_rows=10)
    # explicit override admits it
    df = read_uri(spark, f"duckdb://#select 1 as a", max_rows=10)
    assert df.count() == 1


def test_cli_interactive_explain_gate(spark, sf_dir, mod_orders_path, capsys, monkeypatch):
    """-i prints the plan and aborts unless confirmed (reference
    interactive EXPLAIN mode, base.py:984-994)."""
    from data_diff_spark.cli import main

    args = [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
            "-k", "o_orderkey", "-i"]
    monkeypatch.setattr("builtins.input", lambda *_: "n")
    assert main(args, spark=spark) == 1
    monkeypatch.setattr("builtins.input", lambda *_: "y")
    assert main(args + ["--stats"], spark=spark) == 0
    out = capsys.readouterr()
    assert "total:" in out.out


def test_toml_config_overlay(spark, sf_dir, mod_orders_path, capsys):
    cfg = os.path.join(SCRATCH, "test_conf.toml")
    with open(cfg, "w") as f:
        f.write(f"""
[run.orders]
uri1 = "parquet://{sf_dir}/orders.parquet"
uri2 = "parquet://{mod_orders_path}"
key_columns = "o_orderkey"
algorithm = "hashdiff"
""")
    rc = main(["--config", f"{cfg}#orders", "--stats"], spark=spark)
    assert rc == 0
    out = dict(line.split(": ") for line in capsys.readouterr().out.strip().splitlines())
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert int(out["rows_A"]) == n and int(out["updated"]) == n // 100

    with pytest.raises(SystemExit, match="no \\[run.missing\\]"):
        main(["--config", f"{cfg}#missing"], spark=spark)
    with pytest.raises(SystemExit, match="required"):
        main([], spark=spark)


def test_csv_json_schemes_roundtrip(spark, sf_dir):
    """Same logical rows through parquet vs csv vs json sources -> zero
    diff (the connect layer + normalization absorb the physical encoding)."""
    from data_diff_spark import diff_tables
    from data_diff_spark.sources.connect import connect_to_table

    os.makedirs(SCRATCH, exist_ok=True)
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    csv_path = os.path.join(SCRATCH, "nation_csv")
    json_path = os.path.join(SCRATCH, "nation_json")
    base.write.mode("overwrite").option("header", True).csv(csv_path)
    base.write.mode("overwrite").json(json_path)

    t_parquet = connect_to_table(spark, f"parquet://{sf_dir}/nation.parquet", ["n_nationkey"])
    t_csv = connect_to_table(spark, f"csv://{csv_path}", ["n_nationkey"])
    t_json = connect_to_table(spark, f"json://{json_path}", ["n_nationkey"])
    assert diff_tables(t_parquet, t_csv).df.count() == 0
    assert diff_tables(t_parquet, t_json).df.count() == 0


def test_orc_scheme_roundtrip(spark, sf_dir):
    from data_diff_spark import diff_tables
    from data_diff_spark.sources.connect import connect_to_table

    os.makedirs(SCRATCH, exist_ok=True)
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orc_path = os.path.join(SCRATCH, "nation_orc")
    base.write.mode("overwrite").orc(orc_path)

    t_parquet = connect_to_table(spark, f"parquet://{sf_dir}/nation.parquet", ["n_nationkey"])
    t_orc = connect_to_table(spark, f"orc://{orc_path}", ["n_nationkey"])
    assert diff_tables(t_parquet, t_orc).df.count() == 0


def test_cli_snapshot_write_and_diff(spark, sf_dir, mod_orders_path, capsys):
    snap = os.path.join(SCRATCH, "cli_snapshot")
    rc = main([f"parquet://{sf_dir}/orders.parquet", "-k", "o_orderkey",
               "--snapshot-write", snap], spark=spark)
    assert rc == 0
    capsys.readouterr()
    rc = main([f"parquet://{mod_orders_path}", "-k", "o_orderkey",
               "--snapshot", snap, "-j"], spark=spark)
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    signs = {r["sign"] for r in rows}
    # the fixture deletes (%100==1) and updates (%100==2); no inserts
    assert signs == {"-", "!"} and len(rows) > 0
    # snapshot flags require uri1 + keys
    with pytest.raises(SystemExit, match="snapshot"):
        main(["--snapshot", snap], spark=spark)
    # a stored snapshot has no update column to window
    for mode in (["--snapshot", snap], ["--snapshot-write", snap]):
        with pytest.raises(SystemExit, match="min-age"):
            main([f"parquet://{mod_orders_path}", "-k", "o_orderkey", *mode,
                  "-t", "o_orderdate", "--max-age", "1d"], spark=spark)


def test_cli_materialize(spark, sf_dir, mod_orders_path, tmp_path):
    out = os.path.join(SCRATCH, "cli_diff_out.parquet")
    rc = main(
        [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
         "-k", "o_orderkey", "-m", out, "--materialize-limit", "10"],
        spark=spark,
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.columns[0] == "sign"


@pytest.fixture(scope="module")
def aged_pair(spark, tmp_path_factory):
    """10 rows (id, s, u) with historic update timestamps u; B changes only
    key 3's s."""
    import datetime as dt

    rows = [(i, f"v{i}", dt.datetime(2020, 1, i + 1)) for i in range(10)]
    changed = [(i, "changed" if i == 3 else s, u) for i, s, u in rows]
    d = tmp_path_factory.mktemp("aged")
    paths = []
    for name, data in (("a", rows), ("b", changed)):
        spark.createDataFrame(data, "id long, s string, u timestamp") \
            .write.mode("overwrite").parquet(str(d / name))
        paths.append(f"parquet://{d / name}")
    return paths


def _stats(capsys):
    return {k: int(v) for k, v in
            (line.split(": ") for line in capsys.readouterr().out.strip().splitlines())}


def test_cli_local_age_window(spark, aged_pair, capsys, monkeypatch):
    """--min-age/--max-age on the local path: both sides get the same
    min_update/max_update, from one current_timestamp query."""
    from data_diff_spark import diff

    base = [*aged_pair, "-k", "id", "-t", "u", "--stats"]
    assert main(base + ["--max-age", "1d"], spark=spark) == 0
    assert _stats(capsys) == dict.fromkeys(
        ["rows_A", "rows_B", "exclusive_A", "exclusive_B", "updated", "unchanged", "total"], 0)
    full = {"rows_A": 10, "rows_B": 10, "exclusive_A": 0, "exclusive_B": 0,
            "updated": 1, "unchanged": 9, "total": 2}
    assert main(base + ["--min-age", "5min"], spark=spark) == 0
    assert _stats(capsys) == full

    segments, now_queries = [], []
    diff_tables, sql = diff.diff_tables, spark.sql

    def spy_diff_tables(t1, t2, **kw):
        segments.append((t1, t2))
        return diff_tables(t1, t2, **kw)

    def spy_sql(query, *a, **kw):
        if "current_timestamp" in query:
            now_queries.append(query)
        return sql(query, *a, **kw)

    monkeypatch.setattr(diff, "diff_tables", spy_diff_tables)
    monkeypatch.setattr(spark, "sql", spy_sql)
    assert main(base + ["--min-age", "5min", "--max-age", "36500d"], spark=spark) == 0
    assert _stats(capsys) == full
    [(t1, t2)] = segments
    assert t1.min_update is not None and t1.max_update is not None
    assert (t1.min_update, t1.max_update) == (t2.min_update, t2.max_update)
    assert len(now_queries) == 1


def test_cli_age_window_needs_update_column(spark, aged_pair):
    """A window with no update column to apply it to raises, in the library
    and through the CLI, instead of diffing every row."""
    import datetime as dt

    from data_diff_spark import table_segment

    with pytest.raises(ValueError, match="update_column"):
        table_segment(spark.range(3), ["id"], max_update=dt.datetime(2020, 1, 1))
    with pytest.raises(ValueError, match="update_column"):
        main([*aged_pair, "-k", "id", "--max-age", "1d"], spark=spark)


def test_cli_snapshot_hashed_columns_must_match(spark, aged_pair, tmp_path, capsys):
    """-t and -c reorder the hashed columns: a snapshot read with another
    column list raises instead of reporting every key as updated."""
    from pyspark.sql import functions as F

    from data_diff_spark.operators.snapshot import CKS_COL

    a, b = aged_pair
    snap = str(tmp_path / "snap")
    assert main([a, "-k", "id", "--snapshot-write", snap], spark=spark) == 0
    for flags in (["-t", "u"], ["-c", "u", "-c", "s"]):
        with pytest.raises(ValueError, match="hashed columns"):
            main([b, "-k", "id", "--snapshot", snap, *flags], spark=spark)
    capsys.readouterr()
    assert main([b, "-k", "id", "--snapshot", snap], spark=spark) == 0
    assert capsys.readouterr().out.splitlines() == ["! 3"]

    # a snapshot without the record diffs as before
    bare = str(tmp_path / "bare")
    spark.read.parquet(snap).select("id", F.col(CKS_COL).alias(CKS_COL, metadata={})) \
        .write.parquet(bare)
    assert not spark.read.parquet(bare).schema[CKS_COL].metadata
    assert main([b, "-k", "id", "--snapshot", bare], spark=spark) == 0
    assert capsys.readouterr().out.splitlines() == ["! 3"]
