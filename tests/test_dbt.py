"""dbt-lite: manifest parsing, PK discovery precedence, per-model diff
fan-out (reference dbt.py:71-180 / dbt_parser.py:434-515, local path)."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_diff_spark.dbt import (
    DbtManifest,
    _parse_concat_pk_definition,
    dbt_diff,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "dbt_manifest.json")


@pytest.fixture(scope="module")
def manifest():
    return DbtManifest.load(FIXTURE)


def test_models_and_selection(manifest):
    names = sorted(m.name for m in manifest.models())
    assert names == ["concat_keyed", "customers", "events_no_pk", "lineitem", "orders"]
    assert [m.name for m in manifest.models(["orders"])] == ["orders"]
    assert manifest.models(["model.jaffle.lineitem"])[0].alias == "lineitem"


def test_pk_precedence(manifest):
    uniq = manifest.unique_columns()
    by_name = {m.name: m for m in manifest.models()}
    assert manifest.pk_for(by_name["orders"], uniq) == ["o_orderkey"]
    assert manifest.pk_for(by_name["lineitem"], uniq) == ["l_linenumber", "l_orderkey"]
    assert manifest.pk_for(by_name["customers"], uniq) == ["c_custkey"]  # column meta
    assert manifest.pk_for(by_name["concat_keyed"], uniq) == ["k1", "k2"]  # concat test
    assert manifest.pk_for(by_name["events_no_pk"], uniq) == []
    # source-level uniqueness tests are ignored (dbt_parser.py:482-484)
    assert "source.jaffle.raw_orders" not in uniq


def test_parse_concat_pk_definition():
    assert _parse_concat_pk_definition("concat(a, b)") == ["a", "b"]
    assert _parse_concat_pk_definition('a || \'-\' || b') == ["a", "'-'", "b"]
    assert _parse_concat_pk_definition('"A" || "B"') == ["A", "B"]


def test_dbt_cli_mode(spark, tmp_path, capsys):
    """python -m data_diff_spark --dbt-manifest ... end-to-end via the
    Spark catalog resolver (2-part schema.table paths)."""
    import json as _json

    from data_diff_spark.cli import main

    spark.sql("create database if not exists dd_devns")
    spark.sql("create database if not exists dd_prodns")
    # a fresh metastore with a leftover warehouse dir from a prior session
    # makes saveAsTable fail with LOCATION_ALREADY_EXISTS; clear the paths
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for ns in ("dd_prodns", "dd_devns"):
        spark.sql(f"drop table if exists {ns}.items")
        shutil.rmtree(f"{wh}/{ns}.db/items", ignore_errors=True)
    rows = [Row(id=i, v=float(i)) for i in range(10)]
    spark.createDataFrame(rows).write.mode("overwrite").saveAsTable("dd_prodns.items")
    spark.createDataFrame(rows[1:]).write.mode("overwrite").saveAsTable("dd_devns.items")
    manifest = {
        "nodes": {
            "model.p.items": {
                "resource_type": "model", "name": "items", "alias": "items",
                "schema": "dd_devns", "meta": {},
                "columns": {"id": {"meta": {"primary-key": True}, "tags": []}},
            }
        }
    }
    mpath = tmp_path / "manifest.json"
    mpath.write_text(_json.dumps(manifest))
    rc = main(["--dbt-manifest", str(mpath), "--prod-schema", "dd_prodns", "-j"],
              spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    rec = _json.loads(out[-1])
    assert rec["model"] == "items" and rec["pks"] == ["id"]
    assert rec["exclusive_A"] == 1 and rec["total"] == 1


def test_dbt_diff_fanout(spark, sf_dir, manifest):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    orders_dev = orders.filter(F.col("o_orderkey") % 100 != 1)
    custs = spark.createDataFrame(
        [Row(c_custkey=i, c_name=f"c{i}") for i in range(10)])

    frames = {
        ("prod_db", "analytics", "orders"): orders,
        ("dev_db", "analytics", "orders"): orders_dev,
        ("prod_db", "analytics", "customers"): custs,
        ("dev_db", "analytics", "customers"): custs,
    }

    def resolver(path):
        if path not in frames:
            raise KeyError(f"relation {path} not found")
        return frames[path]

    results = dbt_diff(
        spark,
        manifest_path=FIXTURE,
        selection=["orders", "customers", "events_no_pk", "lineitem"],
        prod_database="prod_db",
        resolver=resolver,
    )
    by_model = {r.model: r for r in results}
    assert by_model["events_no_pk"].skipped == "no_primary_key"
    assert by_model["lineitem"].skipped.startswith("unresolved")  # new model
    o = by_model["orders"]
    assert o.primary_keys == ["o_orderkey"]
    assert o.stats["exclusive_A"] > 0 and o.stats["exclusive_B"] == 0
    assert o.stats["updated"] == 0
    assert by_model["customers"].stats["total"] == 0
    for r in results:
        if r.result:
            r.result.unpersist()


@pytest.mark.parametrize("dev_columns", [["id", "b", "a"], ["id", "a", "b", "c"]])
def test_dbt_diff_pairs_columns_by_name(spark, dev_columns):
    """dev reorders or adds columns: the shared columns pair by name, so
    the unchanged rows read unchanged."""
    rows = spark.createDataFrame([(1, "a1", "b1", "c1"), (2, "a2", "b2", "c2")],
                                 "id long, a string, b string, c string")
    frames = {"prod": rows.select("id", "a", "b"), "dev": rows.select(*dev_columns)}
    manifest = {"nodes": {"model.p.items": {
        "resource_type": "model", "name": "items", "schema": "dev",
        "columns": {"id": {"meta": {"primary-key": True}}}}}}
    [r] = dbt_diff(spark, manifest=manifest, prod_schema="prod",
                   resolver=lambda path: frames[path[0]])
    assert r.stats["total"] == 0 and r.stats["unchanged"] == 2
