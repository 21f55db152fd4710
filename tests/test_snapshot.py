"""Snapshot diff: digest snapshots vs live tables (operators/snapshot.py)."""

import os

import pytest
from pyspark.sql import functions as F

from data_diff_spark import table_segment
from data_diff_spark.operators import snapshot as SN

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def test_snapshot_roundtrip_no_changes(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = table_segment(orders, ["o_orderkey"])
    path = os.path.join(SCRATCH, "snap_orders_same")
    SN.write_snapshot(t, path)
    assert SN.diff_against_snapshot(t, SN.load_snapshot(spark, path)).count() == 0


def test_snapshot_detects_insert_delete_update(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, s string, v double"
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 99.0), (4, "d", 4.0)], "id long, s string, v double"
    )
    path = os.path.join(SCRATCH, "snap_small")
    SN.write_snapshot(table_segment(old, ["id"]), path)
    out = {
        r["id"]: r["sign"]
        for r in SN.diff_against_snapshot(
            table_segment(new, ["id"]), SN.load_snapshot(spark, path)
        ).collect()
    }
    assert out == {1: "-", 3: "!", 4: "+"}


def test_snapshot_compound_and_null_keys(spark):
    old = spark.createDataFrame(
        [(1, None, "x"), (1, 2, "y")], "a long, b long, s string"
    )
    new = spark.createDataFrame(
        [(1, None, "CHANGED"), (1, 2, "y")], "a long, b long, s string"
    )
    path = os.path.join(SCRATCH, "snap_nullkey")
    SN.write_snapshot(table_segment(old, ["a", "b"]), path)
    rows = SN.diff_against_snapshot(
        table_segment(new, ["a", "b"]), SN.load_snapshot(spark, path)
    ).collect()
    # null-safe key join: the (1, NULL) row matches itself and reports '!'
    assert [(r["a"], r["b"], r["sign"]) for r in rows] == [(1, None, "!")]


def test_snapshot_is_narrow(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = table_segment(orders, ["o_orderkey"])
    assert SN.snapshot_frame(t).columns == ["o_orderkey", SN.CKS_COL]


# --- Z-order layout (sources/connect.py) ------------------------------------


def _py_morton(a: int, b: int, bits: int = 21) -> int:
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def test_morton_code_matches_python(spark):
    from data_diff_spark.sources.connect import morton_code

    rows = [(3, 5), (0, 0), (2**21 - 1, 2**21 - 1), (123456, 654321)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select("a", "b", morton_code("a", "b").alias("z")).collect()
    for r in got:
        assert r["z"] == _py_morton(r["a"], r["b"])


def test_zorder_write_files_cover_disjoint_ranges(spark, sf_dir):
    """repartitionByRange + in-task sort => each output file owns a
    contiguous, non-overlapping slice of the Z-curve — the property that
    makes parquet min/max stats prune files on range predicates."""
    from data_diff_spark.sources.connect import morton_code, zorder_write

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    out = os.path.join(SCRATCH, "zorder_events")
    zorder_write(ev, out, "user_id", "event_id", num_files=8)

    back = spark.read.parquet(out).select(
        F.input_file_name().alias("f"),
        morton_code("user_id", "event_id").alias("z"),
    )
    ranges = sorted(
        (r["lo"], r["hi"])
        for r in back.groupBy("f").agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()
    )
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint slices of the curve
    # and the rows themselves round-trip
    assert spark.read.parquet(out).count() == ev.count()


def test_snapshot_decimal_checksum_still_diffs(spark, tmp_path):
    """Snapshots written before the checksum became a long stored __row_cks
    as decimal(38,0); diffed against the live table they still mark only
    the changed key. New snapshots write a bigint."""
    from pyspark.sql import types as T

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c")], "id long, s string"
    )
    frame = SN.snapshot_frame(table_segment(old, ["id"]))
    assert frame.schema[SN.CKS_COL].dataType == T.LongType()
    meta = frame.schema[SN.CKS_COL].metadata
    path = str(tmp_path / "snap_decimal")
    frame.select(
        "id", F.col(SN.CKS_COL).cast("decimal(38,0)").alias(SN.CKS_COL, metadata=meta)
    ).write.parquet(path)
    snap = SN.load_snapshot(spark, path)
    assert snap.schema[SN.CKS_COL].dataType == T.DecimalType(38, 0)
    rows = SN.diff_against_snapshot(table_segment(new, ["id"]), snap).collect()
    assert [(r["id"], r["sign"]) for r in rows] == [(2, "!")]
