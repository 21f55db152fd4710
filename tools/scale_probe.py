"""Scale probe: build an N-fold lineitem corpus in .scratch and time the
core diff operators on it — the "would this survive a 10x scale-up"
evidence loop (run per round after perf changes).

Usage: python tools/scale_probe.py [factor]   (default 10 -> ~6M rows)

sf0.1 lineitem repeats (l_orderkey, l_linenumber), so the corpus carries
a row id, l_rowid, as a third key: on unique keys join_diff and hash_diff
give the same rows, which the probe checks, so both time one diff.

Prints one JSON line with timings, and the cross-engine row: the same pair
with side B behind a DuckDBSide over the written corpus (the mod rules in
SQL), diffed by hash_diff_remote — its wall time, Spark jobs, remote
queries, digest rows received and rows fetched, changed and zero-diff; results (local[32], factor=10 = 6M
rows, ~2% changed): r3: hashdiff 36s (was 80s before the two-level
digests), joindiff 20s. r4 (narrow default + broadcast re-read +
small-dirty-set shortcut): hashdiff 18-51s across repeats (GC/cache
variance dominates two 6M-row cached frames at this heap; best run
17.9s), joindiff 9.7s, zero-diff hashdiff 4.6s (coarse digests only).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

COLS = ["l_orderkey", "l_linenumber", "l_rowid", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]
KEYS = ["l_orderkey", "l_linenumber", "l_rowid"]


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from data_diff_spark import table_segment
    from data_diff_spark.operators import hashdiff as hd, joindiff as jd

    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
    path = os.path.join(scratch, f"lineitem_keyed_x{factor}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        big = None
        for i in range(factor):
            c = base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
            big = c if big is None else big.unionAll(c)
        big = big.withColumn("l_rowid", F.monotonically_increasing_id())
        big.repartition(64).write.mode("overwrite").parquet(path)

    big = spark.read.parquet(path).select(*COLS)
    rows = big.count()
    mod = (
        big.filter((F.col("l_orderkey") % 100) != 1)
        .withColumn("l_quantity", F.when(F.col("l_orderkey") % 100 == 2,
                                         F.col("l_quantity") + 1.0).otherwise(F.col("l_quantity")))
    )
    extras = [c for c in COLS if c not in KEYS]
    t1 = table_segment(big, KEYS, extra_columns=extras)
    t2 = table_segment(mod, KEYS, extra_columns=extras)

    out = {"rows": rows}
    t0 = time.time(); out["hashdiff_rows"] = hd.hash_diff(t1, t2).count()
    out["hashdiff_sec"] = round(time.time() - t0, 1)
    spark.catalog.clearCache()
    t0 = time.time(); out["hashdiff_zero_rows"] = hd.hash_diff(
        t1, table_segment(big, KEYS, extra_columns=extras)).count()
    out["hashdiff_zero_sec"] = round(time.time() - t0, 1)
    spark.catalog.clearCache()
    t0 = time.time(); out["joindiff_rows"] = jd.join_diff(t1, t2).count()
    out["joindiff_sec"] = round(time.time() - t0, 1)
    if out["joindiff_rows"] != out["hashdiff_rows"]:
        raise RuntimeError(f"join_diff and hash_diff disagree on unique keys: {out}")
    spark.catalog.clearCache()
    out.update(remote_row(spark, path, t1))
    print(json.dumps(out))
    spark.stop()


def remote_row(spark, path, t1):
    """hash_diff_remote of t1 against the corpus in DuckDB, modified by the
    same rules as `mod` above, and against the unmodified corpus."""
    import duckdb

    from data_diff_spark.operators.remote import DuckDBSide, hash_diff_remote

    class CountingSide(DuckDBSide):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.queries = self.digest_rows = 0
            self.fetched = []

        def _query(self, sql):
            rows = super()._query(sql)
            self.queries += 1
            self.digest_rows += len(rows)
            return rows

        def fetch_bucket_rows(self, spark, schema, n_buckets, bucket_ids):
            self.queries += bucket_ids is None or len(bucket_ids) > 0
            df = super().fetch_bucket_rows(spark, schema, n_buckets, bucket_ids)
            self.fetched.append(df)
            return df

    con = duckdb.connect()
    con.execute(f"create view big as select {', '.join(COLS)} from read_parquet('{path}/*.parquet')")
    quantity = ("case when l_orderkey % 100 = 2 then l_quantity + 1.0 "
                "else l_quantity end as l_quantity")
    cols = ", ".join(quantity if c == "l_quantity" else c for c in COLS)
    con.execute(f"create view mod as select {cols} from big where l_orderkey % 100 <> 1")
    sc = spark.sparkContext
    out = {}
    for name, rel in (("remote", "mod"), ("remote_zero", "big")):
        side = CountingSide(rel, KEYS, COLS, con=con)
        sc.setJobGroup(name, name)
        t0 = time.time(); out[f"{name}_rows"] = hash_diff_remote(t1, side).count()
        out[f"{name}_sec"] = round(time.time() - t0, 1)
        out[f"{name}_jobs"] = len(sc.statusTracker().getJobIdsForGroup(name))
        out[f"{name}_queries"] = side.queries
        out[f"{name}_digest_rows"] = side.digest_rows
        out[f"{name}_fetched_rows"] = sum(df.count() for df in side.fetched)
        spark.catalog.clearCache()
    con.close()
    return out


if __name__ == "__main__":
    main()
