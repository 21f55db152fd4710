"""Scale probe: build an N-fold lineitem corpus in .scratch and time the
core diff operators on it — the "would this survive a 10x scale-up"
evidence loop (run per round after perf changes).

Usage: python tools/scale_probe.py [factor]   (default 10 -> ~6M rows)

Prints one JSON line with timings; results (local[32], factor=10 = 6M
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

COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]
KEYS = ["l_orderkey", "l_linenumber"]


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
    path = os.path.join(scratch, f"lineitem_x{factor}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        big = None
        for i in range(factor):
            c = base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
            big = c if big is None else big.unionAll(c)
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
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
