"""Spark side of the diff benchmark: one process, one SparkSession.

Roles (chosen by run.py, which starts this file as a fresh process):
  session  start a SparkSession, report it ready, stop
  measure  start a SparkSession, report it ready, run the cold first diff,
           then warm diffs for --seconds, at least one (tracing off)
  trace    start a SparkSession, run the cold diff, then alternate untraced
           and traced diffs for --seconds, then the count/checksum probes

Protocol: lines starting with ``@@perfbench`` on stdout; everything else
(Spark's own output included) is ignored by run.py.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

_MB = 1024.0 * 1024.0


def emit(kind: str, payload=None) -> None:
    line = f"@@perfbench {kind}" + ("" if payload is None else " " + json.dumps(payload))
    print(line, flush=True)


def build_session(work_dir: str):
    """local[<cpus this process may use>] with the repo bench's shuffle
    width (bench.build_session: max(2 x cpus, 8)); every scratch file
    Spark writes stays under `work_dir`."""
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def storage_mb(sc) -> float:
    """Block-manager storage (memory + disk) held by cached RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


class StoragePeak:
    """Samples storage where the diff releases its caches
    (DiffResult.unpersist). Every cache a diff pins (hashdiff's narrow
    persists and key set, the stats persist) is still held there, so that
    sample is the diff's peak."""

    def __init__(self, spark):
        from data_diff_spark.diff import DiffResult

        self.sc = spark.sparkContext
        self.mb = 0.0
        orig = DiffResult.unpersist
        peak = self

        def unpersist(result):
            peak.mb = max(peak.mb, storage_mb(peak.sc))
            return orig(result)

        DiffResult.unpersist = unpersist


def settle(spark) -> None:
    """Between diffs, outside timing: wait for released cache blocks to go
    and collect garbage, so each timed diff starts from the same state."""
    sc = spark.sparkContext
    deadline = time.perf_counter() + 5.0
    while storage_mb(sc) > 0 and time.perf_counter() < deadline:
        time.sleep(0.05)
    sc._jvm.System.gc()


class CliStats:
    """`cli.main([A, B, -k, key, *args, --stats], spark=...)`; correct when
    the printed stats equal the generator's truth."""

    def __init__(self, pair: gen.Pair, args, algorithm: str):
        self.pair, self.args, self.algorithm = pair, list(args), algorithm

    def run(self, spark, spans):
        from data_diff_spark import cli

        argv = [f"parquet://{self.pair.a}", f"parquet://{self.pair.b}",
                "-k", gen.ORDERS_KEYS[0], *self.args, "--stats"]
        out = io.StringIO()
        with spans("cli"), contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            rc = cli.main(argv, spark=spark)
        return rc, out.getvalue()

    def check(self, outcome) -> bool:
        rc, text = outcome
        return rc == 0 and parse_stats(text) == self.pair.truth

    def segments(self, spark):
        from data_diff_spark.sources.connect import connect_to_table

        return [connect_to_table(spark, f"parquet://{p}", list(gen.ORDERS_KEYS))
                for p in (self.pair.a, self.pair.b)]


def parse_stats(text: str) -> dict:
    out = {}
    for line in text.splitlines():
        key, sep, value = line.partition(": ")
        if sep:
            out[key.strip()] = int(value)
    return out


class DenseDrain:
    """Library `diff_tables(..., algorithm="hashdiff")` with every diff row
    drained to the driver as Arrow; correct when the drained multiset
    equals the DuckDB-computed expected multiset."""

    algorithm = "hashdiff"

    def __init__(self, pair: gen.Pair, work_dir: str):
        self.pair, self.work_dir = pair, work_dir

    def segments(self, spark):
        from data_diff_spark.sources.connect import connect_to_table

        return [connect_to_table(spark, f"parquet://{p}", list(gen.LINEITEM_KEYS))
                for p in (self.pair.a, self.pair.b)]

    def run(self, spark, spans):
        from data_diff_spark.diff import diff_tables

        t1, t2 = self.segments(spark)
        result = diff_tables(t1, t2, algorithm="hashdiff")
        with spans("drain") as span:
            table = result.df.toArrow()
            if span is not None:
                span["counts"]["rows_out"] = table.num_rows
        result.unpersist()
        return table

    def check(self, table) -> bool:
        return drained_matches(table, self.pair, self.work_dir)


def drained_matches(table, pair: gen.Pair, work_dir: str) -> bool:
    """True when `table` (sign + diff columns) is exactly the expected
    emitted multiset: same row count and empty EXCEPT ALL both ways."""
    import duckdb

    if table.num_rows != pair.truth["-"] + pair.truth["+"]:
        return False
    con = duckdb.connect(config={"temp_directory": os.path.join(work_dir, "duckdb-tmp")})
    try:
        con.execute("set enable_progress_bar = false")
        con.register("got", table)
        exp = f"read_parquet('{pair.expected}')"
        extra = con.execute(
            f"select count(*) from ((select * from got except all select * from {exp}) "
            f"union all (select * from {exp} except all select * from got))"
        ).fetchone()[0]
    finally:
        con.close()
    return extra == 0


def make_workload(name: str, seed: int, size: str, work_dir: str):
    pair = gen.ensure_pair(os.path.join(work_dir, "data"), seed=seed,
                           **gen.pair_args(name, size))
    if name == "hashdiff_sparse":
        return CliStats(pair, ["-a", "hashdiff"], "hashdiff")
    if name == "joindiff_stats":
        return CliStats(pair, [], "joindiff")
    if name == "hashdiff_dense":
        return DenseDrain(pair, work_dir)
    raise ValueError(f"unknown workload {name!r}")


def _no_span(name):
    return contextlib.nullcontext()


class Runner:
    """Runs diffs of one workload and counts the ones that fail."""

    def __init__(self, spark, workload):
        self.spark, self.workload = spark, workload
        self.attempted = self.failed = 0

    def diff(self, spans=_no_span) -> float:
        """One diff, timed from segment construction to drained result;
        checked against the truth outside the timing."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            outcome = self.workload.run(self.spark, spans)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0
        elapsed = time.perf_counter() - t0
        if not self.workload.check(outcome):
            print(f"perfbench: wrong diff result: {str(outcome)[:300]}", file=sys.stderr)
            self.failed += 1
        return elapsed


def measure(spark, workload, seconds: float) -> dict:
    runner = Runner(spark, workload)
    peak = StoragePeak(spark)
    cold_s = runner.diff()
    samples, peaks = [], []
    deadline = time.perf_counter() + seconds
    while not samples or time.perf_counter() < deadline:
        settle(spark)
        peak.mb = 0.0
        samples.append(runner.diff())
        peaks.append(peak.mb)
    return {"cold_s": cold_s, "samples": samples, "peaks_mb": peaks,
            "attempted": runner.attempted, "failed": runner.failed}


def trace(spark, workload, seconds: float) -> dict:
    from perfbench.trace import Tracer, per_layer_metrics

    runner = Runner(spark, workload)
    StoragePeak(spark)  # same release-boundary hook as the untraced run
    tracer = Tracer(spark)
    with tracer.span("warmup"):
        runner.diff()
    untraced, traced, records = [], [], []
    deadline = time.perf_counter() + seconds
    while not traced or time.perf_counter() < deadline:
        # alternate which of the pair goes first, so JIT warm-up left
        # over from the warm-up diffs does not bias the overhead ratio
        for traced_turn in ((False, True) if len(traced) % 2 == 0 else (True, False)):
            settle(spark)
            if traced_turn:
                tracer.install()
                try:
                    traced.append(runner.diff(tracer.span))
                finally:
                    tracer.uninstall()
                records.append(tracer.harvest())
            else:
                with tracer.span("untraced"):
                    untraced.append(runner.diff())
                tracer.harvest()

    # paper-claim probes: TableSegment.count() and count_and_checksum()
    # on both sides, timed without segment construction
    probes = {}
    for name, call in (("table.count", lambda seg: seg.count()),
                       ("table.checksum", lambda seg: seg.count_and_checksum())):
        settle(spark)
        with tracer.span(name):
            segs = workload.segments(spark)
            t0 = time.perf_counter()
            for seg in segs:
                call(seg)
            probes[name] = time.perf_counter() - t0
    tracer.harvest()

    diff_s = statistics.median(untraced)
    count_s = probes["table.count"]
    extra = {
        "table.count_s": (count_s, "s"),
        "table.checksum_s": (probes["table.checksum"], "s"),
        "hashdiff.vs_count": (diff_s / count_s if workload.algorithm == "hashdiff" else 0.0, "ratio"),
        "joindiff.vs_count": (diff_s / count_s if workload.algorithm == "joindiff" else 0.0, "ratio"),
        "trace.overhead": (statistics.median(traced) / diff_s, "ratio"),
    }
    unattributed = tracer.unattributed_jobs()
    if unattributed:
        print(f"perfbench: jobs outside every span: {unattributed}", file=sys.stderr)
    return {"per_layer": per_layer_metrics(records, extra), "unattributed": len(unattributed),
            "traced_samples": traced, "untraced_samples": untraced,
            "attempted": runner.attempted, "failed": runner.failed}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--role", required=True, choices=["session", "measure", "trace"])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--size", default="full", choices=sorted(gen.SIZES))
    p.add_argument("--work-dir", required=True)
    args = p.parse_args(argv)

    spark = build_session(args.work_dir)
    try:
        emit("ready")
        if args.role == "session":
            return 0
        workload = make_workload(args.workload, args.seed, args.size, args.work_dir)
        if args.role == "measure":
            emit("result", measure(spark, workload, args.seconds))
        else:
            emit("result", trace(spark, workload, args.seconds))
        return 0
    finally:
        stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())
