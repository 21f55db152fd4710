"""Spans around the diff engine's public entry points, read back from
Spark's status store.

The tracer wraps each layer's entry point from outside (module attributes
are swapped while tracing is on, so the program itself is unchanged) and
opens a span around every call. A span sets its id as the Spark job group,
so each job belongs to the innermost span open when it started; a job
started outside every span has no group and shows as unattributed. When a
traced diff ends, its spans are folded with the status store's per-job and
per-stage data (which Spark keeps with the UI disabled) into per-span
numbers. Everything stays in memory until the run ends.

Counters of a span (jobs, tasks, busy, GC, shuffle, input, spill) include
its child spans; ``self_s`` is the span's wall time minus its children's.
"""

from __future__ import annotations

import importlib
import inspect
import statistics
import sys
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

SPANS = (
    "cli", "connect", "refine", "unify", "joindiff.dupcheck", "joindiff",
    "hashdiff", "stats", "drain", "release",
)
SPAN_METRICS = (
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("busy_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("input_mb", "MB"),
    ("spill_mb", "MB"), ("task_skew", "ratio"),
)
# span name -> (module, attribute path) of the entry point it wraps; `cli`
# and `drain` are calls the benchmark makes itself and opens directly
_ENTRY_POINTS = {
    "connect": ("data_diff_spark.sources.connect", "connect_to_table"),
    "refine": ("data_diff_spark.refine", "refined"),
    "unify": ("data_diff_spark.diff", "unify_precisions"),
    "joindiff.dupcheck": ("data_diff_spark.operators.joindiff", "check_duplicate_keys"),
    "joindiff": ("data_diff_spark.operators.joindiff", "join_diff"),
    "hashdiff": ("data_diff_spark.operators.hashdiff", "hash_diff"),
    "stats": ("data_diff_spark.diff", "DiffResult.get_stats_dict"),
    "release": ("data_diff_spark.diff", "DiffResult.unpersist"),
}
_MB = 1024.0 * 1024.0


def hashdiff_call_sites() -> Dict[str, str]:
    """{split: call-site suffix} of the hash_diff jobs split by call site.

    Lines are found in the module's source, so edits elsewhere in the file
    do not break the split:
      coarse        the `_paired_digest` collect (both sides' coarse digests)
      fine_count    `ids_df.count()`: the fine digests, id set kept in the JVM
      fine_collect  `ids_df.collect()`: the small-id-set branch
      keyset        `bad_cached.count()`: the differing-key set
    """
    from data_diff_spark.operators import hashdiff as hd

    def line_of(fn, needle: str) -> Optional[int]:
        lines, start = inspect.getsourcelines(fn)
        for i, text in enumerate(lines):
            if needle in text:
                return start + i
        return None

    found = {
        "coarse": line_of(hd._paired_digest, ".collect()"),
        "fine_count": line_of(hd.hash_diff, "ids_df.count()"),
        "fine_collect": line_of(hd.hash_diff, "ids_df.collect()"),
        "keyset": line_of(hd.hash_diff, "bad_cached.count()"),
    }
    return {k: f"{hd.__file__}:{line}" for k, line in found.items() if line is not None}


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, attr


def _count_with_call_site(orig):
    """DataFrame.count records no Python call site (collect does, through
    SCCallSiteSync), so its jobs would all read `... at
    CompletableFuture.java`. Record the caller's file:line the same way."""

    def count(self):
        caller = sys._getframe(1)
        jsc = self.sparkSession.sparkContext._jsc
        jsc.setCallSite(f"count at {caller.f_code.co_filename}:{caller.f_lineno}")
        try:
            return orig(self)
        finally:
            jsc.setCallSite(None)

    return count


class Tracer:
    """Spans + status-store readout for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sites = hashdiff_call_sites()
        self._stack: List[dict] = []
        self._closed: List[dict] = []
        self._next_id = 0
        self._saved: list = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "id": f"perfbench-{self._next_id}", "children": [],
               "counts": {}, "start": time.perf_counter()}
        self._next_id += 1
        if self._stack:
            self._stack[-1]["children"].append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self._closed.append(rec)

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Swap every entry point in _ENTRY_POINTS for a span-opening wrapper."""
        from pyspark.sql.classic.dataframe import DataFrame

        for name, (module, path) in _ENTRY_POINTS.items():
            owner, attr = _resolve(module, path)
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))
        self._saved.append((DataFrame, "count", DataFrame.__dict__["count"]))
        DataFrame.count = _count_with_call_site(DataFrame.__dict__["count"])

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- status-store readout ------------------------------------------------

    def unattributed_jobs(self) -> List[int]:
        """Ids of every job of the session that ran outside all spans."""
        return sorted(self.sc.statusTracker().getJobIdsForGroup(None))

    def _job(self, job_id: int) -> dict:
        j = self.store.job(job_id)
        sub, end = j.submissionTime(), j.completionTime()
        seq = j.stageIds()
        return {"name": j.name(),
                "interval": (sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0)
                if sub.isDefined() and end.isDefined() else None,
                "stages": [seq.apply(i) for i in range(seq.size())]}

    def _stage(self, stage_id: int) -> Optional[dict]:
        s = self.store.lastStageAttempt(stage_id)
        if s.status().toString() == "SKIPPED":
            return None
        return {
            "id": stage_id, "attempt": s.attemptId(), "tasks": s.numCompleteTasks(),
            "busy_s": s.executorRunTime() / 1000.0, "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_mb": s.shuffleWriteBytes() / _MB, "input_mb": s.inputBytes() / _MB,
            "input_records": s.inputRecords(), "spill_mb": s.diskBytesSpilled() / _MB,
        }

    def _skew(self, stage: dict) -> float:
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(stage["id"], stage["attempt"], q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else 1.0

    def harvest(self) -> dict:
        """Fold the spans closed since the last harvest into one record:
        {span name: metrics} plus the hashdiff call-site split. Call after
        a traced diff, outside its timing."""
        closed, self._closed = self._closed, []
        tracker = self.sc.statusTracker()
        owner = {job_id: rec["id"] for rec in closed
                 for job_id in tracker.getJobIdsForGroup(rec["id"])}
        own = {rec["id"]: {"jobs": 0, "stages": []} for rec in closed}
        sites = {k: {"intervals": [], "jobs": 0}
                 for k in ("coarse", "fine_count", "fine_collect", "keyset")}
        seen_stages: set = set()
        # in submission order, so a stage a later job lists as skipped
        # stays with the job that ran it
        for job_id in sorted(owner):
            job = self._job(job_id)
            tot = own[owner[job_id]]
            tot["jobs"] += 1
            for split, site in self.sites.items():
                if job["name"].endswith(site):
                    if job["interval"]:
                        sites[split]["intervals"].append(job["interval"])
                    sites[split]["jobs"] += 1
            for sid in job["stages"]:
                if sid not in seen_stages:
                    seen_stages.add(sid)
                    stage = self._stage(sid)
                    if stage is not None:
                        tot["stages"].append(stage)

        def inclusive(rec) -> dict:
            jobs, stages = own[rec["id"]]["jobs"], list(own[rec["id"]]["stages"])
            for child in rec["children"]:
                sub = inclusive(child)
                jobs += sub["jobs"]
                stages += sub["stages"]
            return {"jobs": jobs, "stages": stages}

        per_span: Dict[str, dict] = {}
        for rec in closed:
            if rec["name"] not in SPANS:
                continue
            inc = inclusive(rec)
            wall = rec["end"] - rec["start"]
            children = sum(c["end"] - c["start"] for c in rec["children"])
            stages = inc["stages"]
            m = per_span.setdefault(rec["name"], {k: 0.0 for k, _ in SPAN_METRICS})
            m.setdefault("input_records", 0)
            m.setdefault("rows_out", 0)
            m["wall_s"] += wall
            m["self_s"] += wall - children
            m["jobs"] += inc["jobs"]
            for key in ("tasks", "busy_s", "gc_s", "shuffle_mb", "input_mb", "spill_mb", "input_records"):
                m[key] += sum(s[key] for s in stages)
            m["rows_out"] += rec["counts"].get("rows_out", 0)
            if stages:
                busiest = max(stages, key=lambda s: s["busy_s"])
                m["task_skew"] = max(m["task_skew"], self._skew(busiest))
        return {"spans": per_span,
                "sites": {k: _covered(v["intervals"]) for k, v in sites.items()},
                "site_jobs": {k: v["jobs"] for k, v in sites.items()}}


def _covered(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals: AQE runs one
    action's shuffle stages as several, partly concurrent jobs."""
    total, reach = 0.0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total


def per_layer_metrics(records: List[dict], extra: Dict[str, float]) -> Dict[str, dict]:
    """Median over traced diffs of every per-span metric, the hashdiff
    call-site split and the drain's useful ratio, plus `extra` (probes and
    overhead), in the benchmark's output form."""
    def med(values) -> float:
        return float(statistics.median(values)) if values else 0.0

    out: Dict[str, dict] = {}
    for span in SPANS:
        for key, unit in SPAN_METRICS:
            vals = [r["spans"][span][key] for r in records if span in r["spans"]]
            out[f"{span}.{key}"] = {"value": med(vals), "unit": unit}
    for split, name in (("coarse", "coarse_s"), ("fine_count", "fine_s"), ("keyset", "keyset_s")):
        vals = [r["sites"][split] + (r["sites"]["fine_collect"] if split == "fine_count" else 0.0)
                for r in records]
        out[f"hashdiff.{name}"] = {"value": med(vals), "unit": "s"}
    for split in ("fine_count", "fine_collect"):
        out[f"hashdiff.{split}_jobs"] = {"value": med([r["site_jobs"][split] for r in records]),
                                         "unit": "count"}
    ratios = [r["spans"]["drain"]["rows_out"] / r["spans"]["drain"]["input_records"]
              for r in records
              if "drain" in r["spans"] and r["spans"]["drain"]["input_records"]]
    out["drain.useful_ratio"] = {"value": med(ratios), "unit": "ratio"}
    for name, (value, unit) in extra.items():
        out[name] = {"value": float(value), "unit": unit}
    return out
