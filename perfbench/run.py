"""Diff-path benchmark of data_diff_spark: the paper's own user path
(CLI `--stats` with hashdiff or joindiff, library `diff_tables` with every
diff row drained) on seeded generated table pairs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics (diff_s, setup_s, cache_peak_mb,
success_rate); --trace 1 runs a separate traced pass and prints the
per-layer metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

Inputs are generated from --seed into .perfbench/data (cached per seed);
each Spark process is started fresh by this script and stopped before it
exits. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

# fresh processes per run timed from spawn to a ready SparkSession; the
# last of them also runs the cold first diff and the measured window
SESSION_SAMPLES = 2
RUN_TIMEOUT_S = 170.0


class Worker:
    """One perfbench/worker.py process, killed if the run's deadline passes."""

    def __init__(self, role: str, args, work_dir: str, deadline: float):
        env = dict(os.environ, TMPDIR=os.path.join(work_dir, "tmp"))
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
               "--role", role, "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--size", args.size, "--work-dir", work_dir]
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
        self._timer = threading.Timer(max(deadline - self.started, 1.0), self.proc.kill)
        self._timer.start()

    def wait_for(self, kind: str):
        """(seconds since spawn, payload) of the next `@@perfbench <kind>` line."""
        prefix = f"@@perfbench {kind}"
        for line in self.proc.stdout:
            if line.startswith(prefix):
                elapsed = time.perf_counter() - self.started
                rest = line[len(prefix):].strip()
                return elapsed, (json.loads(rest) if rest else None)
        raise RuntimeError(f"worker exited before reporting {kind!r} (code {self.proc.wait()})")

    def finish(self) -> None:
        self.proc.stdout.read()
        code = self.proc.wait()
        self._timer.cancel()
        if code != 0:
            raise RuntimeError(f"worker exited with code {code}")


def end_to_end(args, work_dir: str, deadline: float):
    ready = []
    for _ in range(SESSION_SAMPLES - 1):
        w = Worker("session", args, work_dir, deadline)
        ready.append(w.wait_for("ready")[0])
        w.finish()
    w = Worker("measure", args, work_dir, deadline)
    ready.append(w.wait_for("ready")[0])
    res = w.wait_for("result")[1]
    w.finish()
    attempted, failed = res["attempted"], res["failed"]
    metrics = {
        "diff_s": {"value": statistics.median(res["samples"]), "unit": "s"},
        "setup_s": {"value": statistics.median(ready) + res["cold_s"], "unit": "s"},
        "cache_peak_mb": {"value": statistics.median(res["peaks_mb"]), "unit": "MB"},
        "success_rate": {"value": (attempted - failed) / attempted, "unit": "ratio"},
    }
    print(f"{args.workload}: diff_s median of {len(res['samples'])} warm diffs "
          f"{res['samples']}; setup = session {ready} + cold diff {res['cold_s']:.3f}s")
    return failed == 0, attempted, failed, metrics


def per_layer(args, work_dir: str, deadline: float):
    w = Worker("trace", args, work_dir, deadline)
    w.wait_for("ready")
    res = w.wait_for("result")[1]
    w.finish()
    print(f"{args.workload}: traced {res['traced_samples']} vs untraced "
          f"{res['untraced_samples']}; jobs outside spans: {res['unattributed']}")
    ok = res["failed"] == 0 and res["unattributed"] == 0
    return ok, res["attempted"], res["failed"], res["per_layer"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="diff-path benchmark of data_diff_spark")
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOAD_SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", default="full", choices=sorted(gen.SIZES),
                   help="input size; 'tiny' is for the benchmark's own smoke tests")
    args = p.parse_args(argv)
    deadline = time.perf_counter() + RUN_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "data_diff_spark")):
        print(f"perfbench: no data_diff_spark package under {ROOT}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    gen.ensure_pair(os.path.join(work_dir, "data"), seed=args.seed,
                    **gen.pair_args(args.workload, args.size))

    run = per_layer if args.trace else end_to_end
    ok, attempted, failed, metrics = run(args, work_dir, deadline)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
