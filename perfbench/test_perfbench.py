"""The benchmark's own tests: generator determinism, the truth checks, and a
tiny-size smoke run of every workload in both modes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from perfbench import gen, worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = gen.SIZES["tiny"]


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize("shape", ["orders", "lineitem"])
def test_generator_is_deterministic_per_seed(tmp_path, shape):
    one = gen.ensure_pair(str(tmp_path / "one"), shape, seed=7, **TINY[shape])
    two = gen.ensure_pair(str(tmp_path / "two"), shape, seed=7, **TINY[shape])
    other = gen.ensure_pair(str(tmp_path / "one"), shape, seed=8, **TINY[shape])
    assert _bytes(one.a) == _bytes(two.a) and _bytes(one.b) == _bytes(two.b)
    assert one.truth == two.truth
    assert _bytes(one.b) != _bytes(other.b)


def test_orders_truth_matches_the_files(tmp_path):
    """The stats truth known from the construction agrees with a key-level
    comparison of the written files."""
    pair = gen.ensure_pair(str(tmp_path), "orders", seed=3, **TINY["orders"])
    con = duckdb.connect()
    a, b = f"read_parquet('{pair.a}')", f"read_parquet('{pair.b}')"
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    deleted = q(f"select count(*) from {a} where o_orderkey not in (select o_orderkey from {b})")
    inserted = q(f"select count(*) from {b} where o_orderkey not in (select o_orderkey from {a})")
    updated = q(f"select count(*) from (select * from {a} except select * from {b}) "
                f"where o_orderkey in (select o_orderkey from {b})")
    t = pair.truth
    assert (t["exclusive_A"], t["exclusive_B"], t["updated"]) == (deleted, inserted, updated)
    assert t["rows_A"] == q(f"select count(*) from {a}") and t["rows_B"] == q(f"select count(*) from {b}")
    assert min(deleted, inserted, updated) > 0


def test_lineitem_has_duplicate_keys_and_changes(tmp_path):
    pair = gen.ensure_pair(str(tmp_path), "lineitem", seed=3, **TINY["lineitem"])
    con = duckdb.connect()
    dups = con.execute(
        f"select count(*) from (select l_orderkey, l_linenumber from read_parquet('{pair.a}') "
        f"group by all having count(*) > 1)").fetchone()[0]
    assert dups > 0
    assert pair.truth["-"] > 0 and pair.truth["+"] > 0


def test_truth_check_flags_a_dropped_or_altered_row(tmp_path):
    pair = gen.ensure_pair(str(tmp_path), "lineitem", seed=5, **TINY["lineitem"])
    work = str(tmp_path)
    expected = duckdb.connect().execute(
        f"select * from read_parquet('{pair.expected}')").fetch_arrow_table()
    assert worker.drained_matches(expected, pair, work)

    assert not worker.drained_matches(expected.slice(1), pair, work)
    qty = expected.column("l_quantity")
    altered = pc.if_else(pa.array([i == 0 for i in range(len(expected))]),
                         pc.add(qty, 1), qty)
    changed = expected.set_column(expected.schema.get_field_index("l_quantity"),
                                  "l_quantity", altered)
    assert not worker.drained_matches(changed, pair, work)


def test_stats_check_flags_a_wrong_count(tmp_path):
    pair = gen.ensure_pair(str(tmp_path), "orders", seed=5, **TINY["orders"])
    workload = worker.CliStats(pair, [], "joindiff")
    printed = "".join(f"{k}: {v}\n" for k, v in pair.truth.items())
    assert workload.check((0, printed))
    assert not workload.check((1, printed))
    wrong = printed.replace(f"updated: {pair.truth['updated']}",
                            f"updated: {pair.truth['updated'] - 1}")
    assert not workload.check((0, wrong))


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(gen.WORKLOAD_SHAPES))
def test_tiny_smoke_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in ("run.py", "gen.py", "worker.py", "trace.py", "__init__.py"):
        (bench / name).write_bytes(_bytes(os.path.join(ROOT, "perfbench", name)))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "joindiff_stats", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
