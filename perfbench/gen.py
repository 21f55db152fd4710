"""Seeded input pairs for the diff benchmark, with their ground truth.

Two pair shapes, both written as parquet and never committed:

- ``orders``: one bigint key and int, decimal, date, short and long string
  columns. Side B deletes, updates and inserts a third each of
  ``change_rate`` of A's keys. The truth is the stats dict the diff must
  print, known from the construction.
- ``lineitem``: a two-column compound key of which a few percent of rows
  repeat. ``change_rate`` of the keys change (deleted, one row updated, or
  inserted). The truth is the emitted multiset, computed once with DuckDB
  over the generated files.

The same seed gives byte-identical files and the same truth.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_COLUMNS = (
    "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
    "o_orderstatus", "o_orderpriority", "o_comment",
)
ORDERS_KEYS = ("o_orderkey",)
LINEITEM_COLUMNS = (
    "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_shipdate", "l_comment",
)
LINEITEM_KEYS = ("l_orderkey", "l_linenumber")

# Pair sizes per benchmark size. The lineitem pair must keep more than
# hashdiff's _FINE_LEVEL_MIN_ROWS (2M) rows in dirty coarse buckets, i.e.
# above 1M rows per side, or the fine digest level does not run. The orders
# pair is sized so three fresh-JVM set-ups fit a run's time budget.
SIZES = {
    "full": {
        "orders": {"rows": 200_000, "change_rate": 0.001},
        "lineitem": {"rows": 1_050_000, "change_rate": 0.05, "dup_rate": 0.03},
    },
    "tiny": {
        "orders": {"rows": 3_000, "change_rate": 0.01},
        "lineitem": {"rows": 4_000, "change_rate": 0.05, "dup_rate": 0.03},
    },
}
WORKLOAD_SHAPES = {
    "hashdiff_sparse": "orders",
    "hashdiff_dense": "lineitem",
    "joindiff_stats": "orders",
}

_ROW_GROUP = 65_536  # several row groups per file, so Spark splits each scan
_WORDS = (
    "furiously", "carefully", "quickly", "final", "pending", "regular",
    "special", "ironic", "express", "bold", "silent", "even", "packages",
    "deposits", "requests", "accounts", "theodolites", "instructions",
    "foxes", "pinto", "beans", "asymptotes", "ideas", "dolphins", "sleep",
    "wake", "haggle", "nag", "use", "cajole", "boost", "detect",
)
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY0, _DAY1 = 8035, 10591  # 1992-01-01 .. 1998-12-31 as days since epoch


@dataclass(frozen=True)
class Pair:
    """Paths of a generated pair and its ground truth."""

    a: str
    b: str
    truth: dict
    expected: str | None = None  # lineitem: parquet of the emitted multiset


def _decimal(unscaled: np.ndarray, precision: int, scale: int) -> pa.Array:
    """decimal128 array from non-negative int64 unscaled values, without a
    per-value Python object (little-endian 128-bit: low word, zero high)."""
    words = np.zeros((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(unscaled), [None, pa.py_buffer(words.tobytes())]
    )


def _comment_pool(rng: np.random.Generator, size: int, lo: int, hi: int) -> np.ndarray:
    """`size` distinct comments of `lo`..`hi` words ('|' never appears, so
    the engine's '|'-joined row fingerprint stays unambiguous)."""
    pool: dict = {}
    while len(pool) < size:
        n = int(rng.integers(lo, hi + 1))
        words = rng.integers(0, len(_WORDS), n)
        pool[" ".join(_WORDS[w] for w in words) + "."] = None
    return np.array(list(pool), dtype=object)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=_ROW_GROUP, compression="snappy")


def orders_tables(seed: int, rows: int, change_rate: float):
    """(A, B, truth) for the orders shape."""
    rng = np.random.default_rng([seed, 1])
    n_change = max(3, round(rows * change_rate))
    n_del = n_upd = n_change // 3
    n_ins = n_change - n_del - n_upd
    pool = _comment_pool(rng, 4096, 4, 12)

    def columns(keys: np.ndarray) -> dict:
        m = len(keys)
        return {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, 150_000, m, dtype=np.int32),
            "o_totalprice": rng.integers(90_000, 50_000_000, m, dtype=np.int64),
            "o_orderdate": rng.integers(_DAY0, _DAY1, m, dtype=np.int32),
            "o_orderstatus": rng.integers(0, len(_STATUS), m),
            "o_orderpriority": rng.integers(0, len(_PRIORITY), m),
            "o_comment": rng.integers(0, len(pool), m),
        }

    a = columns(np.arange(rows, dtype=np.int64) * 3 + 1)
    changed = rng.choice(rows, n_del + n_upd, replace=False)
    deleted, updated = changed[:n_del], changed[n_del:]
    b = {c: v.copy() for c, v in a.items()}
    # each updated row changes one non-key column, so every normalizer is hit
    which = rng.integers(0, 6, n_upd)
    for col_i, col in enumerate(ORDERS_COLUMNS[1:]):
        rows_i = updated[which == col_i]
        if col in ("o_orderstatus", "o_orderpriority", "o_comment"):
            size = {"o_orderstatus": len(_STATUS), "o_orderpriority": len(_PRIORITY),
                    "o_comment": len(pool)}[col]
            b[col][rows_i] = (b[col][rows_i] + 1) % size
        else:
            b[col][rows_i] += 1
    keep = np.ones(rows, dtype=bool)
    keep[deleted] = False
    b = {c: v[keep] for c, v in b.items()}
    # inserted keys fall in the gaps of A's key sequence (3j+1)
    ins = columns(np.sort(rng.choice(rows, n_ins, replace=False)).astype(np.int64) * 3 + 2)
    b = {c: np.concatenate([b[c], ins[c]]) for c in b}
    order = np.argsort(b["o_orderkey"], kind="stable")
    b = {c: v[order] for c, v in b.items()}

    def table(cols: dict) -> pa.Table:
        return pa.table({
            "o_orderkey": pa.array(cols["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(cols["o_custkey"], pa.int32()),
            "o_totalprice": _decimal(cols["o_totalprice"], 12, 2),
            "o_orderdate": pa.array(cols["o_orderdate"], pa.int32()).cast(pa.date32()),
            "o_orderstatus": pa.array(np.array(_STATUS, dtype=object)[cols["o_orderstatus"]], pa.string()),
            "o_orderpriority": pa.array(np.array(_PRIORITY, dtype=object)[cols["o_orderpriority"]], pa.string()),
            "o_comment": pa.array(pool[cols["o_comment"]], pa.string()),
        })

    truth = {
        "rows_A": rows,
        "rows_B": rows - n_del + n_ins,
        "exclusive_A": n_del,
        "exclusive_B": n_ins,
        "updated": n_upd,
        "unchanged": rows - n_del - n_upd,
        "total": n_del + n_ins + 2 * n_upd,
    }
    return table(a), table(b), truth


def lineitem_tables(seed: int, rows: int, change_rate: float, dup_rate: float):
    """(A, B) for the lineitem shape: `rows` rows per side, of which
    `dup_rate` repeat an existing (l_orderkey, l_linenumber)."""
    rng = np.random.default_rng([seed, 2])
    n_dup = round(rows * dup_rate)
    n_keys = rows - n_dup
    pool = _comment_pool(rng, 2048, 2, 5)

    def columns(okey: np.ndarray, line: np.ndarray) -> dict:
        m = len(okey)
        return {
            "l_orderkey": okey,
            "l_linenumber": line,
            "l_quantity": rng.integers(1, 51, m, dtype=np.int32),
            "l_extendedprice": rng.integers(90_000, 10_500_000, m, dtype=np.int64),
            "l_shipdate": rng.integers(_DAY0, _DAY1, m, dtype=np.int32),
            "l_comment": rng.integers(0, len(pool), m),
        }

    j = np.arange(n_keys, dtype=np.int64)
    okey, line = j // 4 * 4 + 1, (j % 4 + 1).astype(np.int32)
    dup_of = rng.integers(0, n_keys, n_dup)
    a = columns(np.concatenate([okey, okey[dup_of]]), np.concatenate([line, line[dup_of]]))

    n_change = round(n_keys * change_rate)
    n_del = n_upd = n_change // 3
    n_ins = n_change - n_del - n_upd
    changed = rng.choice(n_keys, n_del + n_upd, replace=False)
    deleted, updated = changed[:n_del], changed[n_del:]
    # a deleted key loses all its rows; an updated key changes its first row
    keep = ~np.isin(np.concatenate([j, dup_of]), deleted)
    b = {c: v.copy() for c, v in a.items()}
    which = rng.integers(0, 4, n_upd)
    for col_i, col in enumerate(("l_quantity", "l_extendedprice", "l_shipdate", "l_comment")):
        rows_i = updated[which == col_i]
        b[col][rows_i] = (b[col][rows_i] + 1) % len(pool) if col == "l_comment" else b[col][rows_i] + 1
    b = {c: v[keep] for c, v in b.items()}
    # inserted keys take line numbers 5..7 of existing orders: new, distinct
    slot = rng.choice(n_keys // 4 * 3, n_ins, replace=False)
    ins = columns(slot // 3 * 4 + 1, (slot % 3 + 5).astype(np.int32))
    b = {c: np.concatenate([b[c], ins[c]]) for c in b}

    def table(cols: dict) -> pa.Table:
        order = np.lexsort((cols["l_linenumber"], cols["l_orderkey"]))
        return pa.table({
            "l_orderkey": pa.array(cols["l_orderkey"][order], pa.int64()),
            "l_linenumber": pa.array(cols["l_linenumber"][order], pa.int32()),
            "l_quantity": pa.array(cols["l_quantity"][order], pa.int32()),
            "l_extendedprice": _decimal(cols["l_extendedprice"][order], 12, 2),
            "l_shipdate": pa.array(cols["l_shipdate"][order], pa.int32()).cast(pa.date32()),
            "l_comment": pa.array(pool[cols["l_comment"][order]], pa.string()),
        })

    return table(a), table(b)


def expected_multiset(a: str, b: str, keys) -> str:
    """DuckDB SQL of the rows hashdiff must emit: every row, on both sides,
    of each key whose row multiset differs between A and B."""
    k = ", ".join(keys)
    on = " and ".join(f"t.{c} is not distinct from bad.{c}" for c in keys)
    return f"""
with a as (select * from read_parquet('{a}')),
     b as (select * from read_parquet('{b}')),
     bad as (select distinct {k} from (
         (select * from a except all select * from b)
         union all
         (select * from b except all select * from a)))
select '-' as sign, t.* from a t semi join bad on {on}
union all
select '+' as sign, t.* from b t semi join bad on {on}
"""


def pair_args(workload: str, size: str) -> dict:
    """ensure_pair keyword arguments (shape and size) of a workload."""
    shape = WORKLOAD_SHAPES[workload]
    return {"shape": shape, **SIZES[size][shape]}


def ensure_pair(root: str, shape: str, seed: int, rows: int, change_rate: float,
                dup_rate: float = 0.0) -> Pair:
    """Generate (once per seed and size) and return the pair under `root`."""
    tag = f"{shape}-r{rows}-c{change_rate}-d{dup_rate}-s{seed}"
    out = os.path.join(root, tag)
    truth_path = os.path.join(out, "truth.json")
    if not os.path.exists(truth_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        a_path, b_path = os.path.join(tmp, "a.parquet"), os.path.join(tmp, "b.parquet")
        if shape == "orders":
            ta, tb, truth = orders_tables(seed, rows, change_rate)
            _write(ta, a_path)
            _write(tb, b_path)
        elif shape == "lineitem":
            ta, tb = lineitem_tables(seed, rows, change_rate, dup_rate)
            _write(ta, a_path)
            _write(tb, b_path)
            truth = _lineitem_truth(tmp, a_path, b_path)
        else:
            raise ValueError(f"unknown pair shape {shape!r}")
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(truth_path) as f:
        truth = json.load(f)
    expected = os.path.join(out, "expected.parquet") if shape == "lineitem" else None
    return Pair(os.path.join(out, "a.parquet"), os.path.join(out, "b.parquet"), truth, expected)


def _lineitem_truth(out: str, a: str, b: str) -> dict:
    import duckdb

    spill = os.path.join(out, "duckdb-tmp")
    con = duckdb.connect(config={"temp_directory": spill})
    try:
        con.execute("set enable_progress_bar = false")
        expected = os.path.join(out, "expected.parquet")
        con.execute(f"copy ({expected_multiset(a, b, LINEITEM_KEYS)}) "
                    f"to '{expected}' (format parquet)")
        signs = dict(con.execute(
            f"select sign, count(*) from read_parquet('{expected}') group by sign").fetchall())
        keys = ", ".join(LINEITEM_KEYS)
        n_keys = con.execute(
            f"select count(*) from (select distinct {keys} from read_parquet('{expected}'))"
        ).fetchone()[0]
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)
    return {"-": signs.get("-", 0), "+": signs.get("+", 0), "keys": n_keys}
