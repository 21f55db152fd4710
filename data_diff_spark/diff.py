"""Public diff API — algorithm dispatch + result statistics.

Mirrors /root/reference/data_diff/__init__.py:43-180 (diff_tables dispatch)
and diff_tables.py:86-186 (DiffResultWrapper stats).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_diff_spark.operators import hashdiff, joindiff
from data_diff_spark.table import TableSegment
from data_diff_spark.unify import unify_precisions


class Algorithm(enum.Enum):
    AUTO = "auto"
    JOINDIFF = "joindiff"
    HASHDIFF = "hashdiff"


@dataclass
class DiffResult:
    """Lazy diff + statistics (reference DiffResultWrapper,
    diff_tables.py:86-186). The DataFrame is the product; the stats are
    formatted from counts its diff operator already holds."""

    df: DataFrame
    table1: TableSegment

    def unpersist(self) -> None:
        """Release the caches the diff operator pinned for its own
        multi-read plan (hashdiff persists both sides' key/checksum frames
        and the differing-key set; the stats pin none). Call after the diff
        DataFrame has been fully consumed; safe to call more than once."""
        for cached in getattr(self.df, "_ddspark_persisted", []):
            cached.unpersist()

    def get_stats_dict(self) -> Dict[str, int]:
        """The reference's stats dict (diff_tables.py:99-136): updates are
        key-matched -/+ pairs, exclusives the remainder, so rows_A ==
        exclusive_A + updated + unchanged. Formatted from the diff
        operator's `_ddspark_stats` (rows_A, rows_B, '-' rows, '+' rows,
        updated), one aggregate over what the operator already built: no
        persist, no source count. ValueError if the DataFrame has none.

        joindiff assumes unique keys (validate_unique_key=True enforces
        it): with duplicate keys the stats count the A x B pairs the join
        emits, and NULL keys under null_safe_keys=False count as
        exclusives. hashdiff counts source rows; a differing key with a
        rows in A and b in B counts min(a, b) updates."""
        stats = getattr(self.df, "_ddspark_stats", None)
        if stats is None:
            raise ValueError("no diff stats: not a DataFrame a diff operator returned")
        rows_a, rows_b, minus, plus, updated = stats()
        return {
            "rows_A": rows_a,
            "rows_B": rows_b,
            "exclusive_A": minus - updated,
            "exclusive_B": plus - updated,
            "updated": updated,
            "unchanged": rows_a - minus,
            "total": minus + plus,
        }


def shared_columns(cols_a: Sequence[str], cols_b: Sequence[str],
                   keys: Sequence[str]) -> List[str]:
    """The non-key columns both sides have, in side A's order: the two
    schemas intersected by name (reference _get_expanded_columns), never
    paired by position."""
    b, skip = set(cols_b), set(keys)
    return [c for c in cols_a if c in b and c not in skip]


def diff_schemas(df1: DataFrame, df2: DataFrame) -> list:
    """Structural schema comparison (reference diff_schemas,
    __main__.py:78-100): [(column, type_a, type_b, status)] with status in
    'common' | 'only_a' | 'only_b' | 'type_changed'. The CLI warns on
    anything not 'common' before diffing."""
    a = {f.name: f.dataType.simpleString() for f in df1.schema.fields}
    b = {f.name: f.dataType.simpleString() for f in df2.schema.fields}
    out = []
    for name in list(a) + [n for n in b if n not in a]:
        ta, tb = a.get(name), b.get(name)
        if ta is None:
            status = "only_b"
        elif tb is None:
            status = "only_a"
        elif ta != tb:
            status = "type_changed"
        else:
            status = "common"
        out.append((name, ta, tb, status))
    return out


def diff_tables(
    table1: TableSegment,
    table2: TableSegment,
    *,
    algorithm: Algorithm | str = Algorithm.AUTO,
    n_buckets: Optional[int] = None,
    validate_unique_key: bool = False,
    skip_null_keys: bool = False,
    null_safe_keys: bool = True,
) -> DiffResult:
    """Diff two table segments; returns DiffResult wrapping the diff DataFrame.

    AUTO resolves to joindiff: inside one Spark engine the join is always
    available and AQE-optimized (the reference picks joindiff only when both
    sides share a database, __init__.py:152-155 — here they always do).
    joindiff and hashdiff compare each column pair in one form
    (normalize.compared_forms: raw, bigint across integer widths, else the
    canonical string), so they give the same rows on unique keys. hashdiff
    of two Spark segments hashes that form, so its checksums are not the
    reference's; the reference
    checksum, verifiable against a reference-dialect database, comes from
    operators.remote.hash_diff_remote (the second side in that database)
    and TableSegment.count_and_checksum.

    n_buckets=None (the default) lets hashdiff auto-size its two-level
    digest scheme (coarse prune + fine isolate — measured 80s→36s at 6M
    rows / 2% changed); an explicit int forces a single fixed level.

    null_safe_keys=False joins with `=` instead of `<=>` so that two
    tables bucketed on the key diff with ZERO shuffle (see
    joindiff.joined_frame and sources.connect.write_bucketed); combine
    with skip_null_keys or a prior check_null_keys since null PKs then
    never match.
    """
    algorithm = Algorithm(algorithm) if isinstance(algorithm, str) else algorithm
    # Reduce both sides to minimum mutual precision before any comparison
    # (reference _validate_and_adjust_columns, hashdiff_tables.py:118-167)
    table1, table2 = unify_precisions(table1, table2)
    # drop the NULL keys before validating: they are not part of the diff
    if skip_null_keys:
        table1 = table1.with_(df=joindiff.check_null_keys(table1, skip=True))
        table2 = table2.with_(df=joindiff.check_null_keys(table2, skip=True))
    if validate_unique_key:
        joindiff.check_duplicate_keys(table1, "A")
        joindiff.check_duplicate_keys(table2, "B")

    if algorithm in (Algorithm.AUTO, Algorithm.JOINDIFF):
        df = joindiff.join_diff(table1, table2, null_safe_keys=null_safe_keys)
    else:
        df = hashdiff.hash_diff(table1, table2, n_buckets=n_buckets)
    return DiffResult(df=df, table1=table1)


def apply_diff(base: DataFrame, diff: DataFrame, keys) -> DataFrame:
    """Patch `base` with a diff produced by diff_tables: remove every key
    carrying a '-' row (deleted, or the old version of an update), then
    append the '+' rows (inserted, or the new version). Closure property —
    apply_diff(A, diff(A, B)) equals B as a multiset — is oracle-checked
    by the apply_diff_roundtrip workload query.

    Scale shape: one left_anti join on the keys (the '-' key set is
    small when diffs are small — broadcast-eligible, AQE decides) plus a
    union; no wide shuffle of `base` beyond the anti-join."""
    keys = list(keys)
    sign = F.col(joindiff.SIGN_COL)
    minus = diff.filter(sign == "-").select(*keys)
    plus = diff.filter(sign == "+").drop(joindiff.SIGN_COL).select(*base.columns)
    # a USING-style join moves the key columns first even for left_anti;
    # restore base's column order so chained applies (versioned tables)
    # keep a stable layout
    kept = base.join(minus, on=keys, how="left_anti").select(*base.columns)
    return kept.unionByName(plus)
