"""joindiff — row-level diff of two tables via one FULL OUTER JOIN.

Spark re-expression of /root/reference/data_diff/joindiff_tables.py:113-334.
The reference shards the join by key range and pushes SQL per shard; in Spark
the entire operator is ONE declarative full-outer join — AQE picks broadcast
vs sort-merge and handles skew, so the reference's per-database segmentation
special-cases (joindiff_tables.py:159-163) disappear.

Output contract (matches the reference's DiffResult iterator semantics,
diff_tables.py:201-213): one row per differing side —
  sign '-'  row as it appears only/differently in table A
  sign '+'  row as it appears only/differently in table B
An updated row (same PK, changed values) yields both a '-' and a '+' row.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_diff_spark.normalize import compared_forms
from data_diff_spark.table import TableSegment

_A = "__a_"
_B = "__b_"
_PRESENT_A = "__a_present__"
_PRESENT_B = "__b_present__"
SIGN_COL = "sign"


def _check_consistent(t1: TableSegment, t2: TableSegment) -> Tuple[List[str], List[str]]:
    """Columns are matched by POSITION (the reference supports differing
    column names between sides, test_diff_tables.py:306-348); arity must
    match."""
    cols1, cols2 = list(t1.relevant_columns), list(t2.relevant_columns)
    if len(cols1) != len(cols2):
        raise ValueError(f"column count mismatch: {cols1} vs {cols2}")
    if len(t1.key_columns) != len(t2.key_columns):
        raise ValueError("key column count mismatch")
    return cols1, cols2


def joined_frame(
    t1: TableSegment, t2: TableSegment, null_safe_keys: bool = True
) -> Tuple[DataFrame, List[str], List[str]]:
    """The annotated full-outer join (reference _outerjoin,
    joindiff_tables.py:74-95): per-column __diff_<col> flags plus
    is_exclusive_a / is_exclusive_b presence flags.

    null_safe_keys=False joins with plain `=` instead of `<=>`. Spark
    rewrites a null-safe join key to (coalesce(k, default), isnull(k))
    pairs, whose hash partitioning can never match a bucketed table's
    HashPartitioning(k) — so `<=>` forces a full shuffle of both sides
    even when both are bucketed on the key (measured: 2 exchanges vs 0).
    With plain `=`, diffing two tables bucketed on the key is a
    ZERO-SHUFFLE sort-merge join — the 100 TB repeated-diff path. Safe
    whenever keys are non-null (the reference raises on null PKs by
    default; run check_null_keys first). Null-keyed rows, if any survive,
    surface as exclusive rows on both sides instead of matching."""
    cols1, cols2 = _check_consistent(t1, t2)
    a = t1.make_select().select(
        F.lit(True).alias(_PRESENT_A), *[F.col(c).alias(_A + c) for c in cols1]
    )
    b = t2.make_select().select(
        F.lit(True).alias(_PRESENT_B), *[F.col(c).alias(_B + c) for c in cols2]
    )

    # each pair in its compared form (normalize.compared_forms), built over
    # the joined columns: a canonical form is part of the join condition or
    # flag, never a projected column carried through the shuffle
    forms = compared_forms(t1, t2, cols1, cols2, lambda c: F.col(_A + c), lambda c: F.col(_B + c))
    nkeys = len(t1.key_columns)
    on = None
    for _, ca, cb in forms[:nkeys]:
        cond = ca.eqNullSafe(cb) if null_safe_keys else (ca == cb)
        on = cond if on is None else on & cond
    j = a.join(b, on=on, how="full_outer")

    is_excl_a = F.col(_PRESENT_B).isNull()
    is_excl_b = F.col(_PRESENT_A).isNull()

    # IS DISTINCT FROM per column across the outer join — exclusive rows
    # count as different in every column, exactly like the reference's
    # is_diff_* flags (joindiff_tables.py:326).
    flags = [(~ca.eqNullSafe(cb)).alias(f"__diff_{c1}")
             for c1, (_, ca, cb) in zip(cols1[nkeys:], forms[nkeys:])]

    j = j.select(
        "*",
        is_excl_a.alias("is_exclusive_a"),
        is_excl_b.alias("is_exclusive_b"),
        *flags,
    )
    return j, cols1, cols2


def join_diff(
    t1: TableSegment, t2: TableSegment, null_safe_keys: bool = True
) -> DataFrame:
    """The diff DataFrame: (sign, *columns-of-table-1's-names).

    Single join, single pass: each joined row explodes into 0, 1 or 2 output
    rows (array_compact drops the non-applicable side), so the join is never
    recomputed for a union of branches. See joined_frame for null_safe_keys
    (the bucketed zero-shuffle path).
    """
    j, cols1, cols2 = joined_frame(t1, t2, null_safe_keys=null_safe_keys)
    nkeys = len(t1.key_columns)
    diff_cols = [f"__diff_{c}" for c in cols1[nkeys:]]

    xa, xb = F.col("is_exclusive_a"), F.col("is_exclusive_b")
    any_diff = F.lit(False)
    for d in diff_cols:
        any_diff = any_diff | F.coalesce(F.col(d), F.lit(False))
    row_differs = xa | xb | any_diff

    minus = F.when(
        F.col(_PRESENT_A).isNotNull() & row_differs,
        F.struct(
            F.lit("-").alias(SIGN_COL),
            *[F.col(_A + c1).alias(c1) for c1 in cols1],
        ),
    )
    plus = F.when(
        F.col(_PRESENT_B).isNotNull() & row_differs,
        F.struct(
            F.lit("+").alias(SIGN_COL),
            *[F.col(_B + c2).alias(c1) for c1, c2 in zip(cols1, cols2)],
        ),
    )

    # DiffResult.get_stats_dict's counts: a joined row is exclusive to one
    # side or a key-matched pair, so a side's rows are n - the other's exclusives
    def stats():
        n, ea, eb, upd = j.agg(F.count(F.lit(1)), F.count_if(xa), F.count_if(xb),
                               F.count_if(~xa & ~xb & any_diff)).collect()[0]
        return n - eb, n - ea, ea + upd, eb + upd, upd

    out = (
        j.select(F.explode(F.array_compact(F.array(minus, plus))).alias("r"))
        .select("r.*")
    )
    out._ddspark_stats = stats
    return out


# ---- guard / stats / sampling operators (reference §2.1) -----------------


def check_duplicate_keys(t: TableSegment, side: str = "") -> None:
    """Raise if any PK occurs more than once (joindiff_tables.py:228-248),
    naming ``side`` ('A' or 'B') and up to 5 repeated keys. One action."""
    dup = (
        t.make_select()
        .groupBy(*t.key_columns)
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        where = f" on side {side}" if side else ""
        raise ValueError(f"duplicate key values found{where} ({dup})")


def check_null_keys(t: TableSegment, skip: bool = False) -> Optional[DataFrame]:
    """Raise on NULL keys, or return the cleaned frame when skip=True
    (joindiff_tables.py:250-266)."""
    pred = None
    for k in t.key_columns:
        p = F.col(k).isNull()
        pred = p if pred is None else pred | p
    if skip:
        return t.make_select().filter(~pred)
    if not t.make_select().filter(pred).isEmpty():
        raise ValueError("NULL values in one or more primary keys")
    return None


def count_diff_per_column(t1: TableSegment, t2: TableSegment) -> DataFrame:
    """One row: sum of each __diff_<col> flag + exclusive counts + total
    (reference _count_diff_per_column joindiff_tables.py:336-354 and
    _collect_stats :268-305, collapsed into a single agg pass)."""
    j, cols1, _ = joined_frame(t1, t2)
    nkeys = len(t1.key_columns)
    aggs = [
        F.count(F.lit(1)).alias("rows_joined"),
        F.sum(F.col("is_exclusive_a").cast("long")).alias("exclusive_a"),
        F.sum(F.col("is_exclusive_b").cast("long")).alias("exclusive_b"),
    ]
    for c in cols1[nkeys:]:
        aggs.append(
            F.sum(F.coalesce(F.col(f"__diff_{c}"), F.lit(False)).cast("long")).alias(f"diff_{c}")
        )
    return j.agg(*aggs)
