"""hashdiff — checksum-bucketed diff, the cross-engine algorithm.

Spark redesign of /root/reference/data_diff/hashdiff_tables.py:88-264.

The reference recursively bisects the key space, issuing one
count+md5-checksum SQL query per segment per side per level, because each
round-trip to a remote database is expensive. In Spark a single shuffle
replaces the whole recursion tree (SURVEY.md §4.3):

  1. per row: checksum = md5_as_int(fingerprint(normalized cols)), one
     8-byte long; only it and the normalized key strings are cached, and
     bucket = pmod(xxhash64(normalized keys), n_buckets) is recomputed
     from those strings at each level
  2. both sides: one groupBy(bucket) over the side-tagged union, giving
     each side's (count, sum(checksum)) -- the sum exact as two long
     halves (normalize.checksum_sum), map-side combined partial
     aggregation; the shuffle moves only partial digest rows
  3. compare the two tiny digest tables; equal digests prune the bucket
     (the reference's checksum-equality pruning, hashdiff_tables.py:210-212)
  4. only rows of mismatched buckets are re-read and diffed with the exact
     diff_sets duplicate-PK semantics (hashdiff_tables.py:30-84)

Cost on a cluster: two scans with count/sum partial aggs (the Spark analogue
of "within an order of magnitude of count(*)", README.md:191) plus work
proportional to the number of *differing* buckets — not to table size.

The checksum formula is bit-identical to every reference dialect (see
normalize.py), so step 2's digests can also be computed by a remote
PostgreSQL/DuckDB/Snowflake via the reference's segment SQL
(table_segment.py:239-258) for true cross-engine comparisons.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_diff_spark.normalize import (
    checksum_sum,
    md5_as_int,
    normalized_columns,
    row_fingerprint,
)
from data_diff_spark.operators.joindiff import SIGN_COL, _check_consistent
from data_diff_spark.table import TableSegment

DEFAULT_N_BUCKETS = 4096  # floor for auto-sizing; replaces bisection_factor
_AUTO_ROWS_PER_BUCKET = 16  # target bucket size so a dirty row dirties ~1 bucket
_ISIN_LIMIT = 8192  # above this, filter dirty buckets with a join, not a literal list
_BROADCAST_KEYS_LIMIT = 2_000_000  # differing-PK sets up to this broadcast for the narrow re-read
_FINE_LEVEL_MIN_ROWS = 2_000_000  # below this many dirty-coarse rows, go straight to phase 2

_CKS = "__cks__"
_BUCKET = "__bucket__"


def _knorm(i: int) -> str:
    return f"__knorm{i}__"


def _key_norm(t: TableSegment, cols: List[str]) -> List[Column]:
    """Normalized key strings (NULL as '<null>'). Both the bucket hash and the
    phase-2 grouping use this one canonical form, so the sides align by key
    VALUE even when key columns differ in name, physical type or kind
    override (the reference aligns segments by key value,
    diff_tables.py:377-391)."""
    nkeys = len(t.key_columns)
    return [
        F.coalesce(c, F.lit("<null>")) for c in
        normalized_columns(t.schema, cols[:nkeys], t.precision_overrides, t.kind_overrides)
    ]


def _annotated_keys(t: TableSegment, cols: List[str]) -> DataFrame:
    """(__cks__, __knorm0__ ... __knormK__) ONLY — no raw columns. This is
    the frame hash_diff caches: a handful of strings and one long per row
    no matter how wide the table. Bucket ids at any granularity are hashed
    from the cached key strings (_bucket_id), so the digest levels are
    chosen after annotation."""
    normd = normalized_columns(t.schema, cols, t.precision_overrides, t.kind_overrides)
    return t.make_select().select(
        md5_as_int(row_fingerprint(normd)).alias(_CKS),
        *[k.alias(_knorm(i)) for i, k in enumerate(_key_norm(t, cols))],
    )


def _emit(t: TableSegment, cols: List[str], out_names: List[str], sign: str,
          bad_keys: DataFrame) -> DataFrame:
    """Re-read a side restricted (left-semi on normalized keys) to the PKs
    phase 2 decided differ; all rows of a differing PK come back, so the
    emission is the PK's whole row multiset."""
    key_norm = _key_norm(t, cols)
    annotated = t.make_select().select(
        *[F.col(c).alias(o) for c, o in zip(cols, out_names)],
        *[k.alias(_knorm(i)) for i, k in enumerate(key_norm)],
    )
    joined = annotated.join(bad_keys, [_knorm(i) for i in range(len(key_norm))], "left_semi")
    return joined.select(F.lit(sign).alias(SIGN_COL), *out_names)


def _bucket_id(keys: List[str], n: int) -> Column:
    """Bucket of a row among n, from its cached normalized key columns."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n))


def _bucketed(df: DataFrame, keys: List[str], n: int) -> DataFrame:
    return df.withColumn(_BUCKET, _bucket_id(keys, n))


def _side_digests(a: DataFrame, b: DataFrame, by: List[str]) -> DataFrame:
    """THE digest kernel, used at every level: per `by` group, each side's
    row count and exact checksum sum -> (*by, ca, cb, sa_hi, sa_lo, sb_hi,
    sb_lo), each sum a canonical checksum_sum pair. One aggregation over
    the side-tagged union, so both sides are scanned in one stage and only
    map-side partial aggregates cross the one shuffle. A group absent from
    a side reads count 0 and a NULL sum pair there."""
    side = "__side__"
    u = a.select(*by, _CKS, F.lit(0).alias(side)).unionAll(
        b.select(*by, _CKS, F.lit(1).alias(side))
    )
    is_a = (F.col(side) == 0).cast("long")
    sa_hi, sa_lo = checksum_sum(F.when(F.col(side) == 0, F.col(_CKS)))
    sb_hi, sb_lo = checksum_sum(F.when(F.col(side) == 1, F.col(_CKS)))
    return u.groupBy(*by).agg(
        F.sum(is_a).alias("ca"),
        F.sum(1 - is_a).alias("cb"),
        sa_hi.alias("sa_hi"), sa_lo.alias("sa_lo"),
        sb_hi.alias("sb_hi"), sb_lo.alias("sb_lo"),
    )


def _digests_differ() -> Column:
    """A group's row multiset differs iff its (count, checksum-sum) digests
    differ (hashdiff_tables.py:210-212)."""
    return ((F.col("ca") != F.col("cb"))
            | ~F.col("sa_hi").eqNullSafe(F.col("sb_hi"))
            | ~F.col("sa_lo").eqNullSafe(F.col("sb_lo")))


def _paired_digest(a: DataFrame, b: DataFrame, keys: List[str], n_buckets: int):
    """Coarse level: the bucket digests of BOTH sides in ONE job, collected
    to the driver (<= n_buckets rows) and compared there — no digest join.
    The collect also yields the exact row counts that size the fine level.

    Returns (dirty bucket ids, rows in dirty buckets on both sides,
    rows_total_a, rows_total_b)."""
    a, b = _bucketed(a, keys, n_buckets), _bucketed(b, keys, n_buckets)
    rows = _side_digests(a, b, [_BUCKET]).collect()
    bad = [r for r in rows
           if (r["ca"], r["sa_hi"], r["sa_lo"]) != (r["cb"], r["sb_hi"], r["sb_lo"])]
    return ([r[_BUCKET] for r in bad], sum(r["ca"] + r["cb"] for r in bad),
            sum(r["ca"] for r in rows), sum(r["cb"] for r in rows))


def _key_stats(per_key: DataFrame, rows_a: int, rows_b: int):
    """The hashdiff operators' `_ddspark_stats` (DiffResult.get_stats_dict):
    every row of a differing key is emitted, so over `per_key` (the
    differing keys' digests) '-' = sum(ca), '+' = sum(cb) and min(ca, cb)
    rows pair up as updates. Reads only the cached narrow frames."""
    def stats():
        row = per_key.agg(F.sum("ca"), F.sum("cb"), F.sum(F.least("ca", "cb"))).collect()[0]
        return (rows_a, rows_b, *(int(v or 0) for v in row))
    return stats


def _restrict_join(df: DataFrame, keys: List[str], ids_df: DataFrame, n: int,
                   broadcast: bool) -> DataFrame:
    """Restrict `df` to the buckets in `ids_df` (a single-`_BUCKET`-column
    frame) via left-semi join — the large-id-set sibling of _restrict's
    literal InSet probe. broadcast=True ships the id frame to every task
    (one long column; ~16 bytes/id); above _BROADCAST_KEYS_LIMIT the
    caller leaves the join shape to AQE."""
    rhs = F.broadcast(ids_df) if broadcast else ids_df
    return _bucketed(df, keys, n).join(rhs, _BUCKET, "left_semi").drop(_BUCKET)


def _restrict(df: DataFrame, keys: List[str], ids: List[int], n: int) -> DataFrame:
    """Restrict `df` to the driver-side bucket ids `ids` (of n buckets)."""
    if len(ids) >= n:
        return df
    if len(ids) <= _ISIN_LIMIT:
        # isin over a literal set compiles to a hash-set probe (InSet)
        return df.filter(_bucket_id(keys, n).isin(ids))
    ids_df = df.sparkSession.createDataFrame([(int(x),) for x in ids], f"{_BUCKET} long")
    return _restrict_join(df, keys, ids_df, n, broadcast=True)


def hash_diff(
    t1: TableSegment,
    t2: TableSegment,
    n_buckets: Optional[int] = None,
) -> DataFrame:
    """Diff DataFrame (sign, *columns-of-table-1's-names), duplicate-PK-aware:
    emit ALL rows of every PK whose row *multiset* differs between sides —
    deterministic regardless of bucketing. (The reference's diff_sets also
    emits a PK with 2+ equal rows per side when its segment was downloaded,
    hashdiff_tables.py:62-69 — an artifact of segmentation, not reproduced.)

    n_buckets=None auto-sizes a two-level digest scheme (coarse prune +
    fine isolate); an explicit positive int forces one fixed level.

    Cache shape: only (checksum, normalized keys) per row is persisted —
    a few strings and one long no matter how wide the table, so the cache
    never becomes the table. The rows of the differing PKs are then re-read
    from the sources with a left-semi join: the sources are scanned twice,
    but the second scan is pruned to the differing keys.
    """
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be a positive int, got {n_buckets!r}")
    cols1, cols2 = _check_consistent(t1, t2)
    out_names = cols1
    knorm_names = [_knorm(i) for i in range(len(t1.key_columns))]

    a = _annotated_keys(t1, cols1).persist()
    b = _annotated_keys(t2, cols2).persist()

    # --- level 1: coarse digests (DEFAULT_N_BUCKETS) ------------------------
    # The reference recursively bisects because remote round-trips dominate;
    # in Spark exactly TWO digest levels suffice: a coarse compare whose
    # partial-aggregation traffic is tiny (partitions x 4096 rows) prunes
    # the clean bulk, and a fine compare over only the dirty-coarse rows
    # isolates differing keys even when the diff *rate* would dirty every
    # coarse bucket. Measured on a 6M-row / 2%-changed probe: single fixed
    # 4096-bucket level 80s -> two-level design 36s; the zero-diff case
    # pays only the coarse level (7.9s -> 5.3s).
    coarse_n = n_buckets or DEFAULT_N_BUCKETS
    bad_ids, dirty_rows, rows_a, rows_b = _paired_digest(a, b, knorm_names, coarse_n)
    a_bad = _restrict(a, knorm_names, bad_ids, coarse_n)
    b_bad = _restrict(b, knorm_names, bad_ids, coarse_n)

    # --- level 2: fine digests over the dirty-coarse rows only --------------
    # ...unless the dirty-coarse rows are ALREADY few: phase 2's per-key
    # multiset compare over <2M narrow rows costs less than another
    # digest round-trip, so the fine level only pays for itself when it
    # can prune a big set. Exact dirty-row count comes free from the
    # coarse digests.
    extra_handles: List[DataFrame] = []
    if n_buckets is None and bad_ids and dirty_rows > _FINE_LEVEL_MIN_ROWS:
        fine_n = 1 << max(rows_a // _AUTO_ROWS_PER_BUCKET, 1).bit_length()
        if fine_n > coarse_n:
            # The dirty fine-bucket set must NEVER round-trip through the
            # Python driver when it is large: at a ~2% uniform diff rate
            # over 60M rows/side, ~2M of the 8.4M fine buckets mismatch,
            # and a collect() + createDataFrame ping-pong serialized
            # millions of rows through py4j twice (the r12 sf10 probe
            # flagged the entry SUPERLINEAR: 25.5s→131s for 3.33x data;
            # on a 1000-executor cluster the driver hop is strictly
            # worse). Keep the id set JVM-side: small sets still take the
            # InSet literal probe; large sets broadcast the id FRAME
            # directly (one long column); sets too big to broadcast fall
            # through to a plain left-semi under AQE; a fully-dirty set
            # prunes nothing and is skipped.
            ids_df = (
                _side_digests(_bucketed(a_bad, knorm_names, fine_n),
                              _bucketed(b_bad, knorm_names, fine_n), [_BUCKET])
                .filter(_digests_differ()).select(_BUCKET).persist()
            )
            n_ids = ids_df.count()
            if n_ids <= _ISIN_LIMIT:
                fine_ids = [r[_BUCKET] for r in ids_df.collect()]
                ids_df.unpersist()
                a_bad = _restrict(a_bad, knorm_names, fine_ids, fine_n)
                b_bad = _restrict(b_bad, knorm_names, fine_ids, fine_n)
            elif n_ids < fine_n:
                bcast = n_ids <= _BROADCAST_KEYS_LIMIT
                a_bad = _restrict_join(a_bad, knorm_names, ids_df, fine_n, bcast)
                b_bad = _restrict_join(b_bad, knorm_names, ids_df, fine_n, bcast)
                extra_handles.append(ids_df)
            else:
                ids_df.unpersist()

    # Phase 2 — the diff_sets decision (hashdiff_tables.py:30-84): the same
    # digest kernel per NORMALIZED key over the surviving narrow rows, one
    # map-side-combined aggregation. Only the differing KEY SET is consumed
    # downstream, so no window or join back to the rows is needed.
    per_key = _side_digests(a_bad, b_bad, knorm_names).filter(_digests_differ())
    bad_cached = per_key.select(*knorm_names).persist()
    # The differing-key set is proportional to the DIFF count, not the
    # table: broadcast it so the pruned re-read is scan+broadcast-semi,
    # never a full shuffle of both sides (unbroadcast, the semi join
    # sort-merge-shuffled 6M rows per side and ran 5x slower at sf0.1).
    # Above the cap, fall back to AQE's choice.
    bad_keys = (
        F.broadcast(bad_cached)
        if bad_cached.count() <= _BROADCAST_KEYS_LIMIT
        else bad_cached
    )
    out = _emit(t1, cols1, out_names, "-", bad_keys).unionAll(
        _emit(t2, cols2, out_names, "+", bad_keys)
    )
    # Caller-managed cache lifecycle: the result is lazy, so the persisted
    # frames must outlive it. DiffResult.unpersist() (and the CLI) release
    # them once the diff is materialized.
    out._ddspark_persisted = [a, b, bad_cached, *extra_handles]
    out._ddspark_stats = _key_stats(per_key, rows_a, rows_b)
    return out
