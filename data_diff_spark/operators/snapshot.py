"""Snapshot diff: compare a live table against a stored digest snapshot.

The reference diffs two LIVE tables; the recurring production workflow is
"what changed since yesterday?" — where yesterday's table no longer exists.
A digest snapshot makes that diff possible and cheap: persist only
(key columns, row checksum) — a few dozen bytes/row regardless of table
width — and later full-outer-join the live table's freshly computed
digests against it:

    '+'  key present now, absent in the snapshot        (inserted)
    '-'  key in the snapshot, absent now                (deleted)
    '!'  key in both, row checksum differs              (updated)

Scale notes (100 TB):
  - The snapshot is NARROW: a 100 TB / 200-column table snapshots to
    roughly keys + one 8-byte long checksum per row. Checksum computation
    is the one full scan (map-only, inside codegen — normalize.row_checksum);
    the diff joins two narrow frames on the keys.
  - Write the snapshot with write_bucketed (sources/connect.py) and the
    recurring diff is Exchange-free on the snapshot side — the same
    zero-shuffle contract as the bucketed joindiff.
  - The checksum is the reference's exact md5 formula (constants.py), so a
    snapshot written by ANY engine with the dialect layer (operators/
    remote.py renders it for DuckDB/Postgres) can be diffed against Spark.

Checksum collisions (two different rows, equal md5-derived digest) map a
real update to "unchanged" with probability ~2^-104 per row — the same
trade every hashdiff level in the reference makes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_diff_spark.table import TableSegment

SIGN_COL = "sign"
CKS_COL = "__row_cks"
# field-metadata key on CKS_COL: the column list the checksum hashed, in order
HASHED_COLUMNS = "hashed_columns"


def snapshot_frame(segment: TableSegment) -> DataFrame:
    """(keys..., __row_cks) for the segment — what gets persisted.
    __row_cks records the hashed column list as field metadata, which
    parquet keeps."""
    hashed = {HASHED_COLUMNS: list(segment.relevant_columns)}
    return segment.make_select().select(
        *segment.key_columns, segment.checksum_column().alias(CKS_COL, metadata=hashed)
    )


def write_snapshot(segment: TableSegment, path: str, mode: str = "overwrite") -> None:
    """Persist the digest snapshot as parquet. For recurring diffs against
    a large table, prefer sources.connect.write_bucketed on the keys so the
    join back never shuffles the snapshot."""
    snapshot_frame(segment).write.mode(mode).parquet(path)


def diff_against_snapshot(segment: TableSegment, snapshot: DataFrame) -> DataFrame:
    """(sign, *keys) for every key that was inserted ('+'), deleted ('-'),
    or updated ('!') since the snapshot was taken. One full-outer join of
    two narrow frames; unchanged keys are filtered before anything wide
    happens. Snapshots store __row_cks as bigint; older ones stored the
    same values as decimal(38,0), and the comparison widens to it.

    ValueError if the snapshot recorded a hashed column list other than
    the segment's: every row checksum would differ. A snapshot without the
    record is diffed as is."""
    hashed = snapshot.schema[CKS_COL].metadata.get(HASHED_COLUMNS)
    if hashed is not None and hashed != list(segment.relevant_columns):
        raise ValueError(
            f"snapshot hashed columns {hashed}, this segment hashes "
            f"{list(segment.relevant_columns)}: build the segment with the same "
            f"update_column and columns, in the same order")
    keys = list(segment.key_columns)
    cur = segment.make_select().select(
        *keys, segment.checksum_column().alias("__cks_new"), F.lit(True).alias("__in_new")
    )
    old = snapshot.select(
        *[F.col(k).alias(f"__o_{k}") for k in keys],
        F.col(CKS_COL).alias("__cks_old"),
        F.lit(True).alias("__in_old"),
    )
    on = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__o_{k}"))
        on = c if on is None else on & c
    j = cur.join(old, on=on, how="full_outer")
    sign = (
        F.when(F.col("__in_old").isNull(), F.lit("+"))
        .when(F.col("__in_new").isNull(), F.lit("-"))
        .when(F.col("__cks_new") != F.col("__cks_old"), F.lit("!"))
    )
    out_keys = [F.coalesce(F.col(k), F.col(f"__o_{k}")).alias(k) for k in keys]
    return j.select(sign.alias(SIGN_COL), *out_keys).filter(F.col(SIGN_COL).isNotNull())


def load_snapshot(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
