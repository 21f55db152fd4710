"""TableSegment — a DataFrame plus diff metadata.

Spark re-expression of /root/reference/data_diff/table_segment.py:88-287.
A segment is a table restricted by key range / update-column range / extra
predicates, with declared key columns and compared columns. In Spark the
restrictions are plain filters (Catalyst pushes them into the scan), and the
reference's key-space segmentation machinery (checkpoints, meshes,
lexicographic spaces — table_segment.py:23-85) is not needed: hash
partitioning aligns both sides by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any, Mapping, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_diff_spark.normalize import normalized_columns, row_checksum


@dataclass(frozen=True)
class TableSegment:
    """A diffable table side.

    Mirrors the reference's attrs class (table_segment.py:109-127):
    key_columns + update_column + extra_columns + range/where restrictions.
    """

    df: DataFrame
    key_columns: Tuple[str, ...]
    update_column: Optional[str] = None
    extra_columns: Tuple[str, ...] = ()
    min_key: Optional[Tuple[Any, ...]] = None
    max_key: Optional[Tuple[Any, ...]] = None
    min_update: Optional[Any] = None
    max_update: Optional[Any] = None
    where: Optional[str] = None
    precision_overrides: Mapping[str, int] = field(default_factory=dict)
    # string-column semantic kinds from sampling refinement (refine.py):
    # {'col': 'uuid' | 'json'} — changes the normalization expression only
    kind_overrides: Mapping[str, str] = field(default_factory=dict)
    # optimizer hints applied to make_select (reference optimizer_hints
    # passthrough, ast_classes.py:576 / base.py:898-899): e.g. ("broadcast",)
    hints: Tuple[str, ...] = ()
    case_sensitive: bool = True

    def __post_init__(self) -> None:
        if not self.key_columns:
            raise ValueError("at least one key column is required")
        if not self.case_sensitive:
            # resolve declared names against actual DataFrame casing
            # (reference CaseInsensitiveDict, utils.py:81-117)
            lookup = {c.lower(): c for c in self.df.columns}
            fix = lambda n: lookup.get(n.lower(), n)
            object.__setattr__(self, "key_columns", tuple(fix(k) for k in self.key_columns))
            if self.update_column:
                object.__setattr__(self, "update_column", fix(self.update_column))
            object.__setattr__(self, "extra_columns", tuple(fix(c) for c in self.extra_columns))
        if self.update_column is None and (self.min_update is not None
                                           or self.max_update is not None):
            raise ValueError("min_update/max_update need an update_column to window")
        missing = [c for c in self.relevant_columns if c not in self.df.columns]
        if missing:
            raise ValueError(f"columns not in DataFrame: {missing} (have {self.df.columns})")

    # -- column sets ------------------------------------------------------

    @property
    def relevant_columns(self) -> Tuple[str, ...]:
        """Keys first, then update column, then extras — the reference's
        ordering (table_segment.py:208-216)."""
        cols = list(self.key_columns)
        if self.update_column and self.update_column not in cols:
            cols.append(self.update_column)
        cols += [c for c in self.extra_columns if c not in cols]
        return tuple(cols)

    # -- restriction ------------------------------------------------------

    def _range_predicate(self) -> Optional[Column]:
        """key >= min_key AND key < max_key in product order, plus
        update-column window (table_segment.py:158-170)."""
        preds = []
        if self.min_key is not None:
            preds.append(self._vector_cmp(self.min_key, ">="))
        if self.max_key is not None:
            preds.append(self._vector_cmp(self.max_key, "<"))
        if self.min_update is not None:
            preds.append(F.col(self.update_column) >= F.lit(self.min_update))
        if self.max_update is not None:
            preds.append(F.col(self.update_column) < F.lit(self.max_update))
        if not preds:
            return None
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def _vector_cmp(self, bound: Tuple[Any, ...], op: str) -> Column:
        """Product-order comparison over compound keys (utils.py:417-456 in
        the reference): every component must satisfy the bound."""
        if len(bound) != len(self.key_columns):
            raise ValueError("key bound arity mismatch")
        preds = [
            (F.col(k) >= F.lit(v)) if op == ">=" else (F.col(k) < F.lit(v))
            for k, v in zip(self.key_columns, bound)
        ]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def make_select(self) -> DataFrame:
        """The restricted DataFrame (reference make_select, table_segment.py:176-179)."""
        df = self.df
        if self.where:
            df = df.filter(self.where)
        pred = self._range_predicate()
        if pred is not None:
            df = df.filter(pred)
        df = df.select(*self.relevant_columns)
        for h in self.hints:
            df = df.hint(h)
        return df

    # -- segment queries (reference §2.2) ---------------------------------

    def count(self) -> int:
        """SELECT count(*) (table_segment.py:235-237)."""
        return self.make_select().count()

    def checksum_column(self) -> Column:
        return row_checksum(self.schema, self.relevant_columns, self.precision_overrides, self.kind_overrides)

    def count_and_checksum(self) -> Tuple[int, Optional[int]]:
        """One-pass count(*) + sum(md5_as_int(fingerprint))
        (table_segment.py:239-258)."""
        row = (
            self.make_select()
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(self.checksum_column()).alias("cks"),
            )
            .collect()[0]
        )
        cks = row["cks"]
        return row["cnt"], (int(cks) if cks is not None else None)

    def query_key_range(self, normalized: bool = False) -> Tuple[Tuple[Any, ...], Tuple[Any, ...]]:
        """min/max per key column (table_segment.py:260-275).

        normalized=True applies min/max FIRST and then renders the bounds
        as canonical strings — the reference's ApplyFuncAndNormalizeAsString
        (queries/extras.py:22-25 / base.py:392-409), used when key bounds
        must be compared across engines."""
        by_name = {f.name: f for f in self.schema.fields}
        aggs = []
        for k in self.key_columns:
            lo, hi = F.min(k), F.max(k)
            if normalized:
                from data_diff_spark.normalize import normalize_as_string

                dt, p = by_name[k].dataType, self.precision_overrides.get(k)
                lo, hi = normalize_as_string(lo, dt, p), normalize_as_string(hi, dt, p)
            aggs += [lo.alias(f"min_{k}"), hi.alias(f"max_{k}")]
        row = self.make_select().agg(*aggs).collect()[0]
        mins = tuple(row[f"min_{k}"] for k in self.key_columns)
        maxs = tuple(row[f"max_{k}"] for k in self.key_columns)
        if any(v is None for v in mins):
            raise ValueError("table appears empty — no key range")
        return mins, maxs

    def get_values(self) -> DataFrame:
        """All relevant columns, normalized to canonical strings
        (table_segment.py:181-187) — kept distributed, never collected."""
        return self.make_select().select(
            *normalized_columns(self.schema, self.relevant_columns, self.precision_overrides, self.kind_overrides)
        )

    def collect_stats(self) -> dict:
        """count(*) plus sum(col) for every numeric compared column, in ONE
        aggregation pass (reference _collect_stats,
        joindiff_tables.py:268-305)."""
        from pyspark.sql import types as T

        numeric = [
            f.name
            for f in self.schema.fields
            if f.name in self.relevant_columns and isinstance(f.dataType, T.NumericType)
        ]
        row = self.make_select().agg(
            F.count(F.lit(1)).alias("count"),
            *[F.sum(c).alias(f"sum_{c}") for c in numeric],
        ).collect()[0]
        return row.asDict()

    def ignore_column(self, column: str) -> "TableSegment":
        """Drop a column from comparison/checksums (reference ignore_column,
        diff_tables.py:397-416) — checksum expressions derive from
        relevant_columns, so the next query simply excludes it."""
        if column in self.key_columns:
            raise ValueError(f"cannot ignore key column {column!r}")
        return self.with_(
            extra_columns=tuple(c for c in self.extra_columns if c != column)
        )

    # -- helpers -----------------------------------------------------------

    @property
    def schema(self):
        return self.df.schema

    def with_(self, **kw) -> "TableSegment":
        return replace(self, **kw)


def table_segment(
    df: DataFrame,
    key_columns: Sequence[str],
    update_column: Optional[str] = None,
    extra_columns: Optional[Sequence[str]] = None,
    **kw,
) -> TableSegment:
    """Convenience constructor. If extra_columns is None, compare every
    non-key column (the reference CLI's default of expanding '*')."""
    if extra_columns is None:
        skip = set(key_columns) | ({update_column} if update_column else set())
        extra_columns = [c for c in df.columns if c not in skip]
    return TableSegment(
        df=df,
        key_columns=tuple(key_columns),
        update_column=update_column,
        extra_columns=tuple(extra_columns),
        **kw,
    )
