"""dbt-lite integration: manifest.json → per-model Spark diffs.

Spark re-expression of the reference's dbt entry point
(/root/reference/data_diff/dbt.py:71-180 and dbt_parser.py), minus the
Datafold cloud API (out of scope, SURVEY.md §3.3): parse a dbt
manifest.json, map every selected model to (prod_path, dev_path,
primary_keys), and fan out one diff per model.

Primary-key discovery follows the reference's precedence exactly
(dbt_parser.py:434-466):
  1. table-level meta["primary-key"]
  2. column-level meta containing "primary-key"
  3. column-level tags containing "primary-key"
  4. `unique` / `unique_combination_of_columns` test nodes
     (dbt_parser.py:468-504), including concat(...) / a || b definitions
     (dbt_parser.py:506-515)
Models with no discoverable PK are reported and skipped, like the
reference (dbt.py:158-180).

Table resolution is pluggable: the default resolver reads
`database.schema.alias` from the Spark catalog; tests inject a resolver
that serves DataFrames directly. Prod paths substitute prod_database /
prod_schema over the dev path (reference _get_diff_vars +
production_*_flag overrides).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame, SparkSession

from data_diff_spark.diff import DiffResult, diff_tables, shared_columns
from data_diff_spark.table import table_segment

logger = logging.getLogger(__name__)

PK_TAG = "primary-key"  # reference dbt.py / dbt_parser.py pk tag


@dataclass
class DbtModel:
    unique_id: str
    name: str
    alias: str
    database: Optional[str]
    schema: Optional[str]
    columns: Dict[str, dict] = field(default_factory=dict)
    meta: Dict = field(default_factory=dict)

    @property
    def dev_path(self) -> Tuple[str, ...]:
        return tuple(p for p in (self.database, self.schema, self.alias) if p)

    def prod_path(self, prod_database: Optional[str], prod_schema: Optional[str]) -> Tuple[str, ...]:
        db = prod_database or self.database
        sch = prod_schema or self.schema
        return tuple(p for p in (db, sch, self.alias) if p)


def _parse_concat_pk_definition(definition: str) -> List[str]:
    """concat(a, b) / a || '-' || b → [a, b] (dbt_parser.py:506-515)."""
    definition = definition.strip()
    if definition.lower().startswith("concat(") and definition.endswith(")"):
        columns = definition[7:-1].split(",")
    else:
        columns = definition.split("||")
    return [col.strip("\" ()") for col in columns]


class DbtManifest:
    """Minimal manifest.json reader: models, uniqueness tests, PKs."""

    def __init__(self, manifest: dict):
        self.nodes: Dict[str, dict] = manifest.get("nodes", {})

    @classmethod
    def load(cls, path: str) -> "DbtManifest":
        with open(path) as f:
            return cls(json.load(f))

    def models(self, selection: Optional[Sequence[str]] = None) -> List[DbtModel]:
        out = []
        for uid, node in self.nodes.items():
            if node.get("resource_type") != "model":
                continue
            name = node.get("name", uid.rsplit(".", 1)[-1])
            if selection and name not in selection and uid not in selection:
                continue
            out.append(DbtModel(
                unique_id=uid,
                name=name,
                alias=node.get("alias") or name,
                database=node.get("database"),
                schema=node.get("schema"),
                columns=node.get("columns", {}) or {},
                meta=node.get("meta", {}) or {},
            ))
        return out

    def unique_columns(self) -> Dict[str, Set[str]]:
        """{model unique_id: PK columns} from unique /
        unique_combination_of_columns test nodes (dbt_parser.py:468-504)."""
        cols_by_uid: Dict[str, Set[str]] = {}
        for node in self.nodes.values():
            if node.get("resource_type") != "test":
                continue
            tm = node.get("test_metadata") or {}
            depends = (node.get("depends_on") or {}).get("nodes") or []
            if not tm or not depends:
                continue
            uid = depends[0]
            if uid.startswith("source."):
                continue
            model_node = self.nodes.get(uid)
            model_cols = (model_node or {}).get("columns", {}) or {}
            kwargs = tm.get("kwargs", {}) or {}
            if tm.get("name") == "unique":
                for col in _parse_concat_pk_definition(kwargs.get("column_name", "")):
                    # skip string literals used in concat expressions
                    if col and (not model_cols or col in model_cols):
                        cols_by_uid.setdefault(uid, set()).add(col)
            elif tm.get("name") == "unique_combination_of_columns":
                for col in kwargs.get("combination_of_columns", []) or []:
                    cols_by_uid.setdefault(uid, set()).add(col)
        return cols_by_uid

    def pk_for(self, model: DbtModel, unique_columns: Optional[Dict[str, Set[str]]] = None) -> List[str]:
        """PK precedence of dbt_parser.get_pk_from_model (dbt_parser.py:434-466)."""
        column_names = set(model.columns)
        if PK_TAG in model.meta:
            declared = model.meta[PK_TAG]
            declared = [declared] if isinstance(declared, str) else list(declared)
            pks = [pk for pk in declared if pk in column_names]
            if pks:
                logger.debug("Found PKs via Table META: %s", pks)
                return pks
        from_meta = [n for n, p in model.columns.items() if PK_TAG in (p.get("meta") or {})]
        if from_meta:
            logger.debug("Found PKs via META [%s]: %s", model.name, from_meta)
            return from_meta
        from_tags = [n for n, p in model.columns.items() if PK_TAG in (p.get("tags") or [])]
        if from_tags:
            logger.debug("Found PKs via Tags [%s]: %s", model.name, from_tags)
            return from_tags
        uniq = (unique_columns if unique_columns is not None else self.unique_columns()).get(model.unique_id)
        if uniq:
            logger.debug("Found PKs via Uniqueness tests [%s]: %s", model.name, uniq)
            return sorted(uniq)
        return []


@dataclass
class DbtDiffResult:
    model: str
    prod_path: Tuple[str, ...]
    dev_path: Tuple[str, ...]
    primary_keys: List[str]
    result: Optional[DiffResult] = None
    stats: Optional[Dict[str, int]] = None
    skipped: Optional[str] = None


def _catalog_resolver(spark: SparkSession) -> Callable[[Tuple[str, ...]], DataFrame]:
    def resolve(path: Tuple[str, ...]) -> DataFrame:
        return spark.table(".".join(path))
    return resolve


def dbt_diff(
    spark: SparkSession,
    manifest_path: Optional[str] = None,
    manifest: Optional[dict] = None,
    selection: Optional[Sequence[str]] = None,
    prod_database: Optional[str] = None,
    prod_schema: Optional[str] = None,
    resolver: Optional[Callable[[Tuple[str, ...]], DataFrame]] = None,
    prod_resolver: Optional[Callable[[Tuple[str, ...]], DataFrame]] = None,
    with_stats: bool = True,
    **diff_kwargs,
) -> List[DbtDiffResult]:
    """Diff every selected model's prod vs dev relation (reference
    dbt_diff, dbt.py:71-180, local path only).

    The reference fans models out over a thread pool because each diff
    blocks on remote databases; here each diff is a lazy Spark plan and
    Spark schedules the actual work, so the fan-out is a simple loop —
    consume result.df / stats per model as needed.

    Columns pair by name: each model compares the non-key columns prod
    and dev both have, in prod's order, so a reordered or added dev
    column does not misalign the comparison.
    """
    m = DbtManifest.load(manifest_path) if manifest_path else DbtManifest(manifest or {})
    uniq = m.unique_columns()
    resolve = resolver or _catalog_resolver(spark)
    resolve_prod = prod_resolver or resolve
    out: List[DbtDiffResult] = []
    for model in m.models(selection):
        pks = m.pk_for(model, uniq)
        prod = model.prod_path(prod_database, prod_schema)
        dev = model.dev_path
        if not pks:
            logger.warning(
                "Skipping %s: no primary key found. Add uniqueness tests, "
                "meta, or tags.", model.name)
            out.append(DbtDiffResult(model.name, prod, dev, [], skipped="no_primary_key"))
            continue
        try:
            df_prod, df_dev = resolve_prod(prod), resolve(dev)
        except Exception as e:  # model missing in prod = "new model"
            logger.info("Skipping %s: %s", model.name, e)
            out.append(DbtDiffResult(model.name, prod, dev, pks, skipped=f"unresolved: {e}"))
            continue
        cols = shared_columns(df_prod.columns, df_dev.columns, pks)
        r = diff_tables(table_segment(df_prod, pks, extra_columns=cols),
                        table_segment(df_dev, pks, extra_columns=cols), **diff_kwargs)
        stats = r.get_stats_dict() if with_stats else None
        out.append(DbtDiffResult(model.name, prod, dev, pks, result=r, stats=stats))
    return out
