"""Command-line interface.

Mirrors the reference CLI (/root/reference/data_diff/__main__.py:119-345):

    python -m data_diff_spark URI1 URI2 -k KEY [-c COL ...] [options]

URIs are this engine's source URIs (sources/connect.py): parquet://path,
csv://path, json://path, orc://path, delta://path, table://name,
duckdb://db#rel, sqlite://db#rel, bare catalog table names, and jdbc:...
with ?-style options.

Flag parity map (reference flag -> here):
    -k/--key-columns        same (repeatable)
    -c/--columns            same (repeatable, POSIX * ? wildcards expanded
                            against the schema — __main__.py:439-461)
    -w/--where              same (SQL predicate applied to both sides)
    -a/--algorithm          auto|joindiff|hashdiff (AUTO -> joindiff;
                            reference picks joindiff for same-DB pairs)
    -t/--update-column      same
    --min-age/--max-age     same duration grammar, e.g. 5min, 2h, 1d
                            (parse_time.py:56-74)
    -l/--limit              same (stop after N diff rows)
    --stats                 summary block instead of rows (JSON with -j)
    -j/--json               JSONL rows ({"sign": "-", ...})
    --bisection-factor/--bisection-threshold -> --n-buckets (the Spark
                            hashdiff has one knob, SURVEY.md §4.3)
    -m/--materialize        write the diff DataFrame to a parquet path /
                            saveAsTable instead of stdout
    --materialize-limit     cap on materialized rows (joindiff_tables.py:38)
    --threads               accepted and ignored (Spark schedules tasks;
                            the reference's thread pool has no analogue)
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import re
import sys
from typing import List, Optional, Sequence

from pyspark.sql import SparkSession

_DURATION_RE = re.compile(
    r"^(\d+)\s*(w|weeks?|d|days?|h|hours?|min|mins?|minutes?|s|secs?|seconds?)$"
)
_UNIT_SECONDS = {
    "w": 7 * 86400, "d": 86400, "h": 3600, "min": 60, "s": 1,
}


def parse_duration_seconds(text: str) -> int:
    """'5min' / '2h' / '1d' / '3w' -> seconds (reference parse_time.py)."""
    m = _DURATION_RE.match(text.strip().lower())
    if not m:
        raise ValueError(f"unparseable duration: {text!r} (try e.g. 5min, 2h, 1d)")
    n, unit = int(m.group(1)), m.group(2)
    key = {"weeks": "w", "week": "w", "days": "d", "day": "d", "hours": "h",
           "hour": "h", "mins": "min", "minutes": "min", "minute": "min",
           "secs": "s", "seconds": "s", "second": "s", "sec": "s"}.get(unit, unit)
    return n * _UNIT_SECONDS[key]


def expand_columns(patterns: Sequence[str], schema_cols: Sequence[str], keys: Sequence[str]) -> List[str]:
    """POSIX-wildcard column selection against the actual schema
    (reference _get_expanded_columns, __main__.py:439-461)."""
    out: List[str] = []
    for pat in patterns:
        matches = [c for c in schema_cols if fnmatch.fnmatchcase(c, pat) and c not in keys]
        if not matches:
            raise SystemExit(f"error: column pattern {pat!r} matched nothing in {list(schema_cols)}")
        out.extend(m for m in matches if m not in out)
    return out


def _positive_int(text: str) -> int:
    """argparse type: an int >= 1."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be a positive int, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="data-diff-spark",
        description="Diff two tables with Spark (joindiff / bucketed hashdiff).",
    )
    p.add_argument("uri1", nargs="?", default=None,
                   help="source URI of table A (parquet://…, csv://…, jdbc:…, table name)")
    p.add_argument("uri2", nargs="?", default=None, help="source URI of table B")
    p.add_argument("--config", default=None, metavar="FILE[#RUN]",
                   help="TOML config with [run.<name>] sections supplying defaults "
                        "(reference config.py apply_config_from_file); explicit "
                        "flags override the file")
    p.add_argument("-k", "--key-columns", action="append",
                   help="primary key column (repeat for compound keys; "
                        "required here or in --config)")
    p.add_argument("-c", "--columns", action="append", default=[],
                   help="columns to compare (POSIX wildcards; default: all shared non-key columns)")
    p.add_argument("-w", "--where", default=None, help="SQL predicate applied to both sides")
    p.add_argument("-a", "--algorithm", default="auto", choices=["auto", "joindiff", "hashdiff"])
    p.add_argument("-t", "--update-column", default=None)
    p.add_argument("--min-age", default=None, help="ignore rows updated less than AGE ago (e.g. 5min)")
    p.add_argument("--max-age", default=None, help="ignore rows updated more than AGE ago")
    p.add_argument("-l", "--limit", type=int, default=None)
    p.add_argument("--stats", action="store_true",
                   help="print the 7-key stats summary instead of rows (one JSON object with -j)")
    p.add_argument("-j", "--json", dest="json_output", action="store_true", help="JSONL output")
    p.add_argument("--n-buckets", type=_positive_int, default=None,
                   help="hashdiff checksum buckets (default: auto-sized "
                        "two-level digest scheme; an explicit value forces "
                        "a single fixed level)")
    p.add_argument("-m", "--materialize", default=None,
                   help="write diff to this parquet path (or table:NAME) instead of stdout")
    p.add_argument("--materialize-limit", type=int, default=1000)
    p.add_argument("--dbt-manifest", default=None, metavar="MANIFEST_JSON",
                   help="dbt mode (reference data-diff --dbt, minus the "
                        "cloud API): diff every model in this manifest "
                        "against production; use --prod-database/"
                        "--prod-schema for the prod mapping and positional "
                        "model names to select")
    p.add_argument("--prod-database", default=None)
    p.add_argument("--prod-schema", default=None)
    p.add_argument("--dbt-project-dir", default=None, metavar="DIR",
                   help="dbt mode via a project directory: resolves the "
                        "manifest (target/manifest.json) AND every model's "
                        "connection from dbt_project.yml + profiles.yml "
                        "(reference dbt_parser.py connection resolution); "
                        "no manual URIs needed")
    p.add_argument("--dbt-profiles-dir", default=None, metavar="DIR",
                   help="override profiles.yml location (default: project "
                        "dir, then ~/.dbt / $DBT_PROFILES_DIR)")
    p.add_argument("--dbt-target", default=None,
                   help="profiles.yml target for the dev side")
    p.add_argument("--dbt-prod-target", default=None,
                   help="profiles.yml target for the prod side (omit to "
                        "use --prod-database/--prod-schema substitution "
                        "on the dev connection)")
    p.add_argument("--remote-digest", action="store_true",
                   help="cross-engine digests-only mode: uri2's engine "
                        "(duckdb://, sqlite:// or jdbc:) computes its own bucket "
                        "checksums with the reference's md5 formula; only "
                        "digests + mismatched-bucket rows cross the wire "
                        "(the reference's hashdiff deployment shape)")
    p.add_argument("--remote-dialect", default=None,
                   metavar="|".join(sorted(
                       ("duckdb", "postgresql", "mysql", "clickhouse", "snowflake",
                        "mssql", "oracle", "bigquery", "trino", "redshift",
                        "vertica", "derby", "sqlite"))),
                   help="SQL dialect for the remote side's digest query "
                        "(default: inferred from the URI scheme/subprotocol)")
    p.add_argument("--remote-where", default=None,
                   help="--where override for the REMOTE side, in the remote "
                        "engine's SQL dialect (default: --where verbatim; "
                        "needed when identifier quoting rules differ)")
    p.add_argument("--no-refine", action="store_true",
                   help="skip the 64-row sampling refinement of string "
                        "columns (uuid/json/alphanum kind detection)")
    p.add_argument("--assume-unique-key", action="store_true",
                   help="skip the duplicate-key validation query")
    p.add_argument("--skip-null-keys", action="store_true")
    p.add_argument("--no-null-safe-keys", action="store_true",
                   help="join keys with = instead of <=> so tables bucketed on "
                        "the key diff with zero shuffle (keys must be non-null)")
    p.add_argument("--explain", action="store_true",
                   help="print the physical plan of the diff instead of executing it")
    p.add_argument("-i", "--interactive", action="store_true",
                   help="print the physical plan and ask for confirmation "
                        "before executing (reference interactive EXPLAIN "
                        "mode, base.py:984-994)")
    p.add_argument("--snapshot-write", default=None, metavar="PATH",
                   help="write a digest snapshot (keys + row checksum) of uri1 "
                        "to PATH and exit; diff against it later with --snapshot")
    p.add_argument("--snapshot", default=None, metavar="PATH",
                   help="diff uri1 against the digest snapshot at PATH "
                        "(uri2 not required): prints inserted/deleted/updated keys")
    p.add_argument("--threads", type=int, default=None, help="ignored (Spark schedules tasks)")
    p.add_argument("--master", default="local[*]", help="Spark master (default local[*])")
    return p


# config keys -> (arg attribute, "unset" sentinel the file may fill)
_CONFIG_KEYS = {
    "uri1": ("uri1", None), "uri2": ("uri2", None),
    "key_columns": ("key_columns", None), "columns": ("columns", []),
    "where": ("where", None), "algorithm": ("algorithm", "auto"),
    "update_column": ("update_column", None),
    "min_age": ("min_age", None), "max_age": ("max_age", None),
    "limit": ("limit", None), "n_buckets": ("n_buckets", None),
    "materialize": ("materialize", None),
}


def _apply_config(args) -> None:
    """Overlay [run.<name>] TOML defaults under explicit CLI flags
    (reference config.py:21-85 semantics: CLI wins)."""
    if not args.config:
        return
    import tomllib

    path, _, section = args.config.partition("#")
    with open(path, "rb") as f:
        data = tomllib.load(f)
    run = data.get("run", {})
    sec = run.get(section or "default")
    if sec is None:
        raise SystemExit(f"error: no [run.{section or 'default'}] section in {path}")
    for key, val in sec.items():
        if key not in _CONFIG_KEYS:
            raise SystemExit(f"error: unknown config key {key!r} "
                             f"(known: {sorted(_CONFIG_KEYS)})")
        attr, unset = _CONFIG_KEYS[key]
        if getattr(args, attr) == unset:  # only fill what the CLI left unset
            if attr in ("key_columns", "columns") and isinstance(val, str):
                val = [val]
            setattr(args, attr, val)


def _age_bound(spark: SparkSession, age: str):
    from pyspark.sql import functions as F

    secs = parse_duration_seconds(age)
    return F.current_timestamp() - F.expr(f"INTERVAL {secs} SECOND")


def main(argv: Optional[Sequence[str]] = None, spark: Optional[SparkSession] = None) -> int:
    from data_diff_spark.sources.connect import connect_to_table

    args = build_parser().parse_args(argv)
    _apply_config(args)
    snapshot_mode = args.snapshot_write or args.snapshot
    if snapshot_mode and (not args.uri1 or not args.key_columns):
        raise SystemExit("error: --snapshot-write/--snapshot need uri1 and -k")
    dbt_mode = args.dbt_manifest or args.dbt_project_dir
    if not snapshot_mode and not dbt_mode and (
            not args.uri1 or not args.uri2 or not args.key_columns):
        raise SystemExit("error: uri1, uri2 and -k/--key-columns are required "
                         "(on the command line or via --config), unless "
                         "--dbt-manifest/--dbt-project-dir is used")
    own_session = spark is None
    if own_session:
        spark = (
            SparkSession.builder.master(args.master)
            .appName("data-diff-spark")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")

    try:
        if dbt_mode:
            selection = [s for s in (args.uri1, args.uri2) if s] or None
            if args.dbt_project_dir:
                from data_diff_spark.dbt_profiles import dbt_diff_from_project

                results = dbt_diff_from_project(
                    spark, args.dbt_project_dir,
                    profiles_dir=args.dbt_profiles_dir,
                    target=args.dbt_target,
                    prod_target=args.dbt_prod_target,
                    manifest_path=args.dbt_manifest,
                    selection=selection,
                    prod_database=args.prod_database,
                    prod_schema=args.prod_schema,
                )
            else:
                from data_diff_spark.dbt import dbt_diff

                results = dbt_diff(
                    spark, manifest_path=args.dbt_manifest, selection=selection,
                    prod_database=args.prod_database, prod_schema=args.prod_schema,
                )
            for r in results:
                head = f"{'.'.join(r.dev_path)} <> {'.'.join(r.prod_path)}"
                if r.skipped:
                    print(f"{head}: skipped ({r.skipped})")
                elif args.json_output:
                    print(json.dumps({"model": r.model, "pks": r.primary_keys,
                                      **(r.stats or {})}))
                else:
                    print(f"{head} (keys: {', '.join(r.primary_keys)})")
                    for k, v in (r.stats or {}).items():
                        print(f"  {k}: {v}")
                if r.result:
                    r.result.unpersist()
            return 0

        keys = args.key_columns
        if snapshot_mode:
            from data_diff_spark.operators import snapshot as SN

            t1 = connect_to_table(spark, args.uri1, keys, args.update_column, None, args.where)
            if args.columns:
                shared = [c for c in t1.df.columns]
                t1 = t1.with_(extra_columns=tuple(expand_columns(args.columns, shared, keys)))
            if args.snapshot_write:
                SN.write_snapshot(t1, args.snapshot_write)
                print(f"snapshot written to {args.snapshot_write}", file=sys.stderr)
                return 0
            diff = SN.diff_against_snapshot(t1, SN.load_snapshot(spark, args.snapshot))
            if args.limit:
                diff = diff.limit(args.limit)
            for row in diff.toLocalIterator():
                if args.json_output:
                    print(json.dumps({"sign": row[0],
                                      **{c: _jsonable(row[c]) for c in diff.columns[1:]}}))
                else:
                    print(f"{row[0]} {', '.join(repr(row[c]) for c in diff.columns[1:])}")
            return 0

        result = (_remote_digest_diff if args.remote_digest else _local_diff)(spark, args, keys)

        if args.explain or args.interactive:
            plan = result.df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            print(plan, file=sys.stderr if args.interactive else sys.stdout)
            if not args.interactive:
                return 0
            answer = input("Execute this plan? [y/N] ")
            if answer.strip().lower() not in ("y", "yes"):
                print("aborted", file=sys.stderr)
                return 1

        if args.materialize:
            df = result.df
            if args.materialize_limit:
                df = df.limit(args.materialize_limit)
            if args.materialize.startswith("table:"):
                df.write.mode("append").saveAsTable(args.materialize[len("table:"):])
            else:
                df.write.mode("overwrite").parquet(args.materialize)
            print(f"materialized diff to {args.materialize}", file=sys.stderr)
            return 0

        if args.stats:
            stats = result.get_stats_dict()
            print(json.dumps(stats) if args.json_output
                  else "\n".join(f"{k}: {v}" for k, v in stats.items()))
            return 0

        df = result.df
        if args.limit:
            df = df.limit(args.limit)
        it = df.toLocalIterator()
        cols = df.columns[1:]  # first column is the sign
        for row in it:
            if args.json_output:
                print(json.dumps({"sign": row[0], **{c: _jsonable(row[c]) for c in cols}}))
            else:
                print(f"{row[0]} {', '.join(repr(row[c]) for c in cols)}")
        return 0
    finally:
        if "result" in locals():
            result.unpersist()
        if own_session:
            spark.stop()


def _local_diff(spark, args, keys):
    """Both URIs read into Spark: joindiff or hashdiff via diff_tables."""
    from pyspark.sql import functions as F

    from data_diff_spark.diff import Algorithm, diff_schemas, diff_tables
    from data_diff_spark.sources.connect import connect_to_table

    t1 = connect_to_table(spark, args.uri1, keys, args.update_column, None, args.where)
    t2 = connect_to_table(spark, args.uri2, keys, args.update_column, None, args.where)

    for col, ta, tb, status in diff_schemas(t1.df, t2.df):
        if status != "common":
            print(f"warning: schema difference on {col!r}: {ta} vs {tb} ({status})",
                  file=sys.stderr)

    shared = [c for c in t1.df.columns if c in set(t2.df.columns)]
    if args.columns:
        compare = expand_columns(args.columns, shared, keys)
    else:
        compare = [c for c in shared if c not in keys]
    t1 = t1.with_(extra_columns=tuple(compare))
    t2 = t2.with_(extra_columns=tuple(compare))

    if not args.no_refine:
        # sampling refinement of string columns (reference
        # _refine_coltypes runs on every connect): uuid -> trimmed
        # compare, json -> structural compare, alphanum -> flagged
        from data_diff_spark.refine import refined

        t1, t2 = refined(t1), refined(t2)
        for side, seg in (("A", t1), ("B", t2)):
            for col, kind in sorted(seg.kind_overrides.items()):
                print(f"refined: table {side} column {col!r} detected as {kind}",
                      file=sys.stderr)

    if args.update_column and (args.min_age or args.max_age):
        upd = F.col(args.update_column)
        for seg_attr, pred in (("min_age", upd < _age_bound(spark, args.min_age) if args.min_age else None),
                               ("max_age", upd > _age_bound(spark, args.max_age) if args.max_age else None)):
            if pred is not None:
                t1 = t1.with_(df=t1.df.filter(pred))
                t2 = t2.with_(df=t2.df.filter(pred))

    return diff_tables(
        t1,
        t2,
        algorithm=Algorithm(args.algorithm),
        n_buckets=args.n_buckets,
        # AUTO resolves to joindiff (diff.py), so the duplicate-key
        # guard the reference always runs for joindiff applies there too
        validate_unique_key=not args.assume_unique_key
        and args.algorithm in ("joindiff", "auto"),
        skip_null_keys=args.skip_null_keys,
        null_safe_keys=not args.no_null_safe_keys,
    )


_JDBC_DIALECTS = {
    "postgresql": "postgresql", "mysql": "mysql", "mariadb": "mysql",
    "sqlserver": "mssql", "oracle": "oracle", "clickhouse": "clickhouse",
    "redshift": "redshift", "vertica": "vertica", "trino": "trino",
    "presto": "trino", "snowflake": "snowflake", "bigquery": "bigquery",
    "derby": "derby",
}


def _spark_type_to_sql(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    return {
        T.LongType: "BIGINT", T.IntegerType: "INTEGER", T.ShortType: "SMALLINT",
        T.ByteType: "TINYINT", T.DoubleType: "DOUBLE", T.FloatType: "REAL",
        T.BooleanType: "BOOLEAN", T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP", T.TimestampNTZType: "TIMESTAMP",
    }.get(type(dt), "VARCHAR")


def _remote_age_bounds(spark, args) -> dict:
    """min/max-age boundaries computed ONCE client-side, so both engines
    compare against the SAME instant — two engine-local now() calls would
    disagree by query latency and misalign the windows (the reference also
    computes min_update/max_update client-side, table_segment.py)."""
    out = {}
    if args.update_column and (args.min_age or args.max_age):
        from datetime import timedelta

        now = spark.sql("select current_timestamp() as t").first()["t"]
        if args.min_age:
            out["lt"] = now - timedelta(seconds=parse_duration_seconds(args.min_age))
        if args.max_age:
            out["gt"] = now - timedelta(seconds=parse_duration_seconds(args.max_age))
    return out


def _remote_relation(rel: str, args, bounds: dict, dialect) -> str:
    """Wrap the remote relation in a subquery applying the SAME restriction
    the Spark side gets: --remote-where (or --where) verbatim, plus the
    update-column age window as shared literal boundaries. Without this,
    every row outside the Spark side's window would surface as a spurious
    exclusive '+' row."""
    preds = []
    where = args.remote_where or args.where
    if where:
        preds.append(f"({where})")
    if bounds:
        u = dialect.ident(args.update_column)
        if "lt" in bounds:
            preds.append(f"{u} < {dialect.ts_literal(bounds['lt'])}")
        if "gt" in bounds:
            preds.append(f"{u} > {dialect.ts_literal(bounds['gt'])}")
    if not preds:
        return rel
    return f"(select * from {rel} where {' and '.join(preds)}) seg0"


def _remote_digest_diff(spark, args, keys):
    """uri1 stays a Spark-side segment; uri2 becomes a RemoteSide that
    computes its own bucket digests (reference hashdiff deployment shape:
    only checksums + mismatched-bucket rows cross the wire)."""
    from pyspark.sql import functions as F

    from data_diff_spark.diff import DiffResult
    from data_diff_spark.operators import remote as RM
    from data_diff_spark.sources.connect import connect_to_table

    t1 = connect_to_table(spark, args.uri1, keys, args.update_column, None, args.where)
    bounds = _remote_age_bounds(spark, args)
    if bounds:  # batch mode applies this after its own branch; remote here
        upd = F.col(args.update_column)
        if "lt" in bounds:
            t1 = t1.with_(df=t1.df.filter(upd < F.lit(bounds["lt"])))
        if "gt" in bounds:
            t1 = t1.with_(df=t1.df.filter(upd > F.lit(bounds["gt"])))
    uri = args.uri2
    if uri.startswith("duckdb://"):
        import duckdb

        db, _, rel = uri[len("duckdb://"):].partition("#")
        if not rel:
            raise SystemExit("error: duckdb remote needs '#<table-or-query>'")
        con = duckdb.connect(db) if db else duckdb.connect()
        rel = _remote_relation(rel, args, bounds, RM.DuckDBDialect())
        remote_cols = [r[0] for r in con.execute(f"describe select * from {rel}").fetchall()]
        compare = _remote_compare_columns(args, t1, remote_cols, keys)
        t1 = t1.with_(extra_columns=tuple(compare))
        # the remote column list mirrors the Spark side's relevant_columns
        # (keys, update column, extras) POSITIONALLY — with -t set, a plain
        # keys+compare order would misalign every checksum column
        side = RM.DuckDBSide(rel, keys, list(t1.relevant_columns), con=con)
    elif uri.startswith("sqlite://"):
        import sqlite3

        db, _, rel = uri[len("sqlite://"):].partition("#")
        if not rel:
            raise SystemExit("error: sqlite remote needs '#<table>'")
        con = sqlite3.connect(db or ":memory:")
        # pragma table_info carries the DECLARED type — exactly the
        # logical-type declaration SQLiteSide wants (SQLite affinities
        # alone are lossy: timestamps/dates/bools live in TEXT/INTEGER)
        info = con.execute(f"pragma table_info({rel})").fetchall()
        if not info:
            raise SystemExit(
                "error: sqlite remote needs a plain table name "
                f"({rel!r} has no pragma table_info)")
        types = {r[1]: (r[2] or "TEXT").upper() for r in info}
        remote_cols = [r[1] for r in info]
        compare = _remote_compare_columns(args, t1, remote_cols, keys)
        t1 = t1.with_(extra_columns=tuple(compare))
        relq = _remote_relation(rel, args, bounds, RM.SQLiteDialect())
        side = RM.SQLiteSide(con, relq, keys, list(t1.relevant_columns), types)
    elif uri.startswith("jdbc:"):
        sub = uri.split(":", 2)[1]
        name = args.remote_dialect or _JDBC_DIALECTS.get(sub)
        if name is None or name not in RM.DIALECTS:
            raise SystemExit(
                f"error: cannot infer a digest dialect for {sub!r}; pass "
                f"--remote-dialect (one of {sorted(RM.DIALECTS)})")
        # ?-style options on the jdbc URI, like the normal connect path
        from urllib.parse import parse_qsl

        base, _, qs = uri.partition("?")
        opts = dict(parse_qsl(qs))
        dbtable = opts.pop("dbtable", None)
        if not dbtable:
            raise SystemExit("error: jdbc remote needs ?dbtable=schema.tbl on the URI")
        uri = base
        dia = RM.DIALECTS[name]
        probe = spark.read.format("jdbc").option("url", uri).option(
            "query", f"select * from {dbtable} where 1=0")
        for k, v in opts.items():  # driver/user/password/... ride along
            probe = probe.option(k, v)
        probe = probe.load()
        # remote identifiers rendered per the engine's fold rules: Spark's
        # JDBC writer creates quoted-lowercase columns, which e.g. Derby's
        # upper-fold only reaches quoted (verified live in test_cli_derby)
        types = {dia.ident(f.name): _spark_type_to_sql(f.dataType)
                 for f in probe.schema.fields}
        raw_cols = [f.name for f in probe.schema.fields]
        compare = _remote_compare_columns(args, t1, raw_cols, keys)
        t1 = t1.with_(extra_columns=tuple(compare))
        rel = _remote_relation(dbtable, args, bounds, dia)
        side = RM.JdbcSide(spark, uri, rel,
                           [dia.ident(k) for k in keys],
                           [dia.ident(c) for c in t1.relevant_columns], types,
                           dialect=dia, properties=opts)
    else:
        raise SystemExit(
            "error: --remote-digest needs uri2 = duckdb://…, sqlite://… or jdbc:…")

    return DiffResult(RM.hash_diff_remote(t1, side, n_buckets=args.n_buckets), t1)


def _remote_compare_columns(args, t1, remote_cols, keys):
    shared = [c for c in t1.df.columns if c in set(remote_cols)]
    if args.columns:
        return expand_columns(args.columns, shared, keys)
    return [c for c in shared if c not in keys]


def _jsonable(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)


if __name__ == "__main__":
    sys.exit(main())
