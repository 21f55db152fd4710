"""Diff operator behavior — mirrors the reference's test strategy
(/root/reference/tests/test_diff_tables.py, tests/test_joindiff.py;
fixture shapes from FIXTURES.md F1-F7)."""

import pytest
from pyspark.sql import functions as F

from data_diff_spark import diff_tables, table_segment
from data_diff_spark.operators.joindiff import (
    check_duplicate_keys,
    check_null_keys,
    count_diff_per_column,
    join_diff,
)
from data_diff_spark.operators.hashdiff import hash_diff

ALGOS = ["joindiff", "hashdiff"]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def make_ratings(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, userid bigint, movieid bigint, rating double"
    )


BASE = [(1, 1, 1, 9.0), (2, 2, 2, 9.0), (3, 3, 3, 9.0), (4, 4, 4, 9.0)]


@pytest.mark.parametrize("algo", ALGOS)
def test_basic_diff(spark, algo):
    a = make_ratings(spark, BASE)
    b = make_ratings(spark, BASE[:-1] + [(4, 4, 4, 8.5)])  # one update
    b = b.union(make_ratings(spark, [(5, 5, 5, 9.0)]))     # one insert
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo)
    got = _sorted_rows(r.df)
    assert got == sorted(
        [("-", 4, 4, 4, 9.0), ("+", 4, 4, 4, 8.5), ("+", 5, 5, 5, 9.0)]
    )


@pytest.mark.parametrize("algo", ALGOS)
def test_empty_tables(spark, algo):
    a = make_ratings(spark, BASE)
    empty = make_ratings(spark, []).filter("id < 0")
    r = diff_tables(table_segment(a, ["id"]), table_segment(empty, ["id"]), algorithm=algo)
    assert r.df.count() == len(BASE)
    assert set(x[0] for x in r.df.collect()) == {"-"}
    r2 = diff_tables(table_segment(empty, ["id"]), table_segment(empty, ["id"]), algorithm=algo)
    assert r2.df.count() == 0


@pytest.mark.parametrize("algo", ALGOS)
def test_no_diff_is_empty(spark, algo):
    a = make_ratings(spark, BASE)
    b = make_ratings(spark, BASE)
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo)
    assert r.df.count() == 0


@pytest.mark.parametrize("algo", ALGOS)
def test_nulls_in_values(spark, algo):
    # FIXTURES F5: NULL vs value must register as a diff; NULL==NULL must not.
    a = spark.createDataFrame([(1, None), (2, "x"), (3, None)], "id int, c1 string")
    b = spark.createDataFrame([(1, None), (2, None), (3, "y")], "id int, c1 string")
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo)
    got = _sorted_rows(r.df)
    assert got == sorted(
        [("-", 2, "x"), ("+", 2, None), ("-", 3, None), ("+", 3, "y")]
    )


@pytest.mark.parametrize("algo", ALGOS)
def test_null_adjacent_concat(spark, algo):
    # ('a', NULL) vs ('a|<null>'-style collision trap): a row ("a", None)
    # and a row ("a|<null>", ...) must not collide because the NULL literal
    # is injected after normalization per-column.
    a = spark.createDataFrame([(1, "x", None)], "id int, c1 string, c2 string")
    b = spark.createDataFrame([(1, "x|<null>", None)], "id int, c1 string, c2 string")
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo)
    assert r.df.count() == 2  # they differ


@pytest.mark.parametrize("algo", ALGOS)
def test_compound_keys(spark, algo):
    # FIXTURES F7: compound PK; changing part of the key = exclusive rows.
    rows = [(i, i * 2, f"c{i}") for i in range(100)]
    a = spark.createDataFrame(rows, "id bigint, id2 bigint, comment string")
    rows2 = list(rows)
    rows2[50] = (50, 9000, "c50")
    b = spark.createDataFrame(rows2, "id bigint, id2 bigint, comment string")
    r = diff_tables(
        table_segment(a, ["id", "id2"]), table_segment(b, ["id", "id2"]), algorithm=algo
    )
    got = _sorted_rows(r.df)
    assert got == sorted([("-", 50, 100, "c50"), ("+", 50, 9000, "c50")])


def test_duplicate_pk_semantics_hashdiff(spark):
    # FIXTURES F6 / reference diff_sets (hashdiff_tables.py:62-69):
    # src [(12,'ABCDE')×2]; dst [(4,'ABCDEF'),(4,'ABCDE')×2,(6,'ABCDE')×3]
    a = spark.createDataFrame([(12, "ABCDE"), (12, "ABCDE")], "id int, data string")
    b = spark.createDataFrame(
        [(4, "ABCDEF"), (4, "ABCDE"), (4, "ABCDE"), (6, "ABCDE"), (6, "ABCDE"), (6, "ABCDE")],
        "id int, data string",
    )
    d = hash_diff(table_segment(a, ["id"]), table_segment(b, ["id"]))
    got = _sorted_rows(d)
    # every PK has dup/exclusive rows on some side → everything is emitted
    assert got == sorted(
        [("-", 12, "ABCDE"), ("-", 12, "ABCDE"),
         ("+", 4, "ABCDEF"), ("+", 4, "ABCDE"), ("+", 4, "ABCDE"),
         ("+", 6, "ABCDE"), ("+", 6, "ABCDE"), ("+", 6, "ABCDE")]
    )


def test_duplicate_pk_equal_multisets_pruned(spark):
    # In the reference, a segment whose count+checksum digests match is
    # pruned BEFORE diff_sets runs (hashdiff_tables.py:210-212), so equal
    # duplicate multisets are never emitted. Same here: the bucket digest
    # (count, sum) matches → pruned.
    a = spark.createDataFrame([(1, "x"), (1, "x")], "id int, data string")
    b = spark.createDataFrame([(1, "x"), (1, "x")], "id int, data string")
    d = hash_diff(table_segment(a, ["id"]), table_segment(b, ["id"]))
    assert d.count() == 0
    # ...and inside a DIRTY bucket the per-key digests prune it too:
    # n_buckets=1 puts the equal-duplicate PK 1 in the one bucket with the
    # real diff on PK 2, and only PK 2 is emitted
    a = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "id int, data string")
    b = spark.createDataFrame([(1, "x"), (1, "x"), (2, "z")], "id int, data string")
    d = hash_diff(table_segment(a, ["id"]), table_segment(b, ["id"]), n_buckets=1)
    assert _sorted_rows(d) == sorted([("-", 2, "y"), ("+", 2, "z")])


def test_differing_column_names(spark):
    # reference test_diff_tables.py:306-348 — columns matched by position.
    a = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, rating double")
    b = spark.createDataFrame([(1, 10.0), (2, 21.0)], "id int, rating_new double")
    t1 = table_segment(a, ["id"], extra_columns=["rating"])
    t2 = table_segment(b, ["id"], extra_columns=["rating_new"])
    d = join_diff(t1, t2)
    got = _sorted_rows(d)
    assert got == sorted([("-", 2, 20.0), ("+", 2, 21.0)])
    assert d.columns == ["sign", "id", "rating"]


def test_cross_type_comparison(spark):
    # decimal vs double with same logical values → zero diff (FIXTURES F8).
    a = spark.createDataFrame([(1, 1.5), (2, 0.1)], "id int, v double")
    b = spark.sql("select * from values (1, 1.5BD), (2, 0.1BD) as t(id, v)") \
        .select("id", F.col("v").cast("decimal(10,2)").alias("v"))
    t1 = table_segment(a, ["id"], precision_overrides={"v": 2})
    t2 = table_segment(b, ["id"], precision_overrides={"v": 2})
    assert join_diff(t1, t2).count() == 0


def test_validate_unique_and_null_keys(spark):
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id int, v string")
    with pytest.raises(ValueError, match="duplicate"):
        check_duplicate_keys(table_segment(dup, ["id"]))
    withnull = spark.createDataFrame([(None, "a"), (2, "b")], "id int, v string")
    with pytest.raises(ValueError, match="NULL"):
        check_null_keys(table_segment(withnull, ["id"]))
    cleaned = check_null_keys(table_segment(withnull, ["id"]), skip=True)
    assert cleaned.count() == 1


def test_update_column_window(spark):
    # FIXTURES F2: min_update/max_update restriction.
    import datetime as dt

    rows = [
        (1, dt.datetime(2022, 1, 1), "a"),
        (2, dt.datetime(2022, 6, 1), "b"),
        (3, dt.datetime(2023, 1, 1), "c"),
    ]
    a = spark.createDataFrame(rows, "id int, updated timestamp, v string")
    b = spark.createDataFrame(rows[:-1], "id int, updated timestamp, v string")
    t1 = table_segment(a, ["id"], update_column="updated",
                       min_update=dt.datetime(2022, 3, 1))
    t2 = table_segment(b, ["id"], update_column="updated",
                       min_update=dt.datetime(2022, 3, 1))
    d = join_diff(t1, t2)
    got = _sorted_rows(d)
    assert got == [("-", 3, dt.datetime(2023, 1, 1), "c")]
    # min_update is inclusive, max_update exclusive
    at = dt.datetime(2022, 6, 1)
    assert table_segment(a, ["id"], update_column="updated", min_update=at).count() == 2
    assert table_segment(a, ["id"], update_column="updated", max_update=at).count() == 1


def test_key_range_restriction(spark):
    a = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id int, v string")
    t = table_segment(a, ["id"], min_key=(3,), max_key=(7,))
    assert t.count() == 4  # [3, 7)
    lo, hi = t.query_key_range()
    assert lo == (3,) and hi == (6,)


def test_per_column_diff_counts(spark):
    a = spark.createDataFrame([(1, "x", 1.0), (2, "y", 2.0)], "id int, s string, v double")
    b = spark.createDataFrame([(1, "x", 1.5), (2, "z", 2.0)], "id int, s string, v double")
    row = count_diff_per_column(table_segment(a, ["id"]), table_segment(b, ["id"])).collect()[0]
    assert row["diff_s"] == 1 and row["diff_v"] == 1
    assert row["exclusive_a"] == 0 and row["exclusive_b"] == 0


def test_hashdiff_dupkeys_matches_duckdb_oracle(spark, sf_dir):
    """hash_diff on the dup-key compound-key lineitem pair emits exactly
    the multiset of the workload's DuckDB digest oracle (an independent
    engine replaying the per-PK multiset rule)."""
    import duckdb

    from data_diff_spark.workload import _hashdiff_lineitem_oracle, _lineitem_segments

    t1, t2 = _lineitem_segments(spark, sf_dir)
    d = hash_diff(t1, t2, n_buckets=256)
    con = duckdb.connect()
    con.execute(f"create view lineitem as select * from read_parquet('{sf_dir}/lineitem.parquet')")
    want = con.execute(_hashdiff_lineitem_oracle()).fetchall()
    key = lambda r: tuple(str(v) for v in r)
    assert want
    assert sorted(map(key, d.collect())) == sorted(map(key, want))
    # the phase-2 key decision is a hash AGGREGATION (map-side partial agg,
    # no sort), never a window over the union
    assert "Window" not in d._jdf.queryExecution().executedPlan().toString()


def test_stats_dict(spark):
    a = make_ratings(spark, BASE)
    b = make_ratings(spark, BASE[1:] + [(4, 4, 4, 8.5)][:0] + [(9, 9, 9, 1.0)])
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]))
    s = r.get_stats_dict()
    assert s["rows_A"] == 4 and s["rows_B"] == 4
    assert s["exclusive_A"] == 1 and s["exclusive_B"] == 1
    assert s["updated"] == 0
    assert s["unchanged"] == 3
    r.unpersist()


def test_stats_dict_updated_pairs(spark):
    """A changed value is an update (a PK-matched -/+ pair), not two
    exclusives."""
    a = make_ratings(spark, BASE)
    changed = [BASE[0][:3] + (99.0,)] + BASE[1:]
    b = make_ratings(spark, changed)
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]))
    s = r.get_stats_dict()
    assert s["updated"] == 1
    assert s["exclusive_A"] == 0 and s["exclusive_B"] == 0
    assert s["total"] == 2
    r.unpersist()


def test_stats_dict_single_diff_aggregation(spark):
    """The stats path must run the diff plan ONCE: one fused aggregation
    job over the persisted diff + the two base-table counts (VERDICT r1:
    the old path recomputed the full outer join up to 4x)."""
    a = make_ratings(spark, BASE)
    b = make_ratings(spark, BASE[1:])
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]))
    sc = spark.sparkContext
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # 1 job per action
    sc.setJobGroup("stats-path", "stats job counting")
    try:
        r.get_stats_dict()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    ids = sc.statusTracker().getJobIdsForGroup("stats-path")
    assert 0 < len(ids) <= 3, f"stats ran {len(ids)} jobs"
    r.unpersist()


def _plan_nodes(plan):
    """Physical plan nodes, not descending into cached (InMemoryRelation)
    plans: what a job actually runs."""
    todo, seen = [plan], []
    while todo:
        node = todo.pop()
        seen.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return seen


def test_stats_cost_one_job_no_cache(spark, tmp_path, monkeypatch):
    """The stats are counts the diff already has: joindiff's are one job
    (a global aggregate over its join) and pin no cache; hashdiff's
    aggregate reads only its cached narrow frames, never the sources."""
    a = make_ratings(spark, BASE)
    b = make_ratings(spark, [(2, 2, 2, 1.0)] + BASE[2:] + [(9, 9, 9, 1.0)])
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # 1 job per action
    try:
        r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]))
        cached = len(jsc.getRDDStorageInfo())
        sc.setJobGroup("stats-cost", "stats job counting")
        try:
            s = r.get_stats_dict()
        finally:
            sc.setJobGroup(None, None)
        jsc.listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup("stats-cost")) == 1
        assert len(jsc.getRDDStorageInfo()) == cached
        level = r.df.storageLevel  # not even marked for a later read
        assert not (level.useMemory or level.useDisk)
        assert s["exclusive_A"] == 1 and s["exclusive_B"] == 1 and s["updated"] == 1

        pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
        a.write.parquet(pa)
        b.write.parquet(pb)
        r = diff_tables(table_segment(spark.read.parquet(pa), ["id"]),
                        table_segment(spark.read.parquet(pb), ["id"]), algorithm="hashdiff")
        plans = []
        frame_cls = type(r.df)
        collect = frame_cls.collect

        def recording(self):
            plans.append(self._jdf.queryExecution().executedPlan())
            return collect(self)

        monkeypatch.setattr(frame_cls, "collect", recording)
        assert r.get_stats_dict() == s
        monkeypatch.undo()
        assert len(plans) == 1
        scans = [n.getClass().getSimpleName() for n in _plan_nodes(plans[0])]
        assert "InMemoryTableScanExec" in scans
        assert not [n for n in scans if n in ("FileSourceScanExec", "BatchScanExec")], scans
        r.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_stats_without_diff_operator_raises(spark):
    from data_diff_spark.diff import DiffResult

    t = table_segment(make_ratings(spark, BASE), ["id"])
    with pytest.raises(ValueError, match="no diff stats"):
        DiffResult(t.df, t).get_stats_dict()


def test_stats_hashdiff_duplicate_and_null_keys(spark):
    """hashdiff stats count per key: every row of a differing key is
    emitted and min(rows in A, rows in B) of them pair up as updates;
    NULL keys group together."""
    schema = "id int, v string"
    a = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b"), (3, "c"), (3, "x"),
                               (4, "d"), (None, "n")], schema)
    b = spark.createDataFrame([(1, "a"), (2, "B"), (2, "b"), (3, "c"), (5, "e"),
                               (None, "n"), (None, "m")], schema)
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm="hashdiff")
    assert r.get_stats_dict() == {"rows_A": 7, "rows_B": 7, "exclusive_A": 3,
                                  "exclusive_B": 3, "updated": 4, "unchanged": 0,
                                  "total": 14}
    assert r.df.count() == 14
    r.unpersist()


def test_stats_joindiff_fanout_identity(spark):
    """Unvalidated duplicate keys: joindiff emits one pair per A row x B
    row of a key, and the stats count those same pairs, so rows_A ==
    exclusive_A + updated + unchanged and total == the diff's rows."""
    schema = "id int, v string"
    a = spark.createDataFrame([(1, "a"), (1, "b"), (2, "x")], schema)
    b = spark.createDataFrame([(1, "c"), (1, "d"), (2, "x")], schema)
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]))
    s = r.get_stats_dict()
    assert s == {"rows_A": 5, "rows_B": 5, "exclusive_A": 0, "exclusive_B": 0,
                 "updated": 4, "unchanged": 1, "total": 8}
    assert s["rows_A"] == s["exclusive_A"] + s["updated"] + s["unchanged"]
    assert r.df.count() == s["total"]
    # NULL keys never match under null_safe_keys=False: exclusives
    n = spark.createDataFrame([(None, "a"), (2, "x")], schema)
    r = diff_tables(table_segment(n, ["id"]), table_segment(n, ["id"]), null_safe_keys=False)
    assert r.get_stats_dict() == {"rows_A": 2, "rows_B": 2, "exclusive_A": 1,
                                  "exclusive_B": 1, "updated": 0, "unchanged": 1,
                                  "total": 2}


@pytest.mark.parametrize("algo", ALGOS)
def test_skip_null_keys_before_unique_validation(spark, algo):
    """skip_null_keys drops the NULL keys before validate_unique_key looks
    for duplicates, so repeated NULL keys do not raise."""
    schema = "id int, v string"
    a = spark.createDataFrame([(1, "a"), (2, "b"), (None, "n"), (None, "m")], schema)
    b = spark.createDataFrame([(1, "a"), (2, "B"), (None, "n")], schema)
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo,
                    validate_unique_key=True, skip_null_keys=True)
    assert r.get_stats_dict() == {"rows_A": 2, "rows_B": 2, "exclusive_A": 0,
                                  "exclusive_B": 0, "updated": 1, "unchanged": 1,
                                  "total": 2}
    r.unpersist()
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (None, "n")], schema)
    with pytest.raises(ValueError, match="duplicate"):
        diff_tables(table_segment(dup, ["id"]), table_segment(b, ["id"]), algorithm=algo,
                    validate_unique_key=True, skip_null_keys=True)


@pytest.mark.parametrize("algo", ALGOS)
@pytest.mark.parametrize("dup_side", ["A", "B"])
def test_duplicate_key_error_names_side(spark, algo, dup_side):
    schema = "id int, v string"
    clean = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    dup = spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], schema)
    a, b = (dup, clean) if dup_side == "A" else (clean, dup)
    with pytest.raises(ValueError, match=rf"duplicate key values found on side {dup_side} "
                                         r"\(\[Row\(id=2, count=2\)\]\)"):
        diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo,
                    validate_unique_key=True)


def test_apply_diff_roundtrip_both_algorithms(spark, sf_dir):
    """apply_diff(A, diff(A, B)) == B, for joindiff and hashdiff output."""
    from data_diff_spark import diff_tables, table_segment
    from data_diff_spark.diff import apply_diff
    from data_diff_spark.workload import MODIFIED_ORDERS_SQL, ORDERS_COLS, load_views

    load_views(spark, sf_dir)
    a = spark.table("orders").select(*ORDERS_COLS)
    b = spark.sql(MODIFIED_ORDERS_SQL)
    for algo in ("joindiff", "hashdiff"):
        t1 = table_segment(a, ["o_orderkey"], extra_columns=ORDERS_COLS[1:])
        t2 = table_segment(b, ["o_orderkey"], extra_columns=ORDERS_COLS[1:])
        d = diff_tables(t1, t2, algorithm=algo).df
        applied = apply_diff(a, d, ["o_orderkey"])
        assert applied.exceptAll(b).count() == 0
        assert b.exceptAll(applied).count() == 0


def test_fine_level_large_id_set_stays_jvm_side(spark, monkeypatch):
    """r12 sf10 finding: with a ~2% uniform diff rate the fine level's
    mismatched-bucket set reaches millions of ids, and the old
    collect() + createDataFrame ping-pong serialized them through py4j
    twice (flagged SUPERLINEAR at 60M rows/side). Large sets now
    broadcast-join the id FRAME JVM-side. Force every branch on a small
    corpus by shrinking the thresholds and pin identical output:
    literal-InSet path, broadcast-join path, plain-join path, and the
    fully-dirty skip."""
    from data_diff_spark.operators import hashdiff as H
    from data_diff_spark.table import table_segment

    a = spark.range(0, 4000).selectExpr("id", "cast(id * 7 as string) as data")
    b = spark.range(0, 4000).selectExpr(
        "id", "cast(id * 7 + cast(id % 50 = 3 as int) as string) as data")
    t1, t2 = table_segment(a, ["id"]), table_segment(b, ["id"])
    expect = _sorted_rows(hash_diff(t1, t2))  # default path (no fine level)
    assert len(expect) == 2 * 80  # 80 keys differ, both sides emitted

    monkeypatch.setattr(H, "_FINE_LEVEL_MIN_ROWS", 0)
    for isin_limit, bkeys_limit in (
        (8192, 2_000_000),  # small set: literal InSet probe
        (1, 2_000_000),     # large set: broadcast the id frame
        (1, 1),             # too big to broadcast: plain left-semi (AQE)
    ):
        monkeypatch.setattr(H, "_ISIN_LIMIT", isin_limit)
        monkeypatch.setattr(H, "_BROADCAST_KEYS_LIMIT", bkeys_limit)
        d = hash_diff(t1, t2)
        assert _sorted_rows(d) == expect, (isin_limit, bkeys_limit)
        for h in d._ddspark_persisted:
            h.unpersist(True)
    # fully-dirty fine set prunes nothing and is skipped: every row
    # differs, so with tiny buckets every fine bucket mismatches
    monkeypatch.setattr(H, "_ISIN_LIMIT", 1)
    monkeypatch.setattr(H, "_AUTO_ROWS_PER_BUCKET", 1 << 40)
    c = spark.range(0, 100).selectExpr("id", "cast(id + 1 as string) as data")
    d2 = hash_diff(table_segment(a.limit(100), ["id"]), table_segment(c, ["id"]))
    assert d2.count() == 200


def test_digest_kernel_shape_and_fine_level_branches(spark, monkeypatch):
    """The coarse, fine and per-key levels all run the one digest kernel,
    and each call compiles to ONE aggregation over the side-tagged union:
    one Exchange, a partial + final HashAggregate, no Join (per-side
    aggregates compared through a full outer join would show two
    Exchanges, four HashAggregates and a Join).

    The fine level only runs when its bucket count exceeds the coarse
    DEFAULT_N_BUCKETS, which a few thousand rows at the default rows-per-
    bucket target never reach; shrinking that target makes a 10k-row pair
    reach it. Output is pinned identical on every id-set branch: literal
    InSet, broadcast id frame, plain left-semi (the last two also restrict
    the coarse level through a driver-built id frame), and the fully-dirty
    skip."""
    from data_diff_spark.operators import hashdiff as H

    calls = []
    real = H._side_digests

    def spy(a, b, by):
        out = real(a, b, by)
        calls.append((list(by), out))
        return out

    def node_names(df):
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.initialPlan()
        names, todo = [], [plan]
        while todo:
            node = todo.pop()
            names.append(node.nodeName())
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return names

    levels = [[H._BUCKET], [H._BUCKET], [H._knorm(0)]]
    a = spark.range(0, 10000).selectExpr("id", "cast(id * 7 as string) as data")
    b = spark.range(0, 10000).selectExpr(
        "id", "cast(id * 7 + cast(id % 50 = 3 as int) as string) as data")
    t1, t2 = table_segment(a, ["id"]), table_segment(b, ["id"])
    expect = _sorted_rows(hash_diff(t1, t2))
    assert len(expect) == 2 * 200

    monkeypatch.setattr(H, "_side_digests", spy)
    monkeypatch.setattr(H, "_FINE_LEVEL_MIN_ROWS", 0)
    monkeypatch.setattr(H, "_AUTO_ROWS_PER_BUCKET", 1)
    for isin_limit, bkeys_limit, n_handles in (
        (8192, 2_000_000, 3),  # small set: literal InSet probe
        (1, 2_000_000, 4),     # large set: broadcast the id frame (kept cached)
        (1, 1, 4),             # too big to broadcast: plain left-semi (AQE)
    ):
        calls.clear()
        monkeypatch.setattr(H, "_ISIN_LIMIT", isin_limit)
        monkeypatch.setattr(H, "_BROADCAST_KEYS_LIMIT", bkeys_limit)
        d = hash_diff(t1, t2)
        assert _sorted_rows(d) == expect, (isin_limit, bkeys_limit)
        assert [by for by, _ in calls] == levels
        assert len(d._ddspark_persisted) == n_handles
        if isin_limit > 1:  # no restriction joins feed the kernel here
            for by, df in calls:
                names = node_names(df)
                assert names.count("Exchange") == 1, (by, names)
                assert names.count("HashAggregate") == 2, (by, names)
                assert not [n for n in names if "Join" in n or "Window" in n], (by, names)
        for h in d._ddspark_persisted:
            h.unpersist(True)
    # every row of a 100k pair differs and 100k/24 rows per bucket sizes
    # 8192 fine buckets (~12 rows each): every fine bucket mismatches, so
    # the id set prunes nothing and is released
    calls.clear()
    monkeypatch.setattr(H, "_AUTO_ROWS_PER_BUCKET", 24)
    a = spark.range(0, 100000).selectExpr("id", "cast(id as string) as data")
    c = spark.range(0, 100000).selectExpr("id", "cast(id + 1 as string) as data")
    d = hash_diff(table_segment(a, ["id"]), table_segment(c, ["id"]))
    assert d.count() == 200000
    assert [by for by, _ in calls] == levels
    assert len(d._ddspark_persisted) == 3


def test_checksum_sums_exact_past_long_overflow(spark):
    """2**17 copies of one row whose checksum c is >= 2**46 sum to >= 2**63:
    a single long sum overflows (and raises under ANSI), the two-halves sum
    does not. Side B adds one differing row, the only row emitted."""
    from tests.test_checksum import str_to_checksum as checksum

    s = next(f"overflow-{i}" for i in range(1000) if checksum(f"overflow-{i}") >= 1 << 46)
    n = 1 << 17
    assert n * checksum(s) >= 1 << 63
    a = spark.range(n).select(F.lit(s).alias("s"))
    b = a.unionAll(spark.createDataFrame([("extra",)], "s string"))
    t1, t2 = table_segment(a, ["s"]), table_segment(b, ["s"])
    assert t1.count_and_checksum() == (n, n * checksum(s))
    d = hash_diff(t1, t2)
    assert _sorted_rows(d) == [("+", "extra")]
    for h in d._ddspark_persisted:
        h.unpersist(True)


def test_pair_checksum_sums_exact_past_long_overflow(spark):
    """The same for hash_diff's own row checksum: 2**17 copies per side of
    a row whose cached __cks__ is >= 2**46 in magnitude, plus one extra
    row on side B. Only the extra row is emitted, and the stats are exact."""
    from data_diff_spark.operators import hashdiff as H

    words = spark.createDataFrame([(f"overflow-{i}",) for i in range(64)], "s string")
    probe = hash_diff(table_segment(words, ["s"]), table_segment(words, ["s"]))
    cks = sorted(tuple(r) for r in probe._ddspark_persisted[0].select(H._knorm(0), H._CKS).collect())
    for h in probe._ddspark_persisted:
        h.unpersist(True)
    s, c = next((w, c) for w, c in cks if abs(c) >= 1 << 46)
    n = 1 << 17
    assert n * abs(c) >= 1 << 63
    a = spark.range(n).select(F.lit(s).alias("s"))
    b = spark.range(n).select(F.lit(s).alias("s")).unionAll(
        spark.createDataFrame([("extra",)], "s string"))
    r = diff_tables(table_segment(a, ["s"]), table_segment(b, ["s"]), algorithm="hashdiff")
    assert r.df._ddspark_persisted[0].select(H._CKS).distinct().collect() == [(c,)]
    assert _sorted_rows(r.df) == [("+", "extra")]
    assert r.get_stats_dict() == {"rows_A": n, "rows_B": n + 1, "exclusive_A": 0,
                                  "exclusive_B": 1, "updated": 0, "unchanged": n,
                                  "total": 1}
    r.unpersist()


def test_hashdiff_cache_and_digests_hold_no_decimal(spark, monkeypatch):
    """hash_diff caches (__cks__ long, __knorm0__ ...) and no key hash, and
    no plan node of its cached relations or digest aggregates carries a
    decimal: one 8-byte checksum per row, summed as longs."""
    from pyspark.sql import types as T

    from data_diff_spark.operators import hashdiff as H

    digests = []
    real = H._side_digests

    def spy(a, b, by):
        out = real(a, b, by)
        digests.append(out)
        return out

    def plan_types(df):
        types, todo = set(), [df._jdf.queryExecution().optimizedPlan()]
        while todo:
            node = todo.pop()
            exprs = [node.expressions().apply(i) for i in range(node.expressions().size())]
            exprs += [node.output().apply(i) for i in range(node.output().size())]
            while exprs:
                e = exprs.pop()
                types.add(e.dataType().simpleString())
                exprs.extend(e.children().apply(i) for i in range(e.children().size()))
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return types

    monkeypatch.setattr(H, "_side_digests", spy)
    a = spark.range(0, 2000).selectExpr("id", "cast(id * 3 as string) as data")
    b = spark.range(0, 2000).selectExpr("id", "cast(id * 3 + cast(id = 7 as int) as string) as data")
    d = hash_diff(table_segment(a, ["id"]), table_segment(b, ["id"]))
    assert _sorted_rows(d) == [("+", 7, "22"), ("-", 7, "21")]
    cached = d._ddspark_persisted[:2]
    for c in cached:
        assert c.columns == [H._CKS, H._knorm(0)]
        assert c.schema[H._CKS].dataType == T.LongType()
    assert len(digests) == 2  # coarse level and per key
    for df in cached + digests:
        assert not [t for t in plan_types(df) if t.startswith("decimal")], df.columns
    for h in d._ddspark_persisted:
        h.unpersist(True)


def test_canonical_strings_by_cast_up_to_scale_6(spark):
    """Decimals at scale <= 6, doubles and dates reach count_and_checksum's
    aggregate as plain casts: no format_number, no date_format. A
    decimal(38,10) column still renders through format_number there, so
    both normalize_number branches run here. hash_diff's cached relations
    hash same-typed decimals and dates raw: neither recipe, wide or not."""
    from data_diff_spark.normalize import checksum_sum

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    a = spark.range(0, 400).selectExpr(
        "id", "cast(id / 3 as decimal(12,2)) as price", "id / 7D as ratio",
        "date_add(date'2020-01-01', cast(id as int)) as day",
        "cast(id / 9 as decimal(38,10)) as wide")
    b = a.withColumn("price", F.when(F.col("id") == 7, F.lit(1).cast("decimal(12,2)"))
                     .otherwise(F.col("price")))
    for cols, wide in ((["price", "ratio", "day"], False), (["price", "ratio", "day", "wide"], True)):
        t1, t2 = (table_segment(x, ["id"], extra_columns=cols) for x in (a, b))
        d = hash_diff(t1, t2)
        assert sorted(r[1] for r in d.collect()) == [7, 7]
        agg = t1.make_select().agg(*checksum_sum(t1.checksum_column()))  # count_and_checksum's
        assert t1.count_and_checksum()[0] == 400
        for df in d._ddspark_persisted[:2]:
            assert "date_format(" not in plan(df) and "format_number(" not in plan(df)
        assert "date_format(" not in plan(agg)
        assert ("format_number(" in plan(agg)) == wide
        for h in d._ddspark_persisted:
            h.unpersist(True)


def _by_repr(rows):
    return sorted((tuple(r) for r in rows), key=repr)


_NULL_KEY_CASES = [
    # a NULL string key and a literal '<null>' string key are two keys
    ("string", [(None, "x")], [("<null>", "x")], [("-", None, "x"), ("+", "<null>", "x")]),
    # an int NULL key on both sides whose row changed: both signs
    ("int", [(None, "x"), (1, "a")], [(None, "y"), (1, "a")], [("-", None, "x"), ("+", None, "y")]),
    # an int NULL key on both sides with equal rows: nothing
    ("int", [(None, "x"), (1, "a")], [(None, "x"), (1, "b")], [("-", 1, "a"), ("+", 1, "b")]),
    # duplicate NULL keys: every row of the key whose row multiset differs
    ("int", [(None, "x"), (None, "x")], [(None, "x")],
     [("-", None, "x"), ("-", None, "x"), ("+", None, "x")]),
    ("int", [(None, "x"), (None, "x"), (2, "c")], [(None, "x"), (None, "x"), (2, "d")],
     [("-", 2, "c"), ("+", 2, "d")]),
]


# Every case at the default bucketing and at n_buckets=1, where all keys
# share one bucket: the NULL vs '<null>' string keys enter the row checksum
# raw, with a NULL flag, so even one bucket for both sees them differ. (The
# string case's n_buckets=1 run comes last so the other ids keep their
# indices.)
@pytest.mark.parametrize("key_type,rows_a,rows_b,expect,n_buckets", [
    (*c, n) for c in _NULL_KEY_CASES for n in (None, 1) if n is None or c[0] == "int"
] + [(*_NULL_KEY_CASES[0], 1)])
def test_hashdiff_null_keys_match_joindiff(spark, key_type, rows_a, rows_b, expect, n_buckets):
    """NULL keys give hash_diff's answer on every path: the same rows as
    join_diff on unique keys, and the key's whole row multiset on
    duplicate keys (join_diff pairs duplicates instead). A NULL string key
    is not the literal string '<null>'."""
    schema = f"k {key_type}, v string"
    t1 = table_segment(spark.createDataFrame(rows_a, schema), ["k"])
    t2 = table_segment(spark.createDataFrame(rows_b, schema), ["k"])
    d = hash_diff(t1, t2, n_buckets=n_buckets)
    assert _by_repr(d.collect()) == _by_repr(expect)
    if len({r[0] for r in rows_a}) == len(rows_a) and len({r[0] for r in rows_b}) == len(rows_b):
        assert _by_repr(join_diff(t1, t2).collect()) == _by_repr(expect)
    for h in d._ddspark_persisted:
        h.unpersist(True)


@pytest.mark.parametrize("n_buckets", [None, 1])
@pytest.mark.parametrize("rows_a,rows_b", [
    # a NULL value and a literal '<null>' value: one reference fingerprint
    ([(1, None, "x"), (2, "a", "b")], [(1, "<null>", "x"), (2, "a", "b")]),
    # NULL moves to the other column: xxhash64 alone skips NULLs
    ([(1, "x", None), (2, "a", "b")], [(1, None, "x"), (2, "a", "b")]),
], ids=["null_vs_literal", "null_swapped"])
def test_hashdiff_null_values_match_joindiff(spark, rows_a, rows_b, n_buckets):
    """A NULL value is not the string '<null>', and (x, NULL) is not
    (NULL, x): hash_diff emits join_diff's rows at any bucketing."""
    schema = "k int, v string, w string"
    t1, t2 = (table_segment(spark.createDataFrame(r, schema), ["k"]) for r in (rows_a, rows_b))
    d = hash_diff(t1, t2, n_buckets=n_buckets)
    got = _by_repr(d.collect())
    assert got == _by_repr(join_diff(t1, t2).collect())
    assert [r[:2] for r in got] == [("+", 1), ("-", 1)]
    for h in d._ddspark_persisted:
        h.unpersist(True)


@pytest.mark.parametrize("case", ["bigint", "int_vs_bigint", "double", "uuid", "unified_ts", "decimal"])
def test_hashdiff_key_form_per_pair(spark, case):
    """hash_diff caches a key pair raw only when both sides hold it in one
    exact type with no override, as bigint when both are integers of
    different widths; every other pair caches the canonical string. Each
    form gives join_diff's rows on unique keys, and the raw and bigint
    forms' emission (cached relations aside) renders no '<null>'."""
    from pyspark.sql import types as T

    from data_diff_spark.operators import hashdiff as H
    from data_diff_spark.unify import unify_precisions

    # nullif: nullable keys, so a string form keeps its '<null>' coalesce
    base = spark.range(0, 300).selectExpr("nullif(id, -1) as id").selectExpr(
        "id", "cast(id * 3 as string) as v",
        "nullif(concat(' ', uuid()), '') as u",
        "timestamp_seconds(id * 3600) + make_interval(0, 0, 0, 0, 0, 0, 0.25) as ts")
    base = base.selectExpr("*", "cast(id as int) as id32", "id / 4D as dbl",
                           "cast(id + 0.0045 as decimal(10,4)) as d4",
                           "cast(id as decimal(10,2)) as d2").localCheckpoint()
    changed = base.withColumn("v", F.when(F.col("id") % 40 == 7, F.lit("new")).otherwise(F.col("v")))
    changed = changed.filter("id != 11").unionByName(
        base.filter("id = 0").selectExpr("id + 1000 as id", "v", "concat(u, 'z') as u",
                                         "ts + make_interval(1) as ts", "id32 + 1000 as id32",
                                         "dbl + 1000 as dbl", "cast(d4 + 1000 as decimal(10,4)) as d4",
                                         "cast(d2 + 1000 as decimal(10,2)) as d2"))
    key_a, key_b, form = {
        "bigint": ("id", "id", T.LongType()),
        "int_vs_bigint": ("id32", "id", T.LongType()),
        "double": ("dbl", "dbl", T.DoubleType()),
        "uuid": ("u", "u", T.StringType()),
        "unified_ts": ("ts", "ts", T.StringType()),
        # decimal(10,4) id.0045 against decimal(10,2) id.00: equal at the unified scale 2
        "decimal": ("d4", "d2", T.StringType()),
    }[case]
    t1 = table_segment(base, [key_a], extra_columns=["v"])
    t2 = table_segment(changed, [key_b], extra_columns=["v"])
    if case == "uuid":
        t1, t2 = (t.with_(kind_overrides={"u": "uuid"}) for t in (t1, t2))
    if case == "unified_ts":
        t1, t2 = unify_precisions(t1.with_(precision_overrides={"ts": 3}), t2)
        assert t2.precision_overrides == {"ts": 3}
    if case == "decimal":
        t1, t2 = unify_precisions(t1, t2)
        assert tuple(count_diff_per_column(t1, t2).collect()[0]) == (301, 1, 1, 10)
    d = hash_diff(t1, t2)
    assert d._ddspark_persisted[0].schema[H._knorm(0)].dataType == form
    got = _by_repr(d.collect())
    assert got == _by_repr(join_diff(t1, t2).collect())
    assert len(got) == 2 * 8 + 2
    if case == "decimal":
        _assert_one_bucket_rows(t1, t2, got)

    exprs, todo = [], [d._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "InMemoryRelation":
            continue
        exprs += [node.expressions().apply(i).toString() for i in range(node.expressions().size())]
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    assert any("<null>" in e for e in exprs) == (form == T.StringType())
    for h in d._ddspark_persisted:
        h.unpersist(True)


def _assert_one_bucket_rows(t1, t2, rows):
    """hash_diff with every key in one bucket gives `rows` too."""
    d = hash_diff(t1, t2, n_buckets=1)
    assert _by_repr(d.collect()) == rows
    for h in d._ddspark_persisted:
        h.unpersist(True)


@pytest.mark.parametrize("case", ["date_vs_timestamp", "int_vs_string"])
def test_cross_family_keys_compare_canonical(spark, case):
    """A key pair of two type families compares canonical strings in both
    operators: a date is not its midnight timestamp, and the int 1 is not
    the string '01' (while 10 is '10'). hash_diff at either bucketing
    gives join_diff's rows."""
    base = spark.range(0, 20).selectExpr(
        "cast(id as int) as i", "lpad(cast(id as string), 2, '0') as s",
        "date_add(date'2020-01-01', cast(id as int)) as day", "cast(id * 3 as string) as v")
    base = base.selectExpr("*", "cast(day as timestamp) as ts").localCheckpoint()
    key_a, key_b, n = {"date_vs_timestamp": ("day", "ts", 40), "int_vs_string": ("i", "s", 20)}[case]
    t1 = table_segment(base, [key_a], extra_columns=["v"])
    t2 = table_segment(base, [key_b], extra_columns=["v"])
    want = _by_repr(join_diff(t1, t2).collect())
    assert len(want) == n
    d = hash_diff(t1, t2)
    assert _by_repr(d.collect()) == want
    for h in d._ddspark_persisted:
        h.unpersist(True)
    _assert_one_bucket_rows(t1, t2, want)


def _hash_inputs(df):
    """(node name, type) of each xxhash64 argument in df's cached plan."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "InMemoryRelation":
            todo.append(node.cachedPlan())
            continue
        exprs = [node.expressions().apply(i) for i in range(node.expressions().size())]
        while exprs:
            e = exprs.pop()
            kids = [e.children().apply(i) for i in range(e.children().size())]
            if e.prettyName() == "xxhash64":
                return [(k.nodeName(), k.dataType().simpleString()) for k in kids]
            exprs.extend(kids)
        todo.extend(node.children().apply(i) for i in range(node.children().size()))
    return []


def _subexpressions(e):
    out, todo = [], [e]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(x.children().apply(i) for i in range(x.children().size()))
    return out


def _join_comparisons(df):
    """(join condition, {flag name: its expression}) in df's optimized plan."""
    cond, flags, todo = None, {}, [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        for e in (node.expressions().apply(i) for i in range(node.expressions().size())):
            if node.nodeName() == "Join":
                cond = e
            elif e.nodeName() == "Alias" and e.name().startswith("__diff_"):
                flags[e.name()] = e.child()
        todo.extend(node.children().apply(i) for i in range(node.children().size()))
    return cond, flags


def test_joindiff_compares_same_typed_columns_bare(spark):
    """join_diff's plan on the orders shape of its benchmark (bigint key;
    int, decimal, date and string values, both sides one type, no
    override): the join condition and every __diff_ flag compare bare
    attributes, no cast, to_json or '<null>'. An int against a bigint key
    joins on cast(... as bigint), never on strings."""
    from data_diff_spark.operators.joindiff import joined_frame

    orders = spark.range(0, 10).selectExpr(
        "id as o_orderkey", "cast(id as int) as o_custkey",
        "cast(id / 3 as decimal(12,2)) as o_totalprice",
        "date_add(date'1995-01-01', cast(id as int)) as o_orderdate", "cast(id as string) as o_comment")
    t = table_segment(orders, ["o_orderkey"], extra_columns=orders.columns[1:])
    cond, flags = _join_comparisons(joined_frame(t, t)[0])
    assert sorted(flags) == [f"__diff_{c}" for c in sorted(orders.columns[1:])]
    for e, allowed in [(cond, {"EqualNullSafe", "AttributeReference"})] + [
            (f, {"Not", "EqualNullSafe", "AttributeReference"}) for f in flags.values()]:
        assert {x.nodeName() for x in _subexpressions(e)} == allowed, e.toString()

    t1 = table_segment(orders.selectExpr("o_custkey as k", "o_comment"), ["k"])
    t2 = table_segment(orders.selectExpr("o_orderkey as k", "o_comment"), ["k"])
    cond, _ = _join_comparisons(joined_frame(t1, t2)[0])
    subs = _subexpressions(cond)
    assert [x.dataType().simpleString() for x in subs if x.nodeName() == "Cast"] == ["bigint"]
    assert "string" not in {x.dataType().simpleString() for x in subs}, cond.toString()


@pytest.mark.parametrize("case", ["exact", "double", "int_vs_bigint", "uuid", "map", "array_double"])
def test_hashdiff_checksum_form_per_pair(spark, case):
    """hash_diff's row checksum is xxhash64 over each column raw when both
    sides hold it in one exact type with no override (a same-typed double
    too), as bigint across integer widths, else over its canonical string
    (a map or array too): no md5, no fingerprint, no rendering recipe for
    the exact columns. Each form gives join_diff's rows on unique keys."""
    exact = ["s", "price", "day", "ts", "flag", "bin"]
    base = spark.range(0, 300).selectExpr(
        "id", "cast(id * 3 as string) as s", "cast(id / 3 as decimal(12,2)) as price",
        "date_add(date'2020-01-01', cast(id as int)) as day", "timestamp_seconds(id * 3600) as ts",
        "id % 2 = 0 as flag", "cast(cast(id as string) as binary) as bin", "id / 4D as dbl",
        "cast(id as int) as id32", "concat(' ', uuid()) as u", "map('k', cast(id as int)) as m",
        "array(id * 0D) as arr").localCheckpoint()
    extra = {"exact": None, "double": "dbl", "int_vs_bigint": "id32", "uuid": "u",
             "map": "m", "array_double": "arr"}[case]
    changed = base.withColumn("s", F.when(F.col("id") % 40 == 7, F.lit("new")).otherwise(F.col("s")))
    if extra:
        changed = changed.withColumn(extra, {
            "dbl": F.when(F.col("id") == 11, F.col("dbl") + 1).otherwise(F.col("dbl")),
            "id32": F.col("id32").cast("bigint") + (F.col("id") == 11).cast("bigint"),
            # a trimmed uuid is the same uuid: only id 11 differs
            "u": F.when(F.col("id") == 11, F.concat("u", F.lit("z")))
                  .otherwise(F.when(F.col("id") == 12, F.trim("u")).otherwise(F.col("u"))),
            "m": F.when(F.col("id") == 11, F.create_map(F.lit("k"), F.lit(-1))).otherwise(F.col("m")),
            # [0.0] and [-0.0]: their JSON differs
            "arr": F.when(F.col("id") == 11, F.array(F.lit(-0.0))).otherwise(F.col("arr")),
        }[extra])
    cols = exact + ([extra] if extra else [])
    t1, t2 = (table_segment(x, ["id"], extra_columns=cols) for x in (base, changed.localCheckpoint()))
    if case == "uuid":
        t1, t2 = (t.with_(kind_overrides={"u": "uuid"}) for t in (t1, t2))
    d = hash_diff(t1, t2)
    got = _by_repr(d.collect())
    assert got == _by_repr(join_diff(t1, t2).collect())
    assert len(got) == 2 * 8 + (2 if extra else 0)
    if case in ("map", "array_double"):
        _assert_one_bucket_rows(t1, t2, got)
    for df in d._ddspark_persisted[:2]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64(" in plan
        assert not [f for f in ("md5(", "concat_ws(", "format_number(", "date_format(") if f in plan]
        values = _hash_inputs(df)[::2]  # each column's value, then its NULL flag
        assert len(values) == 1 + len(cols)
        for c, (node, typ) in zip(["id"] + cols, values):
            raw = ("AttributeReference", base.schema[c].dataType.simpleString())
            if c == extra and c != "dbl":
                assert (node, typ) != raw and typ == ("bigint" if c == "id32" else "string"), (c, node, typ)
            else:
                assert (node, typ) == raw, c
    for h in d._ddspark_persisted:
        h.unpersist(True)


@pytest.mark.parametrize("n_buckets", [None, 1])
@pytest.mark.parametrize("a,b", [
    (0.1234567, 0.1234568),  # equal at the canonical string's 6 digits
    (0.0, -0.0),
    (float("nan"), float("nan")),
], ids=["seventh_digit", "signed_zero", "nan"])
def test_hashdiff_same_typed_doubles_compare_raw(spark, a, b, n_buckets):
    """Same-typed doubles compare raw, as join_diff compares them, both as
    a value and as a key: a 7th-digit change differs, while 0.0 and -0.0,
    and NaN and NaN, are equal."""
    schema = "k double, v double"
    rows = lambda x: [(1.0, x), (x, 1.0)]  # x as a value, then as a key
    t1, t2 = (table_segment(spark.createDataFrame(rows(x), schema), ["k"], extra_columns=["v"])
              for x in (a, b))
    d = hash_diff(t1, t2, n_buckets=n_buckets)
    got = _by_repr(d.collect())
    assert got == _by_repr(join_diff(t1, t2).collect())
    assert len(got) == (4 if a == 0.1234567 else 0)
    for h in d._ddspark_persisted:
        h.unpersist(True)


def test_hashdiff_remote_keeps_reference_checksum(spark):
    """The cross-engine diff's Spark side keeps the reference checksum,
    md5 over the row fingerprint, which the remote engine computes too.
    Its rows are join_diff's on unique keys."""
    import duckdb

    from data_diff_spark.operators.remote import DuckDBSide, hash_diff_remote

    rows = [(i, None if i % 5 == 0 else f"v{i}") for i in range(40)]
    con = duckdb.connect()
    con.execute("create table t (id bigint, v varchar)")
    con.executemany("insert into t values (?, ?)", [(i, "w" if i == 3 else v) for i, v in rows if i != 7])
    t1 = table_segment(spark.createDataFrame(rows, "id bigint, v string"), ["id"])
    t2 = table_segment(spark.createDataFrame(con.execute("select * from t").fetch_arrow_table()), ["id"])
    d = hash_diff_remote(t1, DuckDBSide("t", ["id"], ["id", "v"], con=con), n_buckets=8)
    assert "md5(" in d._ddspark_persisted[0]._jdf.queryExecution().optimizedPlan().toString()
    got = _by_repr(d.collect())
    assert got == _by_repr(join_diff(t1, t2).collect())
    assert [r[:2] for r in got] == [("+", 3), ("-", 3), ("-", 7)]
    for h in d._ddspark_persisted:
        h.unpersist(True)
    con.close()
