"""The cross-engine diff runs hash_diff with a RemotePair: ONE remote digest
level at ~16 rows a bucket (at most remote._MAX_BUCKETS), then one row
fetch, and phase 2 over the rows of the dirty buckets only. A JdbcSide
whose reader routes the generated SQL into DuckDB captures every remote
query."""

import re

import duckdb
import pytest

from data_diff_spark import diff_tables, table_segment
from data_diff_spark.diff import DiffResult
from data_diff_spark.operators import hashdiff as H
from data_diff_spark.operators import remote as R
from data_diff_spark.operators.remote import DuckDBDialect, JdbcSide, hash_diff_remote

N = 70_000  # 70k rows: one level of 8192 buckets
BASE = f"select range as id, cast(range * 7 as varchar) as v from range({N})"


@pytest.fixture(scope="module")
def pair(spark):
    """(Spark segment, DuckDB connection holding `same` and `changed`,
    the local hash_diff of the Spark segment against `changed`):
    `changed` drops the keys id % 100 = 1 and rewrites v where id % 100 = 2,
    1400 differing keys."""
    con = duckdb.connect()
    con.execute(f"create table same as {BASE}")
    con.execute(f"""create table changed as
      select id, case when id % 100 = 2 then v || 'x' else v end as v
      from same where id % 100 <> 1""")
    df = spark.range(0, N).selectExpr("id", "cast(id * 7 as string) as v")
    t1 = table_segment(df, ["id"], extra_columns=["v"])
    t2 = table_segment(spark.createDataFrame(
        con.execute("select * from changed").fetch_arrow_table()), ["id"], extra_columns=["v"])
    local = diff_tables(t1, t2, algorithm="hashdiff")
    want = sorted(map(tuple, local.df.collect()))
    assert len(want) == 2 * 700 + 700
    yield t1, t2, con, want
    local.unpersist()


def _side(spark, con, relation, captured):
    def read(sql):
        captured.append(sql)
        return spark.createDataFrame(con.execute(sql).fetch_df())
    types = {r[0]: r[1] for r in con.execute(f"describe select * from {relation}").fetchall()}
    return JdbcSide(spark, "jdbc:duckdb://mem", relation, ["id"], ["id", "v"], types,
                    dialect=DuckDBDialect(), reader=read)


def _release(d):
    for h in d._ddspark_persisted:
        h.unpersist(True)


def test_zero_diff_one_digest_query(spark, pair):
    t1, _, con, _ = pair
    captured = []
    d = hash_diff_remote(t1, _side(spark, con, "same", captured))
    assert d.count() == 0
    assert len(captured) == 1 and "% 8192)" in captured[0] and " where " not in captured[0]
    assert len(con.execute(captured[0]).fetchall()) <= 8192
    _release(d)


def test_dirty_pair_one_level_then_fetch(spark, pair):
    t1, t2, con, want = pair
    captured = []
    d = hash_diff_remote(t1, _side(spark, con, "changed", captured))
    assert sorted(map(tuple, d.collect())) == want
    # one digest, then the dirty buckets' rows by an IN list
    assert len(captured) == 2, captured
    assert "group by" in captured[0] and " where " in captured[1]
    joined = diff_tables(t1, t2, algorithm="joindiff")
    assert DiffResult(d, t1).get_stats_dict() == joined.get_stats_dict()
    joined.unpersist()
    _release(d)


def test_fetch_all_still_restricts_phase2(spark, pair, monkeypatch):
    """One fixed level of 4096 buckets: more than a quarter are dirty, so
    the remote ships every row, and both sides are restricted to the
    dirty buckets before phase 2."""
    t1, _, con, want = pair
    phase2 = []
    real = H._side_digests

    def spy(a, b, by):
        phase2.append((a, b))
        return real(a, b, by)

    monkeypatch.setattr(H, "_side_digests", spy)
    captured = []
    d = hash_diff_remote(t1, _side(spark, con, "changed", captured), n_buckets=4096)
    assert sorted(map(tuple, d.collect())) == want
    assert len(captured) == 2 and " where " not in captured[1]
    a_bad, b_bad = phase2[-1]
    fetched = d._ddspark_persisted[1].count()
    assert 0 < a_bad.count() < N // 2 and 0 < b_bad.count() < fetched // 2
    _release(d)


def test_level_and_in_list_stay_bounded(spark, pair, monkeypatch):
    """The one level never exceeds _MAX_BUCKETS, and the fetch's IN list
    names at most max(1024, buckets // 4) ids."""
    t1, _, con, want = pair
    monkeypatch.setattr(R, "_MAX_BUCKETS", 2048)
    captured = []
    d = hash_diff_remote(t1, _side(spark, con, "changed", captured))
    assert sorted(map(tuple, d.collect())) == want
    assert len(captured) == 2 and "% 2048)" in captured[0]
    assert len(con.execute(captured[0]).fetchall()) <= 2048
    where = re.search(r" where .* in \(([^)]*)\)$", captured[1])
    assert where is None or len(where.group(1).split(",")) <= 1024
    _release(d)


def test_second_side_must_be_a_segment_or_remote(spark, pair):
    with pytest.raises(TypeError, match="RemoteSide"):
        H.hash_diff(pair[0], object())
