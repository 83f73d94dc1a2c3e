"""query_table keeps a warehouse SELECT's answer and serves it again
while every table the SELECT reads is at the same Iceberg metadata
file: a repeat runs no Spark job and returns the same bytes. Every
commit to a table it reads (DML, metadata-only DDL, a drop and
re-create, snapshot expiry) must give a fresh answer; answers that
could differ over unchanged tables are never kept; the store stays
within its byte bound."""

from __future__ import annotations

import itertools
import json
import os

import pytest

from mcp_iceberg_duckdb_spark import server
from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SELECT = "SELECT k, v FROM lake.t ORDER BY k"


def _body(result) -> str:
    assert not result.is_error, result.text
    head, body = result.text.split("\n", 1)
    assert head.startswith("Query execution time: ")
    return body


_groups = itertools.count()


def _call(spark, query: str):
    """(result, number of Spark jobs) of one query_table call."""
    sc = spark.sparkContext
    group = f"reuse-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        res = server.query_table(spark, query)
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def answers(monkeypatch):
    """A fresh, empty store for the test."""
    store = server._Answers(server.MAX_STORED_BYTES)
    monkeypatch.setattr(server, "_ANSWERS", store)
    return store


@pytest.fixture
def lake(spark, tmp_path, monkeypatch, answers):
    wh = tmp_path / "wh"
    monkeypatch.setenv("SPARK_GRAFT_FS_WAREHOUSE", str(wh))
    for q in (
        "CREATE NAMESPACE lake",
        "CREATE TABLE lake.t (k bigint, v string)",
        "INSERT INTO lake.t VALUES (1, 'a'), (2, 'b')",
    ):
        _body(server.query_table(spark, q))
    return wh


def _rows(spark, query: str = SELECT) -> list:
    return json.loads(_body(server.query_table(spark, query)))


def test_repeat_runs_no_spark_job_and_returns_the_same_body(spark, lake, answers):
    first, jobs1 = _call(spark, SELECT)
    second, jobs2 = _call(spark, SELECT)
    assert jobs1 > 0 and jobs2 == 0
    assert _body(second) == _body(first)
    assert json.loads(_body(second)) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    assert len(answers._bodies) == 1


@pytest.mark.parametrize("change, want", [
    ("INSERT INTO lake.t VALUES (3, 'c')",
     [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}]),
    ("UPDATE lake.t SET v = 'z' WHERE k = 2",
     [{"k": 1, "v": "a"}, {"k": 2, "v": "z"}]),
    ("DELETE FROM lake.t WHERE k = 1", [{"k": 2, "v": "b"}]),
    ("MERGE INTO lake.t x USING (SELECT 2 AS k, 'm' AS v UNION ALL "
     "SELECT 4 AS k, 'n' AS v) s ON x.k = s.k "
     "WHEN MATCHED THEN UPDATE SET x.v = s.v WHEN NOT MATCHED THEN INSERT *",
     [{"k": 1, "v": "a"}, {"k": 2, "v": "m"}, {"k": 4, "v": "n"}]),
])
def test_dml_gives_a_fresh_answer(spark, lake, change, want):
    assert _rows(spark) == _rows(spark) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    _body(server.query_table(spark, change))
    assert _rows(spark) == want


def test_metadata_only_add_columns_shows_the_new_column(spark, lake):
    star = "SELECT * FROM lake.t ORDER BY k"
    assert _rows(spark, star) == _rows(spark, star) == [
        {"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    _body(server.query_table(spark, "ALTER TABLE lake.t ADD COLUMNS (w int)"))
    assert _rows(spark, star) == [
        {"k": 1, "v": "a", "w": None}, {"k": 2, "v": "b", "w": None}]


def test_drop_and_recreate_gives_a_fresh_answer(spark, lake):
    assert _rows(spark) == _rows(spark) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    for q in (
        "DROP TABLE lake.t",
        "CREATE TABLE lake.t (k bigint, v string)",
        "INSERT INTO lake.t VALUES (7, 'q'), (8, 'r')",
    ):
        _body(server.query_table(spark, q))
    assert _rows(spark) == [{"k": 7, "v": "q"}, {"k": 8, "v": "r"}]


def test_expired_snapshot_is_not_served_from_the_store(spark, lake):
    snap = ice.read_table_meta(str(lake / "lake" / "t"))["current-snapshot-id"]
    travel = f"SELECT k, v FROM lake.t VERSION AS OF {snap} ORDER BY k"
    assert _rows(spark, travel) == _rows(spark, travel) == [
        {"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    _body(server.query_table(spark, "INSERT INTO lake.t VALUES (3, 'c')"))
    _body(server.query_table(spark, "EXPIRE SNAPSHOTS IN lake.t KEEP 1"))
    res = server.query_table(spark, travel)
    assert res.is_error, res.text


@pytest.fixture
def reuse_udf_and_view(spark):
    spark.udf.register("reuse_plus_one", lambda x: x + 1, "bigint")
    # a SQL function can be redefined under the same name
    spark.sql("CREATE TEMPORARY FUNCTION reuse_sql_f(x BIGINT) "
              "RETURNS BIGINT RETURN x + 1")
    spark.range(3).createOrReplaceTempView("reuse_tv")
    yield
    spark.catalog.dropTempView("reuse_tv")
    spark.sql("DROP TEMPORARY FUNCTION reuse_sql_f")


@pytest.mark.parametrize("query", [
    "SELECT k, rand() AS r FROM lake.t",
    "SELECT k, uuid() AS u FROM lake.t",
    "SELECT k, current_timestamp() AS ts FROM lake.t",
    "SELECT k, (SELECT current_date()) AS d FROM lake.t",
    "SELECT reuse_plus_one(k) AS k1 FROM lake.t",
    "SELECT reuse_sql_f(k) AS k1 FROM lake.t",
    f"SELECT count(*) AS n FROM parquet.`{SF_DIR}/region.parquet`",
    "SELECT count(*) AS n FROM lake.t JOIN reuse_tv ON k = id",
    "SELECT nope FROM lake.t",
])
def test_never_stored(spark, lake, answers, reuse_udf_and_view, query):
    for _ in range(2):
        res = server.query_table(spark, query)
        assert res.is_error == ("nope" in query), res.text
        assert len(answers._bodies) == 0 and answers.bytes == 0


def test_not_stored_when_a_table_moved_during_the_collect(
    spark, lake, answers, monkeypatch
):
    rows_to_json = server._rows_to_json

    def collect_then_commit(df, *args):
        out = rows_to_json(df, *args)
        ice.append(spark, str(lake / "lake" / "t"),
                   spark.createDataFrame([(9, "x")], "k bigint, v string"))
        return out

    monkeypatch.setattr(server, "_rows_to_json", collect_then_commit)
    assert _rows(spark) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    assert len(answers._bodies) == 0
    monkeypatch.setattr(server, "_rows_to_json", rows_to_json)
    assert _rows(spark) == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 9, "v": "x"}]
    assert len(answers._bodies) == 1


def test_store_stays_within_its_byte_bound(spark, lake, answers):
    _body(server.query_table(
        spark, "CREATE TABLE lake.big AS SELECT id AS k FROM range(1000)"))
    pad = 1000  # ~1 KB a row: each answer is about 1 MB
    n = server.MAX_STORED_BYTES // (1000 * pad) + 4
    for i in range(n):
        q = f"SELECT k, repeat('x', {pad + i}) AS pad FROM lake.big"
        assert len(json.loads(_body(server.query_table(spark, q)))) == 1000
        assert answers.bytes <= server.MAX_STORED_BYTES
    assert 0 < len(answers._bodies) < n
    # the newest answer is kept, the oldest is gone
    _, jobs = _call(spark, q)
    assert jobs == 0
    _, jobs = _call(spark, f"SELECT k, repeat('x', {pad}) AS pad FROM lake.big")
    assert jobs > 0


def test_store_bookkeeping_holds_under_threads():
    """Threads racing on one small store: its byte count stays equal
    to what it holds and within its bound (a lost update breaks it)."""
    import random
    import sys
    import threading

    store = server._Answers(20_000)

    def work(seed):
        rng = random.Random(seed)
        for _ in range(2_000):
            key = ("q", rng.randrange(64))
            if rng.random() < 0.5:
                store.put(key, "x" * rng.randrange(1, 2_000))
            else:
                store.get(key)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    held = sum(store._size(k, b) for k, b in store._bodies.items())
    assert store.bytes == held <= store.max_bytes
