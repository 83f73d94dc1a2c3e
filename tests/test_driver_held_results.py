"""Catalog, DESCRIBE, SHOW and DDL/DML-status answers are built on the
driver from metadata it already holds, so serving them through the MCP
tools must launch no Spark job, and the JSON bodies must keep their
exact shape: key order, string-typed status values, ``null`` parents
and ``[]`` for an empty result."""

from __future__ import annotations

import json
import os
from functools import reduce

import pytest

from mcp_iceberg_duckdb_spark import server
from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice


def _body(result) -> str:
    assert not result.is_error, result.text
    head, body = result.text.split("\n", 1)
    assert head.startswith("Query execution time: ")
    return body


def _jobs_of(spark, tool, query: str, group: str):
    """Run one tool call inside job group ``group``; return its JSON
    body and the ids of every Spark job the call launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        body = _body(tool(spark, query))
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return body, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def lake(spark, tmp_path, monkeypatch):
    """A warehouse with one partitioned table holding one snapshot and
    one table whose metadata carries no properties at all, as another
    writer may leave it."""
    wh = tmp_path / "wh"
    monkeypatch.setenv("SPARK_GRAFT_FS_WAREHOUSE", str(wh))
    for q in (
        "CREATE NAMESPACE lake",
        "CREATE TABLE lake.t (k bigint, v string) PARTITIONED BY (v)",
        "INSERT INTO lake.t VALUES (1, 'a'), (2, 'b')",
        "CREATE TABLE lake.bare (k bigint)",
    ):
        _body(server.query_table(spark, q))
    bare = wh / "lake" / "bare" / "metadata" / "v1.metadata.json"
    meta = json.loads(bare.read_text())
    del meta["properties"]
    bare.write_text(json.dumps(meta))
    return ice.read_table_meta(str(wh / "lake" / "t"))


def test_metadata_and_status_answers_run_no_spark_job(spark, lake):
    snap = lake["snapshots"][0]
    sid, ts = snap["snapshot-id"], snap["timestamp-ms"]
    cases = [
        (server.query_catalog, "LIST NAMESPACES", '[{"namespace": "lake"}]'),
        (
            server.query_catalog,
            "LIST TABLES",
            '[{"namespace": "lake", "tableName": "bare"}, '
            '{"namespace": "lake", "tableName": "t"}]',
        ),
        (
            server.query_catalog,
            "LIST TABLES IN lake",
            '[{"namespace": "lake", "tableName": "bare"}, '
            '{"namespace": "lake", "tableName": "t"}]',
        ),
        (
            server.query_catalog,
            "DESCRIBE TABLE lake.t",
            '[{"col_name": "k", "data_type": "long", "comment": ""}, '
            '{"col_name": "v", "data_type": "string", "comment": "partition"}]',
        ),
        (
            server.query_table,
            "SHOW SNAPSHOTS lake.t",
            f'[{{"snapshot_id": {sid}, "parent_id": null, '
            f'"committed_at_ms": {ts}, "operation": "append"}}]',
        ),
        (
            server.query_table,
            "SHOW TBLPROPERTIES lake.t",
            '[{"key": "write.format.default", "value": "parquet"}]',
        ),
        (server.query_table, "SHOW TBLPROPERTIES lake.bare", "[]"),
        (server.query_table, "SHOW REFS lake.t", "[]"),
        (
            server.query_table,
            "ALTER TABLE lake.t CREATE TAG v1",
            f'[{{"operation": "create_tag", "name": "v1", '
            f'"snapshot_id": "{sid}"}}]',
        ),
        (
            server.query_table,
            "SHOW REFS lake.t",
            f'[{{"name": "v1", "type": "tag", "snapshot_id": {sid}}}]',
        ),
        (
            server.query_table,
            "CREATE NAMESPACE lake2",
            '[{"operation": "create_namespace"}]',
        ),
        (
            server.query_table,
            "ALTER TABLE lake.t SET TBLPROPERTIES ('owner'='it''s me')",
            '[{"operation": "set_tblproperties", "key": "owner", '
            '"value": "it\'s me"}]',
        ),
        (
            server.query_table,
            "CREATE TABLE IF NOT EXISTS lake.t (k bigint)",
            '[{"operation": "create_table", "skipped": "True"}]',
        ),
        (server.query_catalog, "LIST TABLES IN lake2", "[]"),
    ]
    for i, (tool, query, want) in enumerate(cases):
        body, jobs = _jobs_of(spark, tool, query, f"driver-held-{i}")
        assert jobs == [], (query, jobs)
        assert body == want, query


def test_router_all_namespace_list_tables_runs_no_spark_job(spark, tmp_path):
    """Warehouse unset: the router's all-namespace LIST TABLES answers
    exactly what a union of every ``SHOW TABLES IN ns`` would, temp
    views and the ``isTemporary`` column included, without the job
    that collecting such a union launches. A second namespace makes
    the union real."""
    assert "SPARK_GRAFT_FS_WAREHOUSE" not in os.environ
    spark.sql(f"CREATE DATABASE driver_held_ns LOCATION '{tmp_path}/ns'")
    spark.range(1).createOrReplaceTempView("driver_held_tv")
    try:
        union = reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.sql(f"SHOW TABLES IN {ns[0]}")
                for ns in spark.sql("SHOW NAMESPACES").collect()
            ],
        )
        want = [r.asDict(recursive=True) for r in union.limit(1000).collect()]
        body, jobs = _jobs_of(
            spark, server.query_catalog, "LIST TABLES", "driver-held-router"
        )
    finally:
        spark.catalog.dropTempView("driver_held_tv")
        spark.sql("DROP DATABASE driver_held_ns CASCADE")
    assert jobs == []
    assert body == json.dumps(want, default=str)
    assert {
        "namespace": "",
        "tableName": "driver_held_tv",
        "isTemporary": True,
    } in json.loads(body)
