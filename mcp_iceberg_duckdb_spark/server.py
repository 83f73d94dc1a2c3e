"""MCP façade — the reference's two-tool server shape
(server.py:42-69: ``query_catalog`` + ``query_table``) on top of the
Spark engine.

Behavioral parity points (and deliberate improvements):

- results are row-oriented JSON with non-JSON types stringified —
  the reference's list-of-dicts + ``json.dumps(default=str)``
  (IcebergConnection.py:119-127, server.py:101-104)
- every response carries the execution time formatted to 2 decimals
  (server.py:87-103)
- errors come back as text, never raised to the client
  (server.py:106-112)
- results are LIMIT-guarded: MCP stdio caps payloads ~1 MB
  (README.md:4); the reference relied on the caller adding LIMIT,
  here a row cap is enforced engine-side
- multi-table queries and joins work (the reference was single-table,
  README.md:6)

The stdio transport needs no ``mcp`` package: MCP's stdio framing is
newline-delimited JSON-RPC 2.0, implemented dependency-free in
``stdio.py`` and exercised end-to-end (subprocess + pipes) in
tests/test_mcp_stdio.py. The two tool functions are also plain
callables usable without any transport.
"""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession

from mcp_iceberg_duckdb_spark import router
from mcp_iceberg_duckdb_spark.session import call_scope

MAX_RESULT_ROWS = 1000  # keeps JSON payloads under the ~1 MB MCP cap
# total bytes of the warehouse SELECT answers query_table keeps for reuse
MAX_STORED_BYTES = 32 * 1024 * 1024


@dataclass
class ToolResult:
    text: str
    is_error: bool = False


def _rows_to_json(df, limit: int = MAX_RESULT_ROWS) -> list[dict[str, Any]]:
    """Row-oriented dict conversion at the client edge only — inside
    the engine everything stays columnar (the reference converted
    per-row in a Python loop, IcebergConnection.py:119-127). ``df`` is
    a DataFrame, collected under the row cap, or a list of Rows the
    driver already holds (catalog and status answers), sliced to it
    without running a Spark job."""
    rows = df[:limit] if isinstance(df, list) else df.limit(limit).collect()
    return [r.asDict(recursive=True) for r in rows]


class _Answers:
    """A least-recently-used store of serialized query_table bodies
    whose keys plus bodies hold at most ``max_bytes`` (json.dumps
    output is ASCII, so its length is its size), behind one lock."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.bytes = 0
        self._bodies: OrderedDict[tuple, str] = OrderedDict()
        self._lock = threading.Lock()

    @staticmethod
    def _size(key: tuple, body: str) -> int:
        return len(repr(key)) + len(body)

    def get(self, key: tuple) -> str | None:
        with self._lock:
            body = self._bodies.get(key)
            if body is not None:
                self._bodies.move_to_end(key)
            return body

    def put(self, key: tuple, body: str) -> None:
        size = self._size(key, body)
        if size > self.max_bytes:
            return
        with self._lock:
            if key in self._bodies:
                self.bytes -= self._size(key, self._bodies.pop(key))
            self._bodies[key] = body
            self.bytes += size
            while self.bytes > self.max_bytes:
                old_key, old = self._bodies.popitem(last=False)
                self.bytes -= self._size(old_key, old)


_ANSWERS = _Answers(MAX_STORED_BYTES)


def _timed(body: str, elapsed: float) -> ToolResult:
    return ToolResult(f"Query execution time: {elapsed:.2f} seconds\n{body}")


def _respond(rows: list[dict[str, Any]], elapsed: float) -> ToolResult:
    return _timed(json.dumps(rows, default=str), elapsed)


def _fs_catalog():
    """When SPARK_GRAFT_FS_WAREHOUSE points at a directory, every
    statement runs against the vendored Iceberg v1 warehouse
    (sources/fs_catalog.py) — real Iceberg tables on the filesystem,
    no runtime jar needed. Unset, the session catalog serves (the
    DSv2 path when a jar exists, temp views otherwise)."""
    import os

    wh = os.environ.get("SPARK_GRAFT_FS_WAREHOUSE")
    if not wh:
        return None
    from mcp_iceberg_duckdb_spark.sources.fs_catalog import FsCatalog

    return FsCatalog(wh)


def query_table(spark: SparkSession, query: str) -> ToolResult:
    """The reference's ``query_table`` tool (server.py:96-99): run a
    SQL statement against lake tables. SELECT/INSERT/CREATE/UPDATE/
    DELETE all go through Spark SQL; errors return as text.

    With a warehouse set, a SELECT's capped, serialized answer is kept
    in ``_ANSWERS`` (at most ``MAX_STORED_BYTES``, least recently used
    first out) under FsCatalog's reuse key: its text, the session time
    zone and ANSI mode, and the metadata file each table it reads is
    at. The same SELECT over the same metadata is answered from there
    with no Spark planning or job. Any commit to a table it reads
    (DML, DDL, maintenance, drop and re-create) changes the key. Only
    queries over warehouse tables and CTEs whose plans are
    deterministic and free of current-time functions and UDFs are
    kept, only when their tables did not move while they ran, and
    never an error."""
    start = time.perf_counter()
    try:
        cat = _fs_catalog()
        if cat is None:
            df = router.execute(spark, query)
        else:
            df = cat.execute(spark, query, _ANSWERS.get)
            if isinstance(df, str):  # a stored answer
                return _timed(df, time.perf_counter() - start)
        rows = _rows_to_json(df) if df is not None else [{"status": "OK"}]
        res = _respond(rows, time.perf_counter() - start)
        if cat is not None and cat.reuse_key and cat.current(cat.reuse_key):
            _ANSWERS.put(cat.reuse_key, res.text.partition("\n")[2])
        return res
    except Exception as exc:  # parity: errors-as-text, server.py:106-112
        return ToolResult(f"Error executing query: {exc}", is_error=True)


def query_catalog(spark: SparkSession, query: str) -> ToolResult:
    """The reference's ``query_catalog`` tool (server.py:86-94):
    LIST NAMESPACES / LIST TABLES [IN ns] / DESCRIBE TABLE ns.t."""
    start = time.perf_counter()
    try:
        routed = router.classify(query)
        if routed.kind == "sql":
            return ToolResult(
                f"Unsupported catalog query type: {query!r}", is_error=True
            )
        cat = _fs_catalog()
        df = (
            cat.execute(spark, query)
            if cat is not None
            else router.execute(spark, query)
        )
        return _respond(_rows_to_json(df), time.perf_counter() - start)
    except Exception as exc:
        return ToolResult(f"Error executing query: {exc}", is_error=True)


def list_operators(spark: SparkSession) -> ToolResult:
    """Engine-native tool beyond the reference's surface: enumerate
    every registered operator (SURVEY.md §2 inventory) with its tags,
    oracle status, and summary — the MCP client's catalog of what
    ``run_operator`` can execute."""
    start = time.perf_counter()
    try:
        from mcp_iceberg_duckdb_spark import registry

        registry.load_all()
        rows = [
            {
                "name": s.name,
                "tags": list(s.tags),
                "oracle_checked": s.oracle is not None,
                "summary": s.doc.strip().splitlines()[0] if s.doc else "",
            }
            for s in registry.QUERIES.values()
        ]
        return _respond(rows, time.perf_counter() - start)
    except Exception as exc:
        return ToolResult(f"Error listing operators: {exc}", is_error=True)


def run_operator(
    spark: SparkSession, name: str, sf_dir: str | None = None
) -> ToolResult:
    """Run a registered operator by name against the lake fixtures —
    the whole tier-X pipeline surface (dedup, ANN, text analysis,
    corpus curation) becomes callable from an MCP client without
    writing SQL. ``sf_dir`` defaults to $SPARK_GRAFT_SF_DIR. What the
    operator persists or checkpoints lives for this call only
    (``session.call_scope``), so a repeated call reads the files
    again."""
    import os

    start = time.perf_counter()
    try:
        from mcp_iceberg_duckdb_spark import registry

        registry.load_all()
        if name not in registry.QUERIES:
            return ToolResult(f"Unknown operator: {name!r}", is_error=True)
        sf = sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
        )
        with call_scope(spark):
            rows = _rows_to_json(registry.QUERIES[name].builder(spark, sf))
        return _respond(rows, time.perf_counter() - start)
    except Exception as exc:
        return ToolResult(f"Error executing operator: {exc}", is_error=True)


def serve(spark: SparkSession) -> None:
    """stdio MCP server exposing the two tools (reference
    server.py:114-135). Uses the dependency-free JSON-RPC transport
    in ``stdio.py`` — the optional ``mcp`` package is not required
    (the protocol is newline-delimited JSON-RPC 2.0; see stdio.py)."""
    from mcp_iceberg_duckdb_spark.stdio import StdioServer

    StdioServer(spark).run()
