"""Dependency-free MCP stdio transport.

The reference IS an MCP server (reference server.py:130-135 runs
``mcp.server.stdio.stdio_server``); its tool surface is two tools
(server.py:42-69) — mirrored here and extended with
``list_operators`` / ``run_operator``, which expose the full
registered operator inventory (TPC-H flagships, dedup, ANN, text
analysis) to MCP clients. The ``mcp`` package is absent from this container,
so this module speaks the protocol directly: MCP's stdio transport is
newline-delimited JSON-RPC 2.0 — one JSON object per line on
stdin/stdout, responses only for requests that carry an ``id``
(notifications get none). Handshake per the 2024-11-05 MCP revision:
``initialize`` → capabilities, ``notifications/initialized``,
``tools/list``, ``tools/call``, ``ping``.

stdout carries ONLY protocol frames (Spark logs go to stderr), which
is the part of the contract an MCP client actually breaks on.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from contextlib import suppress
from typing import Any, TextIO

from mcp_iceberg_duckdb_spark import session
from mcp_iceberg_duckdb_spark.server import (
    list_operators,
    query_catalog,
    query_table,
    run_operator,
)

PROTOCOL_VERSION = "2024-11-05"
SERVER_INFO = {"name": "mcp-iceberg-duckdb-spark", "version": "0.2.0"}

TOOLS = [
    {
        "name": "query_catalog",
        "description": "List namespaces/tables or describe a table "
        "(LIST NAMESPACES | LIST TABLES [IN ns] | DESCRIBE TABLE ns.t)",
        "inputSchema": {
            "type": "object",
            "properties": {"query": {"type": "string"}},
            "required": ["query"],
        },
    },
    {
        "name": "query_table",
        "description": "Run a SQL query against lake tables",
        "inputSchema": {
            "type": "object",
            "properties": {"query": {"type": "string"}},
            "required": ["query"],
        },
    },
    {
        "name": "list_operators",
        "description": "List every registered engine operator "
        "(TPC-H flagships, dedup, ANN, text analysis, streaming twins) "
        "with tags and oracle status",
        "inputSchema": {"type": "object", "properties": {}},
    },
    {
        "name": "run_operator",
        "description": "Run a registered operator by name against the "
        "lake tables (see list_operators); optional sf_dir overrides "
        "the data directory",
        "inputSchema": {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "sf_dir": {"type": "string"},
            },
            "required": ["name"],
        },
    },
]

# JSON-RPC 2.0 error codes
PARSE_ERROR = -32700
INVALID_REQUEST = -32600
METHOD_NOT_FOUND = -32601
INVALID_PARAMS = -32602


class StdioServer:
    """One session's protocol state machine; transport-agnostic
    (reads/writes any text streams) so tests can drive it over
    subprocess pipes and unit tests over StringIO."""

    def __init__(self, spark, out: TextIO | None = None):
        self.spark = spark
        self.out = out if out is not None else sys.stdout
        self.initialized = False

    # -- frame plumbing ------------------------------------------------

    def _write(self, obj: dict[str, Any]) -> None:
        self.out.write(json.dumps(obj, separators=(",", ":")) + "\n")
        self.out.flush()

    def _result(self, req_id, result: dict[str, Any]) -> None:
        self._write({"jsonrpc": "2.0", "id": req_id, "result": result})

    def _error(self, req_id, code: int, message: str) -> None:
        self._write(
            {
                "jsonrpc": "2.0",
                "id": req_id,
                "error": {"code": code, "message": message},
            }
        )

    # -- dispatch ------------------------------------------------------

    def handle_line(self, line: str) -> None:
        line = line.strip()
        if not line:
            return
        try:
            msg = json.loads(line)
        except json.JSONDecodeError as exc:
            self._error(None, PARSE_ERROR, f"parse error: {exc}")
            return
        if not isinstance(msg, dict) or "method" not in msg:
            self._error(msg.get("id") if isinstance(msg, dict) else None,
                        INVALID_REQUEST, "not a JSON-RPC request")
            return
        method = msg["method"]
        params = msg.get("params") or {}
        req_id = msg.get("id")
        is_notification = "id" not in msg

        if method == "initialize":
            self.initialized = True
            self._result(
                req_id,
                {
                    "protocolVersion": PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": SERVER_INFO,
                },
            )
        elif method == "notifications/initialized":
            pass  # notification: no response
        elif method == "ping":
            if not is_notification:
                self._result(req_id, {})
        elif method == "tools/list":
            self._result(req_id, {"tools": TOOLS})
        elif method == "tools/call":
            self._handle_call(req_id, params)
        elif is_notification:
            pass  # unknown notifications are ignored per JSON-RPC
        else:
            self._error(req_id, METHOD_NOT_FOUND, f"unknown method {method!r}")

    def _handle_call(self, req_id, params: dict[str, Any]) -> None:
        name = params.get("name")
        arguments = params.get("arguments") or {}
        if name in ("query_catalog", "query_table"):
            if "query" not in arguments:
                self._error(req_id, INVALID_PARAMS, "missing required 'query'")
                return
            fn = query_catalog if name == "query_catalog" else query_table
            tool_result = fn(self.spark, arguments["query"])
        elif name == "list_operators":
            tool_result = list_operators(self.spark)
        elif name == "run_operator":
            if "name" not in arguments:
                self._error(req_id, INVALID_PARAMS, "missing required 'name'")
                return
            tool_result = run_operator(
                self.spark, arguments["name"], arguments.get("sf_dir")
            )
        else:
            self._error(req_id, INVALID_PARAMS, f"unknown tool {name!r}")
            return
        # tool-level failures are content with isError, NOT protocol
        # errors (MCP spec: execution errors stay inside the result)
        self._result(
            req_id,
            {
                "content": [{"type": "text", "text": tool_result.text}],
                "isError": tool_result.is_error,
            },
        )

    def run(self, inp: TextIO | None = None) -> None:
        inp = inp if inp is not None else sys.stdin
        for line in inp:
            self.handle_line(line)


def provenance(spark) -> dict[str, Any]:
    """What a run's numbers depend on: cpus, driver memory, the Spark
    and Java versions, the git sha of a checkout, and whether the
    driver JVM maps, dumps or goes without its class-data archive, and
    how many compiled generated classes Spark keeps."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sha = None
    # only the package's own checkout; no git on the PATH leaves it None
    with suppress(OSError):
        if os.path.exists(os.path.join(root, ".git")):
            git = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 stdin=subprocess.DEVNULL, capture_output=True,
                                 text=True, check=False)
            sha = git.stdout.strip() or None
    return {
        "cpus": session.default_parallelism(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.runtime.version"),
        "git_sha": sha,
        "archive": dict(session.class_sharing),
        "codegen_cache_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }


def main() -> None:  # pragma: no cover - exercised via subprocess test
    """Entry point: build a session, register the lake tables, serve
    stdio until EOF, then stop the driver JVM and wait for it, so the
    server exits only after its JVM (and any archive dump) has.
    SPARK_GRAFT_SF_DIR points at the warehouse dir (parquet fixture
    tables registered as views, mirroring the reference's
    catalog-connected startup). One provenance JSON line goes to
    stderr at start.

    Frames go to a private copy of stdout, and fd 1 becomes stderr
    before the JVM starts: what the JVM or a native library prints to
    its stdout (JDK 17 prints a crash summary there, whatever its
    options say) then lands on stderr, not the protocol channel."""
    from mcp_iceberg_duckdb_spark.operators._util import views
    from mcp_iceberg_duckdb_spark.sources.tables import TABLE_NAMES

    sys.stdout.flush()
    frames = os.fdopen(os.dup(1), "w", encoding="utf-8")
    os.dup2(2, 1)
    spark = session.build_session(app_name="mcp-stdio")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(provenance(spark)), file=sys.stderr, flush=True)
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
        if sf_dir:
            views(spark, sf_dir, *TABLE_NAMES)
        StdioServer(spark, frames).run()
    finally:
        session.stop(spark)


if __name__ == "__main__":
    main()
