"""The traced run: the workload's request lines driven in-process
through ``StdioServer.handle_line`` with per-layer spans (spans.py).

Warm passes alternate traced and untraced, so the record also holds
the tracer's own cost (``trace.overhead_frac``). Per-layer metrics
whose unit ends in ``/call`` are means per warm traced call.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import time
from collections import defaultdict

import host
import stats
from client import PROTOCOL_VERSION, tool_rows
from spans import Tracer, spark_job_stats

TRACE_WARM = 3  # traced, untraced, traced
SETTLE_S = 0.3  # pause after a pass before its loop sample
PER_LAYER = {
    # metric -> unit
    "session.build_s": "s",
    "session.views_s": "s",
    "stdio.frame_ms": "ms/call",
    "server.collect_ms": "ms/call",
    "server.serialize_ms": "ms/call",
    "server.result_rows": "rows/call",
    "server.result_kb": "KB/call",
    "router.execute_ms": "ms/call",
    "fs_catalog.execute_ms": "ms/call",
    "fs_catalog.view_registrations": "count/call",
    "iceberg_fs.plan_ms": "ms/call",
    "iceberg_fs.plan_calls": "count/call",
    "iceberg_fs.meta_reads": "count/call",
    "iceberg_fs.files_planned_frac": "frac",
    "iceberg_fs.commit_ms": "ms/call",
    "iceberg_fs.commits": "count/call",
    "iceberg_fs.files_rewritten_per_row": "files/row",
    "iceberg_fs.bytes_written_per_row": "B/row",
    "operators.build_ms": "ms/call",
    "operators.action_ms": "ms/call",
    "spark.jobs_per_call": "count/call",
    "spark.stages_per_call": "count/call",
    "spark.tasks_per_call": "count/call",
    "spark.shuffle_mb_per_call": "MB/call",
    "spark.spill_mb": "MB",
    "spark.executor_run_ms": "ms/call",
    "spark.persisted_rdds": "count",
    "host.calib_ms": "ms",
    "host.calib_iqr_frac": "frac",
    "host.steal_frac": "frac",
    "trace.overhead_frac": "frac",
}
_SELF_MS = {
    "stdio.frame_ms": "stdio.frame",
    "server.collect_ms": "server.collect",
    "server.serialize_ms": "server.serialize",
    "router.execute_ms": "router.execute",
    "fs_catalog.execute_ms": "fs_catalog.execute",
    "iceberg_fs.plan_ms": "iceberg_fs.plan",
    "iceberg_fs.commit_ms": "iceberg_fs.commit",
    "operators.build_ms": "operators.build",
    "operators.action_ms": "operators.action",
}
_COUNTS = {
    "fs_catalog.view_registrations": "fs_catalog.view_registrations",
    "iceberg_fs.plan_calls": "iceberg_fs.plan",
    "iceberg_fs.meta_reads": "iceberg_fs.meta",
    "iceberg_fs.commits": "iceberg_fs.commit",
}


class InProcess:
    """The stdio server in this process, one request line at a time."""

    def __init__(self, spark, tracer: Tracer, warehouse: str):
        from mcp_iceberg_duckdb_spark.stdio import StdioServer

        self.sc = spark.sparkContext
        self.out = io.StringIO()
        self.server = StdioServer(spark, self.out)
        self.tracer = tracer
        self.warehouse = warehouse
        self._id = 0

    def request(self, method: str, params: dict, traced: bool) -> tuple[float, dict, dict]:
        self._id += 1
        line = json.dumps({"jsonrpc": "2.0", "id": self._id,
                           "method": method, "params": params})
        group = f"perfbench-{self._id}"
        self.sc.setJobGroup(group, method)
        wh0 = host.dir_bytes(self.warehouse) if traced else 0
        self.tracer.reset()
        self.tracer.active = traced
        t0 = time.perf_counter()
        try:
            self.server.handle_line(line)
        finally:
            dt = time.perf_counter() - t0
            self.tracer.active = False
        resp = json.loads(self.out.getvalue())
        self.out.seek(0)
        self.out.truncate()
        info = {}
        if traced:
            call = self.tracer.call
            info = {
                "self_s": dict(call["self_s"]),
                "counts": dict(call["counts"]),
                **{k: call[k] for k in ("files_planned", "files_total",
                                        "files_rewritten", "rows", "kb")},
                "bytes_written": host.dir_bytes(self.warehouse) - wh0,
                "spark": spark_job_stats(self.sc, group),
            }
        return dt, resp, info

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM that PySpark launched in this process: spark.stop()
    leaves it running until the interpreter exits. Closing its stdin
    is PySpark's own signal for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def trace(run, env: dict, work: str, seconds: float) -> dict:
    wl = run.wl
    os.environ.update(env)
    cwd = os.path.join(work, "cwd")
    os.makedirs(cwd, exist_ok=True)
    here = os.getcwd()
    os.chdir(cwd)
    tracer = Tracer()
    tracer.install(wl.operators)
    run.idle_samples()
    steal0 = host.cpu_counters()
    spark = None
    try:
        from mcp_iceberg_duckdb_spark.operators._util import views
        from mcp_iceberg_duckdb_spark.session import build_session
        from mcp_iceberg_duckdb_spark.sources.tables import TABLE_NAMES

        t0 = time.perf_counter()
        spark = build_session(app_name="mcp-stdio")
        spark.sparkContext.setLogLevel("ERROR")
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if env.get("SPARK_GRAFT_SF_DIR"):
            views(spark, env["SPARK_GRAFT_SF_DIR"], *TABLE_NAMES)
        views_s = time.perf_counter() - t0
        srv = InProcess(spark, tracer, os.path.join(work, "warehouse"))
        srv.request("initialize", {"protocolVersion": PROTOCOL_VERSION,
                                   "capabilities": {}}, False)

        def tool_call(call, traced):
            dt, resp, info = srv.request(
                "tools/call", {"name": call.tool, "arguments": call.args}, traced
            )
            run.checked(call, tool_rows(resp["result"]) if "result" in resp else None)
            return dt, info

        for call in wl.setup_calls():
            tool_call(call, False)
        passes = []  # (traced, [(call, dt, info)])
        persisted = []
        warm_start = 0.0
        while True:
            time.sleep(SETTLE_S)
            run.sample()
            traced = len(passes) % 2 == 1  # warm passes 1, 3, ... traced
            rows = []
            for call in wl.pass_calls(len(passes)):
                dt, info = tool_call(call, traced)
                rows.append((call, dt, info))
                persisted.append(srv.persisted_rdds())
            passes.append((traced, rows))
            if len(passes) == 1:
                warm_start = time.perf_counter()
            elif not run.keep_going(len(passes) - 1, warm_start, seconds,
                                    min_warm=TRACE_WARM):
                break
    finally:
        os.chdir(here)
        tracer.uninstall()
        if spark is not None:
            spark.stop()
        _stop_jvm()
    steal = host.steal_frac(steal0, host.cpu_counters())
    run.idle_samples()
    return summarize(run, passes, persisted, build_s, views_s, steal)


def summarize(run, passes, persisted, build_s, views_s, steal) -> dict:
    warm = passes[1:]
    traced_calls = [r for t, rows in warm if t for r in rows]
    pass_t = [sum(dt for _, dt, _ in rows) for t, rows in warm if t]
    pass_u = [sum(dt for _, dt, _ in rows) for t, rows in warm if not t]

    def self_ms(span):
        return _mean(1000 * i["self_s"].get(span, 0.0) for _, _, i in traced_calls)

    def count(key):
        return _mean(i["counts"].get(key, 0) for _, _, i in traced_calls)

    def spark(key):
        return [i["spark"][key] for _, _, i in traced_calls]

    def total(key):
        return sum(i[key] for _, _, i in traced_calls)

    changed = sum(c.rows_changed for c, _, _ in traced_calls)
    m = {k: self_ms(span) for k, span in _SELF_MS.items()}
    m.update({k: count(key) for k, key in _COUNTS.items()})
    samples = [s["multi_ms"] for s in run.samples]
    m.update({
        "session.build_s": build_s,
        "session.views_s": views_s,
        "server.result_rows": _mean(i["rows"] for _, _, i in traced_calls),
        "server.result_kb": _mean(i["kb"] for _, _, i in traced_calls),
        "iceberg_fs.files_planned_frac": (
            total("files_planned") / total("files_total")
            if total("files_total") else 0.0
        ),
        "iceberg_fs.files_rewritten_per_row": (
            total("files_rewritten") / changed if changed else 0.0
        ),
        "iceberg_fs.bytes_written_per_row": (
            total("bytes_written") / changed if changed else 0.0
        ),
        "spark.jobs_per_call": _mean(spark("jobs")),
        "spark.stages_per_call": _mean(spark("stages")),
        "spark.tasks_per_call": _mean(spark("tasks")),
        "spark.shuffle_mb_per_call": _mean(spark("shuffle_bytes")) / 2**20,
        "spark.spill_mb": sum(spark("spill_bytes")) / 2**20,
        "spark.executor_run_ms": _mean(spark("executor_run_ms")),
        "spark.persisted_rdds": persisted[-1],
        "host.calib_ms": run.c_run(),
        "host.calib_iqr_frac": stats.iqr_frac(samples),
        "host.steal_frac": steal,
        "trace.overhead_frac": stats.median(pass_t) / stats.median(pass_u) - 1,
    })
    # per call kind: mean traced latency and the mean self time of each
    # span; what the spans do not cover is named client.remainder
    kinds: dict = defaultdict(lambda: {"n": 0, "latency_ms": 0.0,
                                       "self_ms": defaultdict(float)})
    for call, dt, info in traced_calls:
        k = kinds[call.kind]
        k["n"] += 1
        k["latency_ms"] += 1000 * dt
        for span, s in info["self_s"].items():
            k["self_ms"][span] += 1000 * s
    by_kind = {}
    for kind, k in kinds.items():
        lat = k["latency_ms"] / k["n"]
        spans = {s: v / k["n"] for s, v in k["self_ms"].items()}
        spans["client.remainder"] = lat - sum(spans.values())
        by_kind[kind] = {"latency_ms": lat, "self_ms": spans}
    return {
        "per_layer": {k: (m[k], u) for k, u in PER_LAYER.items()},
        "by_kind": by_kind,
        "pass_s": [[t, sum(dt for _, dt, _ in rows)] for t, rows in passes],
        "persisted_rdds_after_each_call": persisted,
        "spark_by_call": [
            {"kind": c.kind, **i["spark"]} for c, _, i in traced_calls
        ],
    }
