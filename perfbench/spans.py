"""Per-layer spans for the traced run.

The traced run drives the same request lines in-process through
``StdioServer.handle_line``. ``Tracer.install`` wraps public functions
of the engine's modules (from here; the engine is not edited) so
each call splits into named spans. A span's *self* time is its wall
time minus its child spans, so the self times of one call add up to
the root span (``stdio.frame``) exactly; the client measures the
call around ``handle_line`` and names the rest ``client.remainder``.

Spark-side numbers come from the call's own job group: job ids from
``statusTracker``, stage metrics from the status store.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict

_COMMITS = ("append", "cow_rewrite_where", "merge_into", "overwrite_table",
            "create_table")


class Tracer:
    def __init__(self):
        self.active = False
        self._stack: list[list] = []
        self._patches: list[tuple] = []
        self.call: dict = {}
        self.reset()

    def reset(self) -> None:
        """Start a new call's accounting."""
        self.call = {
            "self_s": defaultdict(float),
            "counts": defaultdict(int),
            "files_planned": 0,
            "files_total": 0,
            "files_rewritten": 0,
            "rows": 0,
            "kb": 0.0,
        }

    # ---- spans -------------------------------------------------------

    def _in(self, name: str) -> bool:
        return any(f[0] == name for f in self._stack)

    def _run(self, name, fn, args, kwargs, after=None):
        if not self.active:
            return fn(*args, **kwargs)
        if callable(name):
            name = name(self)
        frame = [name, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            out = fn(*args, **kwargs)
        finally:
            self._stack.pop()
            total = time.perf_counter() - frame[1]
            self.call["self_s"][name] += total - frame[2]
            self.call["counts"][name] += 1
            if self._stack:
                self._stack[-1][2] += total
        if after is not None:
            after(args, out)
        return out

    def wrap(self, owner, attr: str, name, after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self._run(name, orig, args, kwargs, after)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def count_only(self, owner, attr: str, key: str, inside: str) -> None:
        """Count calls of ``owner.attr`` made inside span ``inside``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.active and self._in(inside):
                self.call["counts"][key] += 1
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- the engine's layers -----------------------------------------

    def install(self, operator_names=()) -> None:
        try:  # PySpark 4 splits the classic DataFrame from the API class
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from mcp_iceberg_duckdb_spark import registry, router, server, stdio
        from mcp_iceberg_duckdb_spark.sources import fs_catalog
        from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice

        self.wrap(stdio.StdioServer, "handle_line", "stdio.frame")
        for tool in ("query_table", "query_catalog", "run_operator"):
            self.wrap(stdio, tool, "server.tool")

        def rows_span(t):
            # run_operator collects what its builder returned
            built = t.call["counts"]["operators.build"]
            return "operators.action" if built else "server.collect"

        self.wrap(server, "_rows_to_json", rows_span)

        def after_respond(args, out):
            self.call["rows"] += len(args[0])
            self.call["kb"] += len(out.text) / 1024

        self.wrap(server, "_respond", "server.serialize", after_respond)
        self.wrap(router, "execute", "router.execute")

        def after_execute(args, out):
            for plan in args[0].last_scan_plan.values():
                self.call["files_planned"] += plan.get("files_planned", 0)
                self.call["files_total"] += plan.get("files_total", 0)

        self.wrap(fs_catalog.FsCatalog, "execute", "fs_catalog.execute",
                  after_execute)
        self.count_only(DataFrame, "createOrReplaceTempView",
                        "fs_catalog.view_registrations", "fs_catalog.execute")
        self.wrap(ice, "read_iceberg", "iceberg_fs.plan")
        self.wrap(ice, "read_table_meta", "iceberg_fs.meta")

        def after_commit(args, out):
            if isinstance(out, dict) and "summary" in out:
                self.call["files_rewritten"] += int(
                    out["summary"].get("deleted-data-files", 0)
                )

        for fn in _COMMITS:
            self.wrap(ice, fn, "iceberg_fs.commit", after_commit)
        registry.load_all()
        for name in operator_names:
            self.wrap(registry.QUERIES[name], "builder", "operators.build")


def spark_job_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks, shuffle bytes, spill and executor run time
    of every job in ``group``."""
    try:  # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        pass
    tracker = sc.statusTracker()
    stage_ids = set()
    jobs = tracker.getJobIdsForGroup(group)
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    no_list = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
           "shuffle_bytes": 0, "spill_bytes": 0, "executor_run_ms": 0}
    for sid in stage_ids:
        it = store.stageData(sid, False, no_list, False, no_quantiles).iterator()
        while it.hasNext():
            d = it.next()
            if d.numCompleteTasks() == 0:
                continue  # skipped (reused shuffle output)
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["shuffle_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["executor_run_ms"] += d.executorRunTime()
    return out

