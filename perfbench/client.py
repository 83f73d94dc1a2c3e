"""A closed-loop MCP stdio client for the engine's server.

``Server`` spawns ``python -m mcp_iceberg_duckdb_spark.stdio`` in a
fresh working directory, with every temp location of the server
(Spark local dirs, JVM and Python temp dirs, the session warehouse)
inside that directory, and speaks newline-delimited JSON-RPC 2.0 to
it over pipes — exactly what an MCP client does.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import subprocess
import sys
import time

PROTOCOL_VERSION = "2024-11-05"


def server_env(root: str, work: str, cpus: int, extra: dict[str, str]) -> dict[str, str]:
    """The server's environment: the caller's, minus any engine
    settings it carries, plus the benchmark's pinned ones."""
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))
    }
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        PYTHONPATH=root,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata file: the JVM writes it to /tmp whatever tmpdir says
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    env.update(extra)
    return env


def pinned_env(env: dict[str, str]) -> dict[str, str]:
    """The part of ``env`` the benchmark set, for the record."""
    keys = ("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "PYTHONHASHSEED",
            "JAVA_TOOL_OPTIONS", "TMPDIR")
    return {k: v for k, v in sorted(env.items()) if k.startswith(keys)}


class ServerError(RuntimeError):
    pass


class Server:
    """One spawned stdio server and its JSON-RPC conversation."""

    def __init__(self, root: str, work: str, env: dict[str, str]):
        self.work = work
        cwd = os.path.join(work, "cwd")
        os.makedirs(cwd, exist_ok=True)
        self._log = open(os.path.join(work, "server.log"), "ab")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "mcp_iceberg_duckdb_spark.stdio"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            cwd=cwd,
            env=env,
            text=True,
            bufsize=1,
            # its own process group, so the JVM child can be reaped
            # along with the Python server
            start_new_session=True,
        )
        self._next_id = 0

    @property
    def pid(self) -> int:
        return self.proc.pid

    def rpc(self, method: str, params: dict | None = None) -> dict:
        self._next_id += 1
        msg = {"jsonrpc": "2.0", "id": self._next_id, "method": method}
        if params is not None:
            msg["params"] = params
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise ServerError(
                f"server exited (code {self.proc.poll()}) during {method}"
            )
        resp = json.loads(line)
        if resp.get("id") != self._next_id:
            raise ServerError(f"out-of-order response to {method}: {line[:200]}")
        return resp

    def notify(self, method: str) -> None:
        self.proc.stdin.write(json.dumps({"jsonrpc": "2.0", "method": method}) + "\n")
        self.proc.stdin.flush()

    def initialize(self) -> None:
        resp = self.rpc("initialize", {
            "protocolVersion": PROTOCOL_VERSION,
            "capabilities": {},
            "clientInfo": {"name": "perfbench", "version": "1"},
        })
        if resp.get("result", {}).get("protocolVersion") != PROTOCOL_VERSION:
            raise ServerError(f"bad initialize reply: {resp}")
        self.notify("notifications/initialized")

    def call(self, tool: str, arguments: dict) -> tuple[float, dict]:
        """One ``tools/call`` round trip: (wall seconds, result)."""
        t0 = time.perf_counter()
        resp = self.rpc("tools/call", {"name": tool, "arguments": arguments})
        dt = time.perf_counter() - t0
        if "result" not in resp:
            raise ServerError(f"protocol error from {tool}: {resp.get('error')}")
        return dt, resp["result"]

    def close(self, timeout: float = 60.0) -> None:
        """EOF on stdin ends the server's read loop; kill it if it
        does not exit in time. Always waits for the process."""
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        kill_group(self.proc.pid)
        self.proc.stdout.close()
        self._log.close()


def kill_group(pgid: int, grace: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, whatever is left in a process group,
    and wait until it is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            # members orphaned to this process stay in the group as
            # zombies until waited for
            _reap_exited()
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant, so
    ``reap_children`` finds processes that left their parent's group
    (PySpark's worker daemon calls setpgid) or outlived their parent."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_exited() -> None:
    """Collect the exit status of every child that has ended, so no
    zombie is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = os.getpid()
    kids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if int(raw[raw.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(name))
    return kids


def reap_children(grace: float = 10.0) -> None:
    """SIGTERM, after ``grace`` seconds SIGKILL, every child of this
    process, and wait for each until none is left."""
    deadline = time.monotonic() + grace
    while True:
        _reap_exited()
        kids = _children()
        if not kids or time.monotonic() > deadline + grace:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def tool_rows(result: dict) -> list[dict] | None:
    """The row list of a successful tool result, or None on an
    ``isError`` result. The text is the execution-time line, then
    the JSON rows."""
    if result.get("isError"):
        return None
    text = result["content"][0]["text"]
    _, _, body = text.partition("\n")
    return json.loads(body)
