"""Host-speed probes: the calibration timing loop, CPU steal, and the
CPU time of the server's process group.

The timing loop is a fixed pure-Python workload. One sample runs it
on ``nproc`` persistent worker processes at once, so it loads every
core the server's Spark work uses, and reports the median worker
time in ms. A single-thread sample of the same loop is kept next to
it for the record.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

LOOP_ITERS = 300_000
_TICK = os.sysconf("SC_CLK_TCK")


def _spin(n: int) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def _worker() -> None:
    """Loop-worker main: one iteration count per stdin line, one ms
    figure per stdout line, until stdin closes."""
    for line in sys.stdin:
        print(_spin(int(line)), flush=True)


class CoreLoop:
    """``nproc`` persistent loop workers; use as a context manager so
    every worker is stopped and waited for.

    The workers are plain subprocesses of this file rather than
    multiprocessing ones: a multiprocessing spawn context starts a
    resource-tracker process that outlives the benchmark."""

    def __init__(self, nproc: int):
        self._procs = []
        try:
            for _ in range(nproc):
                self._procs.append(subprocess.Popen(
                    [sys.executable, os.path.abspath(__file__), "--worker"],
                    stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                    text=True, bufsize=1,
                ))
            self.sample()  # the workers' first run: not kept
        except BaseException:
            self.close()
            raise

    def sample(self, single: bool = True) -> dict[str, float]:
        """One calibration sample: the multi-core loop (median worker
        ms) and, with ``single``, then the single-thread loop (ms)."""
        for p in self._procs:
            p.stdin.write(f"{LOOP_ITERS}\n")
            p.stdin.flush()
        times = sorted(float(p.stdout.readline()) for p in self._procs)
        out = {"multi_ms": times[len(times) // 2]}
        if single:
            out["single_ms"] = _spin(LOOP_ITERS)
        return out

    def close(self) -> None:
        for p in self._procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self._procs:
            try:
                p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()
        self._procs = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def cpu_counters() -> tuple[int, int]:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def group_cpu_s(pgid: int) -> float:
    """User+system CPU seconds of every live process in group
    ``pgid`` (the server and its JVM)."""
    total = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = raw[raw.rindex(")") + 2:].split()
        if int(fields[2]) == pgid:
            total += int(fields[11]) + int(fields[12])
    return total / _TICK


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (0 if it does not exist)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


if __name__ == "__main__" and sys.argv[1:] == ["--worker"]:
    _worker()
