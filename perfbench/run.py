"""Host-calibrated MCP tool-call benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload lake --seed 1 --seconds 8 --trace 0

``--trace 0`` spawns ``python -m mcp_iceberg_duckdb_spark.stdio`` as an
outside client would and reports the end-to-end metrics;
``--trace 1`` drives the same requests in-process through
``StdioServer.handle_line`` with per-layer spans and reports the
per-layer metrics. Both check every response against DuckDB.

The last stdout line is the result JSON
(``correct``/``attempted``/``failed``/``metrics``). The full record —
raw and calibrated times, every timing-loop sample, provenance — is
written to ``.perfbench_work/records/``.

Calibration: every timed end-to-end metric is raw × (C_REF / C), where
C is the median of the timing-loop samples (host.py) taken next to that
measurement while the server was idle: one after each call for a pass
and its calls, all of the run's for the set-up. C_REF is the loop's
median on the reference host. SPREAD.md has the measured spreads.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import client  # noqa: E402
import fixtures  # noqa: E402
import host  # noqa: E402
import stats  # noqa: E402
import traced  # noqa: E402

# median multi-core timing-loop sample (ms) on the reference host:
# 4 cores, 15 GB RAM, Python 3.11
C_REF_MS = 40.0
MAX_WARM = 40
CALIB_SAMPLES = 4  # idle-host loop samples before the server starts and after it ends
SETTLE_S = 0.05  # pause after a call before its loop sample
# a loop sample taken while the server used more than this share of
# all cores is kept in the record but left out of C_run
SERVER_BUSY_FRAC = 0.05
TIMED = ("setup_s", "cold_pass_s", "calls_per_s", "call_p50_ms")
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "calls_per_s": "1/s",
    "call_p50_ms": "ms",
    "ok_frac": "frac",
}


def _versions() -> dict:
    out = {"python": platform.python_version()}
    for pkg in ("pyspark", "duckdb", "pyarrow"):
        try:
            out[pkg] = metadata.version(pkg)
        except metadata.PackageNotFoundError:
            out[pkg] = None
    return out


def _git_sha(root: str) -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


class Run:
    """Bookkeeping shared by the untraced and traced runs."""

    def __init__(self, root: str, wl, loop, nproc: int):
        self.root = root
        self.wl = wl
        self.loop = loop
        self.nproc = nproc
        self.samples: list[dict] = []
        self.attempted = 0
        self.failed: list[dict] = []

    def sample(self, cpu_of=None, phase="idle") -> None:
        """One timing-loop sample, tagged with the pass it belongs to;
        with ``cpu_of`` (a process group) also the share of all cores
        that group used meanwhile."""
        c0 = host.group_cpu_s(cpu_of) if cpu_of else 0.0
        t0 = time.perf_counter()
        s = self.loop.sample(single=cpu_of is None)
        if cpu_of:
            wall = time.perf_counter() - t0
            s["server_cpu_frac"] = (host.group_cpu_s(cpu_of) - c0) / (wall * self.nproc)
        s["phase"] = phase
        self.samples.append(s)

    def checked(self, call, rows) -> bool:
        self.attempted += 1
        try:
            ok = call.check(rows)
        except Exception as exc:  # a check that crashes is a failed call
            ok = False
            rows = f"check raised {exc!r}"
        if not ok:
            self.failed.append({
                "kind": call.kind, "args": call.args,
                "got": str(rows)[:500],
            })
        return ok

    def keep_going(self, warm_passes: int, warm_start: float, seconds: float,
                   min_warm: int | None = None) -> bool:
        """After a warm pass: run another one? Each run makes the
        workload's warm passes, however long they take, then more until
        ``seconds`` of warm passes have passed."""
        if warm_passes < (self.wl.warm_passes if min_warm is None else min_warm):
            return True
        if warm_passes >= MAX_WARM:
            return False
        return time.perf_counter() - warm_start < seconds

    def idle_samples(self, n: int = CALIB_SAMPLES) -> None:
        for _ in range(n):
            self.sample()

    def c_run(self, phase=None) -> float:
        """Median loop sample of the run, or of one pass, leaving out
        samples taken while the server was busy (a pass with no idle
        sample falls back to the whole run)."""
        idle = [s for s in self.samples
                if s.get("server_cpu_frac", 0.0) <= SERVER_BUSY_FRAC]
        mine = [s["multi_ms"] for s in idle if phase in (None, s["phase"])]
        return stats.median(mine or [s["multi_ms"] for s in idle])

    def calibration(self) -> dict:
        return {
            "c_ref_ms": C_REF_MS,
            "c_run_ms": self.c_run(),
            "loop_iters": host.LOOP_ITERS,
            "samples": self.samples,
            # samples taken while the server was not idle: kept above,
            # left out of every C
            "server_busy_samples": sum(
                s.get("server_cpu_frac", 0.0) > SERVER_BUSY_FRAC for s in self.samples
            ),
            "multi_iqr_frac": stats.iqr_frac([s["multi_ms"] for s in self.samples]),
        }


def _tail_record(tail, n: int) -> dict:
    if tail is None:
        return {"value": None, "samples": n, "note": "fewer than 11 samples"}
    return {"value": tail[0], "percentile": tail[1], "samples": n}


def measure(run: Run, server_env: dict, work: str, seconds: float) -> dict:
    """The untraced run over the real stdio surface."""
    wl = run.wl
    run.idle_samples()
    steal0 = host.cpu_counters()
    t0 = time.perf_counter()
    server = client.Server(run.root, work, server_env)
    try:
        server.initialize()
        init_s = time.perf_counter() - t0
        for call in wl.setup_calls():
            _, result = server.call(call.tool, call.args)
            run.checked(call, client.tool_rows(result))
        setup_s = time.perf_counter() - t0
        passes = []
        warm_start = 0.0
        while True:
            p = len(passes)
            lat = []
            for call in wl.pass_calls(p):
                # a loop sample next to every call, once the server is idle
                time.sleep(SETTLE_S)
                run.sample(cpu_of=server.pid, phase=p)
                dt, result = server.call(call.tool, call.args)
                run.checked(call, client.tool_rows(result))
                lat.append((call.kind, dt))
            time.sleep(SETTLE_S)
            run.sample(cpu_of=server.pid, phase=p)
            passes.append(lat)
            if len(passes) == 1:
                warm_start = time.perf_counter()
            elif not run.keep_going(len(passes) - 1, warm_start, seconds):
                break
        wh_mb = host.dir_bytes(os.path.join(work, "warehouse")) / 2**20
    finally:
        server.close()
    steal = host.steal_frac(steal0, host.cpu_counters())
    run.idle_samples()
    # setup is scaled by the run's loop median; each pass and its
    # calls by the median of the samples taken between that pass's calls
    c_pass = [run.c_run(p) for p in range(len(passes))]

    def summary(scale) -> dict:
        pass_s = [scale(sum(dt for _, dt in lat), p) for p, lat in enumerate(passes)]
        by_kind: dict[str, list[float]] = {}
        for p, lat in enumerate(passes[1:], start=1):
            for kind, dt in lat:
                by_kind.setdefault(kind, []).append(scale(1000 * dt, p))
        return {
            "setup_s": scale(setup_s, None),
            "cold_pass_s": pass_s[0],
            "calls_per_s": len(passes[0]) / stats.median(pass_s[1:]),
            "call_p50_ms": stats.geomean_of_medians(by_kind),
            "pass_s": pass_s,
            "by_kind": by_kind,
        }

    raw = summary(lambda v, p: v)
    cal = summary(lambda v, p: stats.calibrate(
        v, C_REF_MS, run.c_run() if p is None else c_pass[p]))
    warm_calls = [t for ts in cal["by_kind"].values() for t in ts]
    tail = stats.tail(cal["pass_s"][1:])
    call_tail = stats.tail(warm_calls)
    return {
        "raw": {m: raw[m] for m in TIMED},
        "calibrated": {m: cal[m] for m in TIMED},
        "c_pass_ms": c_pass,
        "init_s": init_s,
        "pass_s_raw": raw["pass_s"],
        "calls_per_pass": len(passes[0]),
        "kind_median_ms_raw": stats.per_kind_medians(raw["by_kind"]),
        # calibrated, at the highest percentile with >= 10 samples beyond
        "pass_tail_s": _tail_record(tail, len(passes) - 1),
        "call_tail_ms": _tail_record(call_tail, len(warm_calls)),
        "warehouse_mb": wh_mb,
        "steal_frac": steal,
    }


def _exit_on_sigterm(signum, frame):
    # SystemExit unwinds through every finally, which stops the
    # processes the run started
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mcp_iceberg_duckdb_spark", "stdio.py")):
        print("perfbench: run from the repository root (engine package not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    client.become_subreaper()
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = os.cpu_count() or 1
    try:
        fx = workloads.fixture_dirs(os.path.join(base, "fixtures"), args.workload)
        wl = workloads.WORKLOADS[args.workload](
            args.seed, fx, os.path.join(work, "warehouse")
        )
        env = client.server_env(root, work, nproc, wl.server_env())
        with host.CoreLoop(nproc) as loop:
            run = Run(root, wl, loop, nproc)
            if args.trace:
                detail = traced.trace(run, env, work, args.seconds)
            else:
                detail = measure(run, env, work, args.seconds)
        wl.close()
    finally:
        # anything still running (the JVM, PySpark's worker daemon) is
        # stopped and waited for before the run ends
        client.reap_children()
        shutil.rmtree(work, ignore_errors=True)

    ok_frac = (run.attempted - len(run.failed)) / run.attempted
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in detail["per_layer"].items()}
    else:
        values = dict(detail["calibrated"], ok_frac=ok_frac)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed_calls": run.failed,
        "metrics": metrics,
        "detail": detail,
        "calibration": run.calibration(),
        "provenance": {
            "nproc": nproc,
            "ram_bytes": host.mem_total_bytes(),
            "versions": _versions(),
            "git_sha": _git_sha(root),
            "server_env": client.pinned_env(env),
            "fixtures": {sf: {"dir": os.path.relpath(d, root),
                              "bytes": fixtures.sizes(d)}
                         for sf, d in fx.items()},
            "min_warm_passes": wl.warm_passes,
            "max_warm_passes": MAX_WARM,
        },
    }
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: record written to {os.path.relpath(rec_path, root)}",
          file=sys.stderr)
    print(json.dumps({
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
