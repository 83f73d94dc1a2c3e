"""The driver JVM's class-data-sharing archive: where it lives, when
it is mapped or dumped, and that every failure path, a crashed JVM
included, leaves stdout carrying JSON-RPC frames only. Every spawned
server gets its own cache dir through ``XDG_CACHE_HOME``."""

from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import sys
import time
from contextlib import suppress
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from mcp_iceberg_duckdb_spark import session

REPO_ROOT = Path(__file__).resolve().parents[1]
MEMORY = "1g"
KEY = session.archive_key(_find_spark_home(), session.java_version(), MEMORY)


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _serve(cache: Path, tmp: Path, after=None, **env) -> tuple[list[dict], dict]:
    """Run one stdio conversation with a cache dir: initialize, one
    query, ``after(server)`` if given, EOF. Checks that stdout held
    frames only and that the server left nothing running in its
    process group; returns the frames and the provenance line."""
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(cache),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM=MEMORY,
        PYTHONPATH=str(REPO_ROOT),
        **env,
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    err = tmp / "stderr.log"
    with open(err, "w") as stderr:
        p = subprocess.Popen(
            [sys.executable, "-m", "mcp_iceberg_duckdb_spark.stdio"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=stderr,
            env=env,
            cwd=str(tmp),
            text=True,
            start_new_session=True,
        )
        requests = [
            {"jsonrpc": "2.0", "id": 1, "method": "initialize",
             "params": {"protocolVersion": "2024-11-05"}},
            {"jsonrpc": "2.0", "method": "notifications/initialized"},
            {"jsonrpc": "2.0", "id": 2, "method": "tools/call",
             "params": {"name": "query_table",
                        "arguments": {"query": "SET spark.mcp.conf_probe"}}},
        ]
        p.stdin.write("".join(json.dumps(r) + "\n" for r in requests))
        p.stdin.flush()
        frames = [json.loads(p.stdout.readline()) for _ in range(2)]
        if after is not None:
            after(p)
        p.stdin.close()
        p.wait(timeout=180)
        # the server exits only after its JVM has, dump included
        assert _running(p.pid) == []
        assert p.stdout.read() == ""  # frames only, whatever the JVM printed
    assert p.returncode == 0
    assert [f["id"] for f in frames] == [1, 2]
    assert all(f["jsonrpc"] == "2.0" for f in frames)
    [line] = [ln for ln in err.read_text().splitlines() if ln.startswith('{"cpus"')]
    return frames, json.loads(line)


def _running(pgid: int) -> list[str]:
    """The members of process group ``pgid`` that have not exited.
    ``spark-class`` leaves an exited subshell that init reaps a moment
    after the JVM exits; until then it is a zombie member of the group."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        with suppress(OSError):
            stat = Path(f"/proc/{pid}/stat").read_text()
            state, _, pgrp = stat.rsplit(")", 1)[1].split()[:3]
            if int(pgrp) == pgid and state != "Z":
                found.append(stat)
    return found


def _archives(cache: Path) -> list[str]:
    return sorted(p.name for p in (cache / "mcp_iceberg_duckdb_spark" / "cds").glob("*.jsa"))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A server started on a cache with no archive for its key, only
    another key's archive and the truncated temp files of a dead and
    of a live process."""
    tmp = tmp_path_factory.mktemp("dump")
    cds = tmp / "cache" / "mcp_iceberg_duckdb_spark" / "cds"
    cds.mkdir(parents=True)
    (cds / "0123456789abcdef.jsa").write_bytes(session.ARCHIVE_MAGIC)
    dead = cds / f"{KEY}.jsa.tmp{_dead_pid()}"
    dead.write_bytes(session.ARCHIVE_MAGIC + bytes(64))
    live = cds / f"{KEY}.jsa.tmp{os.getpid()}"
    live.write_bytes(session.ARCHIVE_MAGIC)
    frames, prov = _serve(tmp / "cache", tmp)
    return tmp, cds, frames, prov, dead, live


def test_missing_archive_serves_and_dumps_before_exit(dumped):
    tmp, cds, frames, prov, dead, live = dumped
    assert not frames[1]["result"]["isError"]
    assert prov["archive"] == {"state": "dumping", "path": str(cds / f"{KEY}.jsa")}
    # the JVM's dump is in place by the time the server has exited
    assert (cds / f"{KEY}.jsa").read_bytes()[:4] == session.ARCHIVE_MAGIC


def test_cache_keeps_one_archive_and_live_temp_files(dumped):
    tmp, cds, frames, prov, dead, live = dumped
    assert _archives(tmp / "cache") == [f"{KEY}.jsa"]
    assert not dead.exists()
    assert live.exists()  # a process that may still be dumping
    assert sorted(p.name for p in cds.iterdir()) == sorted(
        [f"{KEY}.jsa", live.name, "conf"])
    assert not any((cds / "conf").iterdir())


def test_provenance_line_keys(dumped):
    prov = dumped[3]
    assert sorted(prov) == [
        "archive", "codegen_cache_entries", "cpus", "driver_memory",
        "git_sha", "java", "spark"]
    assert prov["cpus"] == 2 and prov["driver_memory"] == MEMORY
    assert prov["codegen_cache_entries"] == session.CODEGEN_CACHE_ENTRIES
    assert prov["spark"].startswith("4.") and prov["java"]


def test_archive_in_use_serves(dumped, tmp_path):
    cache = dumped[0] / "cache"
    frames, prov = _serve(cache, tmp_path)
    assert not frames[1]["result"]["isError"]
    assert prov["archive"]["state"] == "used"
    assert _archives(cache) == [f"{KEY}.jsa"]


def test_garbage_archive_serves_and_is_replaced(tmp_path):
    cds = tmp_path / "cache" / "mcp_iceberg_duckdb_spark" / "cds"
    cds.mkdir(parents=True)
    (cds / f"{KEY}.jsa").write_bytes(b"not an archive" * 100)
    frames, prov = _serve(tmp_path / "cache", tmp_path)
    assert not frames[1]["result"]["isError"]
    assert prov["archive"]["state"] == "dumping"
    assert (cds / f"{KEY}.jsa").read_bytes()[:4] == session.ARCHIVE_MAGIC


def test_real_conf_dir_is_kept_and_runs_without_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.mcp.conf_probe kept\n")
    (conf / "log4j2.properties.template").write_text("")
    frames, prov = _serve(tmp_path / "cache", tmp_path, SPARK_CONF_DIR=str(conf))
    text = frames[1]["result"]["content"][0]["text"]
    assert json.loads(text.split("\n", 1)[1]) == [
        {"key": "spark.mcp.conf_probe", "value": "kept"}]
    assert prov["archive"] == {
        "state": "off", "reason": f"conf dir {conf} holds spark-defaults.conf"}
    assert not (tmp_path / "cache").exists()


def test_template_only_conf_dir_is_swapped_for_an_empty_one(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(session, "class_sharing", {})
    opts = session._class_sharing(MEMORY)
    cds = tmp_path / "cache" / "mcp_iceberg_duckdb_spark" / "cds"
    assert os.environ["SPARK_CONF_DIR"] == str(cds / "conf")
    assert opts == (
        *session.JVM_LOG_OPTS,
        f"-XX:ArchiveClassesAtExit={cds / KEY}.jsa.tmp{os.getpid()}",
    )


def test_archive_key_follows_compressed_oops():
    home, java = _find_spark_home(), session.java_version()
    assert session.archive_key(home, java, "2g") == KEY
    assert session.archive_key(home, java, "31g") == KEY
    assert session.archive_key(home, java, "32g") != KEY


def test_jvm_crash_report_stays_off_stdout(tmp_path):
    """JDK 17 prints its fatal-error summary to its stdout, whatever
    its options say. The server's JVM inherits stderr as its stdout, so
    a crash leaves the protocol channel with the frames already sent."""

    def segv(p):
        [jvm] = [int(st.split()[0]) for st in _running(p.pid) if "(java)" in st]
        os.kill(jvm, signal.SIGSEGV)
        deadline = time.monotonic() + 60
        while any("(java)" in st for st in _running(p.pid)):
            assert time.monotonic() < deadline, "the JVM outlived SIGSEGV"
            time.sleep(0.2)

    soft, hard = resource.getrlimit(resource.RLIMIT_CORE)
    resource.setrlimit(resource.RLIMIT_CORE, (0, hard))  # the JVM inherits it
    try:
        _serve(tmp_path / "cache", tmp_path, after=segv)
    finally:
        resource.setrlimit(resource.RLIMIT_CORE, (soft, hard))
    err = (tmp_path / "stderr.log").read_text()
    assert "# A fatal error has been detected by the Java Runtime Environment" in err
