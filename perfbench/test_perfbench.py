"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q            # everything (~3 min)
    python3 -m pytest perfbench -q -m "not smoke"   # arithmetic only

Run from the repository root. The smoke tests spawn the real stdio
server, so they need Java and take 30-60 s per workload.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import stats  # noqa: E402
import workloads  # noqa: E402


def test_calibration_scales_by_reference_over_run():
    # a host whose loop takes twice the reference time is half as
    # fast: its raw times are halved
    assert stats.calibrate(10.0, c_ref=50.0, c_run=100.0) == 5.0
    assert stats.calibrate(10.0, c_ref=50.0, c_run=25.0) == 20.0


def test_geomean_of_per_kind_medians():
    samples = {"a": [1.0, 2.0, 3.0], "b": [4.0, 4.0, 100.0]}
    assert stats.per_kind_medians(samples) == {"a": 2.0, "b": 4.0}
    assert math.isclose(stats.geomean_of_medians(samples), math.sqrt(8.0))
    # the slow outlier of kind b does not move it
    samples["b"][2] = 1e6
    assert math.isclose(stats.geomean_of_medians(samples), math.sqrt(8.0))


def test_tail_keeps_ten_samples_beyond():
    value, pct = stats.tail(range(1, 21))
    assert (value, pct) == (10, 50.0)
    value, pct = stats.tail(range(1, 101))
    assert (value, pct) == (90, 90.0)
    assert stats.tail(range(10)) is None


def test_iqr_frac():
    assert stats.iqr_frac([1, 2, 3, 4, 5]) == 1.0
    assert stats.iqr_frac([7.0]) == 0.0


def test_rows_match_multiset_and_cap():
    want = [{"k": 1, "v": 2.0}, {"k": 1, "v": 2.0}, {"k": 2, "v": None}]
    assert workloads.rows_match(list(reversed(want)), want)
    assert not workloads.rows_match(want[:2], want)
    assert not workloads.rows_match(None, want)
    assert not workloads.rows_match([{"k": 1}], [{"k": 1, "v": 2.0}])
    # an int where DuckDB has a double is a mismatch (typed cells)
    assert not workloads.rows_match([{"k": 1, "v": 2}], [{"k": 1, "v": 2.0}])
    big = [{"k": i} for i in range(1500)]
    assert workloads.rows_match(big[200:1200], big, capped=True)
    assert not workloads.rows_match(big[:999], big, capped=True)
    assert not workloads.rows_match(big[:999] + [{"k": -1}], big, capped=True)


def _run(capsys, monkeypatch, workload: str, trace: int = 0) -> dict:
    import client
    import run

    monkeypatch.chdir(ROOT)
    for wl in workloads.WORKLOADS.values():  # cold pass + one warm pass
        monkeypatch.setattr(wl, "warm_passes", 1)
    env = dict(os.environ)  # the traced run takes on the server's environment
    try:
        assert run.main(["--workload", workload, "--seed", "7",
                         "--seconds", "0", "--trace", str(trace)]) == 0
    finally:
        os.environ.clear()
        os.environ.update(env)
    # the server, its JVM, the loop workers: all stopped and waited for
    assert client._children() == []
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.smoke
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_every_call_matches_duckdb(capsys, monkeypatch, workload):
    out = _run(capsys, monkeypatch, workload)
    assert out["correct"] and out["failed"] == 0
    assert out["metrics"]["ok_frac"]["value"] == 1.0
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.smoke
def test_traced_run_checks_every_call(capsys, monkeypatch):
    out = _run(capsys, monkeypatch, "lake", trace=1)
    assert out["correct"] and out["failed"] == 0
    assert "trace.overhead_frac" in out["metrics"]


@pytest.mark.smoke
def test_wrong_expectation_is_a_failed_call(capsys, monkeypatch):
    rows = workloads.Duck.rows
    seen = []

    def wrong_first(self, sql):
        out = rows(self, sql)
        if not seen:  # corrupt the first expectation the workload builds
            seen.append(sql)
            out = out + out[:1] if out else [{"bogus": 1}]
        return out

    monkeypatch.setattr(workloads.Duck, "rows", wrong_first)
    out = _run(capsys, monkeypatch, "operator_calls")
    assert not out["correct"]
    assert out["failed"] == 2  # that call, in the cold and the warm pass
    assert out["metrics"]["ok_frac"]["value"] < 1.0
