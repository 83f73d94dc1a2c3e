"""Raw vs calibrated spread of end-to-end metrics over many runs.

    python3 perfbench/spread.py [--since EPOCH] [RECORD_DIR]

Reads the untraced run records under ``.perfbench_work/records`` and
prints, per workload and metric, the median and the inter-quartile
range as a share of the median (``statistics.quantiles(n=4)``) of
the raw values, of the values calibrated with the multi-core loop
(what the benchmark reports) and, for comparison, of the values
calibrated with the single-thread loop.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from run import TIMED  # noqa: E402


def _single_c_run(rec: dict) -> float:
    keep = rec["calibration"]["samples"]
    return stats.median(s["single_ms"] for s in keep if "single_ms" in s)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("record_dir", nargs="?", default=".perfbench_work/records")
    ap.add_argument("--since", type=float, default=0.0,
                    help="only records written after this epoch second")
    args = ap.parse_args(argv)
    by_wl: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(args.record_dir, "*-trace0-*.json"))):
        if os.path.getmtime(path) < args.since:
            continue
        with open(path) as f:
            rec = json.load(f)
        by_wl.setdefault(rec["workload"], []).append(rec)
    print("| workload | metric | runs | median (cal.) | IQR/median raw "
          "| IQR/median cal. multi-core | IQR/median cal. single-thread |")
    print("|---|---|---|---|---|---|---|")
    for wl, recs in sorted(by_wl.items()):
        for m in TIMED:
            raw = [r["detail"]["raw"][m] for r in recs]
            cal = [r["detail"]["calibrated"][m] for r in recs]
            single = []
            for r in recs:
                k = r["calibration"]["c_ref_ms"] / _single_c_run(r)
                v = r["detail"]["raw"][m]
                single.append(v / k if m == "calls_per_s" else v * k)
            print(f"| {wl} | {m} | {len(recs)} | {stats.median(cal):.4g} "
                  f"| {stats.iqr_frac(raw):.3f} | {stats.iqr_frac(cal):.3f} "
                  f"| {stats.iqr_frac(single):.3f} |")
        c_runs = [r["calibration"]["c_run_ms"] for r in recs]
        print(f"| {wl} | c_run_ms | {len(recs)} | {stats.median(c_runs):.4g} "
              f"| {stats.iqr_frac(c_runs):.3f} | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
