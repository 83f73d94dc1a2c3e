"""Full-registry differential sweep: run EVERY registered query and
its DuckDB oracle side by side and compare row counts, column names,
and order-insensitive value multisets — the driver's correctness gate
applied to the whole registry instead of its 50-query sample.

Deliberately uses a BARE SparkSession (no repo session factory) at
local[N]: this is the driver's environment, and it has caught config
dependencies (timestamp units, ANSI-mode division) that the tuned
test session masks.

Usage:
    python scripts/oracle_sweep.py [SF_DIR] [CORES] [--prefix NAME_PREFIX]
    # defaults: the sf0.01 fixture directory, the host's core count (nproc)
    # e.g. the 19 vendored-Iceberg oracles alone:
    python scripts/oracle_sweep.py --prefix x_iceberg_fs_

Exit code 0 iff every oracle-backed query matches. Round-6 baseline:
236/236 green in ~240 s at sf0.01 on local[32] (and local[4]); typed
row-multiset compare shared with the test suite (compare.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

# Queries whose DUCKDB oracle is deliberately stated as an
# all-pairs/recursive-CC relation ("fine at fixture scale" — the
# SPARK plan is the bucketed/bounded one): at decade scale the
# ORACLE, not the Spark side, is intractable. Measured at sf1
# (50k docs): each of these DuckDB oracles exceeded a 720 s cap,
# while every other oracle finished in <= 260 s. The decade gate
# runs their Spark side rows-only; full value parity for them is
# still enforced every round at sf0.01/sf0.1 (pytest + driver).
DECADE_ROWS_ONLY = (
    "x_corpus_leakage_safe_split",
    "x_dedup_cluster_cc",
    "x_dedup_cluster_cc_lsh",
    "x_dedup_cluster_cc_stars",
    "x_dedup_cluster_report",
    "x_dedup_containment",
    "x_dedup_minhash_lsh",
    "x_dedup_minhash_mllib",
    "x_dedup_ngram_jaccard",
    "x_pipeline_release_manifest",
    # memory-hungry rather than quadratic: these two DuckDB oracles
    # (recursive k-core peel, wedge-join Adamic-Adar) finish at sf1
    # only with ~the whole machine's RAM (measured: fine standalone,
    # 76 GB spill / OOM beside a 48 GB JVM). The decade gate
    # value-checks them in a dedicated two-phase test that stops the
    # Spark JVM before running DuckDB
    # (test_decade.py::test_sf1_memory_hungry_oracles).
    "x_graph_kcore",
    "x_graph_adamic_adar",
)

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from mcp_iceberg_duckdb_spark.compare import rows_to_multiset
    from mcp_iceberg_duckdb_spark.session import call_scope

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--prefix", default="", help="check only queries named with this prefix"
    )
    args, sys.argv[1:] = ap.parse_known_args()  # leaves SF_DIR, CORES
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cores = sys.argv[2] if len(sys.argv) > 2 else str(len(os.sched_getaffinity(0)))

    builder = SparkSession.builder.master(f"local[{cores}]").config(
        "spark.sql.shuffle.partitions", cores
    )
    # Default stays the driver's BARE 1 GB heap (that tightness has
    # caught real bugs); decade-scale sweeps (sf1+) need a sized heap
    # or local-mode's shared driver/executor JVM OOMs on shuffle
    # buffers alone.
    mem = os.environ.get("SPARK_GRAFT_SWEEP_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # Certificate-pattern oracles render data-derived literals from
    # this dir — must match the dir the views read.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entry

    queries = {
        name: q for name, q in entry.queries().items()
        if name.startswith(args.prefix)
    }
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    # Coexist with the (possibly large-heap) local-mode JVM: DuckDB's
    # default memory_limit assumes it owns ~80% of RAM and OOMs under
    # pressure instead of spilling; bound it to half the host's RAM
    # and give the spill a known temp dir (decade run r9: kcore
    # filled the cwd-relative .tmp to disk-full, adamic-adar hit a
    # bad allocation).
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    con.sql(f"SET memory_limit='{max(1024, ram_mb // 2)}MB'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    skip = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_SWEEP_SKIP", "").split(",")
        if s.strip()
    }
    rows_only = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_SWEEP_ROWS_ONLY", "").split(",")
        if s.strip()
    }
    bad: list[tuple] = []
    n_rows_only = 0
    t0 = time.time()
    for i, name in enumerate(queries, 1):
        if name not in oracles or name in skip:
            continue
        tq = time.time()
        try:
            # each query releases what it persisted: a later query
            # that persists the same plan must compute it, not read
            # this one's intermediates
            with call_scope(spark):
                sdf = queries[name](spark, sf_dir)
                got = rows_to_multiset(
                    sdf.columns, [tuple(r) for r in sdf.collect()]
                )
            if name in rows_only:
                n_rows_only += 1
                print(
                    f"  [{i}] {name} ROWS-ONLY {len(got)} rows "
                    f"{time.time() - tq:.1f}s",
                    flush=True,
                )
                continue
            want_rel = con.sql(oracles[name])
            want = rows_to_multiset(want_rel.columns, want_rel.fetchall())
            s_cols = sorted(sdf.columns)
            d_cols = sorted(want_rel.columns)
            if s_cols != d_cols:
                bad.append((name, f"columns {s_cols} != {d_cols}"))
            elif got != want:
                bad.append(
                    (name, f"values ({len(got)} vs {len(want)} rows)")
                )
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            bad.append((name, repr(ex)[:200]))
        dt = time.time() - tq
        if dt > 20:
            print(f"  [{i}] {name} {dt:.1f}s", flush=True)
        if i % 40 == 0:
            print(f"... {i} checked, {time.time() - t0:.0f}s", flush=True)

    print(
        f"SWEEP {len(queries)} queries, {len(bad)} bad, "
        f"{n_rows_only} rows-only, {time.time() - t0:.0f}s"
    )
    for b in bad:
        print(" BAD:", *b)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
