"""The layout gate inside operators/_util.parallelize (round 14):
repartition fires ONLY when the file source cannot split into enough
independently-readable units (parquet row groups) to fill the
cluster. On production-shaped input (many row groups) the helper is
the identity — no exchange, plan unchanged — so every call site's
"extra exchange" exists only where the scan is otherwise one task."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mcp_iceberg_duckdb_spark.operators._util import parallelize


def _shuffles(df) -> int:
    from mcp_iceberg_duckdb_spark.plans.inspect import shuffle_count

    return shuffle_count(df)


def test_single_row_group_scan_is_spread(spark, tmp_path):
    p = tmp_path / "one_rg.parquet"
    pq.write_table(pa.table({"x": list(range(10_000))}), p)
    assert pq.ParquetFile(p).metadata.num_row_groups == 1
    df = spark.read.parquet(str(p))
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df) + 1, (
        "a one-row-group file is one scan task; parallelize must "
        "round-robin it across the cluster"
    )
    assert out.count() == 10_000


def test_splittable_scan_is_left_unchanged(spark, tmp_path):
    # Round 15 (ADVICE r14 medium): the gate now estimates the PLANNED
    # partition count — Spark sizes file partitions by bytes
    # (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # total/parallelism)), files packed into splits), capped by row
    # groups — so "splittable" needs BOTH many row groups AND enough
    # bytes per the session's split sizing. The previous fixture
    # (10k rows, 32 row groups, ~80 KB) actually planned as a 1-task
    # scan; this one is genuinely multi-split under the confs it pins.
    p = tmp_path / "many_rg.parquet"
    n_rg = max(spark.sparkContext.defaultParallelism, 8)
    n_rows = 200_000
    pq.write_table(
        pa.table({"x": list(range(n_rows))}),
        p,
        row_group_size=max(n_rows // n_rg, 1),
    )
    assert pq.ParquetFile(p).metadata.num_row_groups >= n_rg
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        conf.set("spark.sql.files.maxPartitionBytes", "65536")
        conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(str(p))
        out = parallelize(df)
        assert _shuffles(out) == _shuffles(df), (
            "input already splits into >= parallelism/2 byte-sized "
            "row-group-backed splits; the gate must return the plan "
            "unchanged (production no-op)"
        )
        assert out.count() == n_rows
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_small_many_row_group_scan_is_spread(spark, tmp_path):
    # the ADVICE r14 falsifier: many row groups but few BYTES — Spark
    # plans this as a 1-2 task scan, so the gate must spread it
    p = tmp_path / "small_many_rg.parquet"
    n_rg = spark.sparkContext.defaultParallelism
    pq.write_table(
        pa.table({"x": list(range(10_000))}),
        p,
        row_group_size=max(10_000 // n_rg, 1),
    )
    assert pq.ParquetFile(p).metadata.num_row_groups >= n_rg
    df = spark.read.parquet(str(p))
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df) + 1, (
        "an ~80 KB file is a 1-task scan no matter how many row "
        "groups it has; the byte-aware gate must round-robin it"
    )
    assert out.count() == 10_000


def test_non_file_source_still_spreads(spark):
    # createDataFrame has no file source; the gate cannot prove the
    # input splits, so it keeps today's behavior (repartition)
    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    out = parallelize(df)
    assert _shuffles(out) == _shuffles(df) + 1


def test_many_files_skip_the_stat_walk(spark, tmp_path, monkeypatch):
    # with >= parallelism/2 input files the plan returns before
    # _scan_splits stats a single file (a 100k-file table would cost
    # 100k os.stat calls per gate decision otherwise)
    import os

    n_files = max(spark.sparkContext.defaultParallelism // 2, 1)
    for i in range(n_files):
        pq.write_table(pa.table({"x": [i]}), tmp_path / f"part-{i}.parquet")
    df = spark.read.parquet(str(tmp_path))
    stats = []
    real_stat = os.stat

    def counting_stat(*args, **kwargs):
        stats.append(args[0])
        return real_stat(*args, **kwargs)

    monkeypatch.setattr(os, "stat", counting_stat)
    out = parallelize(df)
    monkeypatch.undo()
    assert out is df
    assert _shuffles(out) == _shuffles(df)
    assert stats == []


_PLANNER_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.leafNodeDefaultParallelism",
)


@pytest.mark.parametrize("parallelism", ["4", "32"])
@pytest.mark.parametrize(
    "max_pb, open_cost",
    [(str(2 << 20), str(4 << 20)), (str(64 << 10), "0")],
    ids=["2MB-4MB", "64KB-0"],
)
def test_scan_splits_matches_spark_planner(
    spark, tmp_path, parallelism, max_pb, open_cost
):
    """The gate's estimate equals what Spark's own planner yields:
    its file-partition count, capped by the row groups those
    partitions can read. Swept over file counts, file sizes and
    row-group sizes, under the session's 2 MB / 4 MB split confs and
    a fine 64 KB / 0 one, at 4 and 32 as the split parallelism."""
    import numpy as np

    from mcp_iceberg_duckdb_spark.operators._util import _scan_splits

    conf = spark.conf
    saved = {k: conf.get(k, None) for k in _PLANNER_CONFS}
    rng = np.random.default_rng(7)
    misses = []
    try:
        for k, v in zip(_PLANNER_CONFS, (max_pb, open_cost, parallelism)):
            conf.set(k, v)
        for n_files in (1, 5):
            for n_rows in (5_000, 60_000, 300_000):
                for n_rg in (1, 4, 16):
                    d = tmp_path / f"f{n_files}_r{n_rows}_g{n_rg}"
                    d.mkdir()
                    for i in range(n_files):
                        pq.write_table(
                            pa.table({"x": rng.integers(0, 1 << 62, n_rows)}),
                            d / f"part-{i}.parquet",
                            row_group_size=-(-n_rows // n_rg),
                            compression="NONE",
                            use_dictionary=False,
                        )
                    df = spark.read.parquet(str(d))
                    want = min(df.rdd.getNumPartitions(), n_files * n_rg)
                    got = _scan_splits(df)
                    if got != want:
                        misses.append((d.name, got, want))
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    assert not misses, misses
