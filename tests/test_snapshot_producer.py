"""The one snapshot producer of iceberg_fs (_produce): a commit keeps
every base manifest it does not touch by reference, rewrites only the
manifests that hold a removed file (copying their entry records), and
reads no file it did not write."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice
from mcp_iceberg_duckdb_spark.sources.avro_io import read_container


def _two_manifest_table(spark, loc):
    """An unpartitioned (k, v) table of two appends, k 0-9 then
    100-109: two data manifests with disjoint key bounds."""
    schema = "k bigint, v double"
    first = spark.createDataFrame([(i, float(i)) for i in range(10)], schema)
    ice.create_table(loc, ice.spark_schema_to_iceberg(first))
    ice.append(spark, loc, first.coalesce(1))
    ice.append(spark, loc, spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], schema).coalesce(1))
    return ice._snapshot_manifests(loc, ice.read_table_meta(loc))


def test_cow_delete_keeps_untouched_manifest_by_reference(spark, tmp_path):
    loc = str(tmp_path / "t")
    first, second = _two_manifest_table(spark, loc)
    ice.delete_where(spark, loc, [("k", "=", 105)])
    after = ice._snapshot_manifests(loc, ice.read_table_meta(loc))
    # the first manifest's record is carried verbatim; the second,
    # which held the rewritten file, is not
    assert after[0] == first
    assert second["manifest_path"] not in {m["manifest_path"] for m in after}
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [*range(10), *(k for k in range(100, 110) if k != 105)]


def test_cow_delete_reads_footers_of_written_files_only(
    spark, tmp_path, monkeypatch
):
    loc = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df.repartitionByRange(20, "k"))
    assert len(ice.plan_files(loc)[0]) >= 20
    calls = []
    real = ice._file_stats

    def counting(path, *a, **kw):
        calls.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(ice, "_file_stats", counting)
    snap = ice.delete_where(spark, loc, [("k", "=", 7)])
    assert snap["summary"]["deleted-data-files"] == "1"
    assert len(calls) == int(snap["summary"]["added-data-files"]) == 1
    assert ice.read_iceberg(spark, loc).count() == 399


def test_expire_keeps_manifest_carried_by_reference(spark, tmp_path):
    loc = str(tmp_path / "t")
    first, _ = _two_manifest_table(spark, loc)
    ice.delete_where(spark, loc, [("k", "=", 105)])
    _, first_entries = read_container(ice._read_file(first["manifest_path"]))
    ice.expire_snapshots(loc, keep_last=1)
    assert os.path.exists(first["manifest_path"])
    assert all(
        os.path.exists(e["data_file"]["file_path"]) for e in first_entries
    )
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [*range(10), *(k for k in range(100, 110) if k != 105)]


def test_equality_delete_stats_survive_cow_commit(spark, tmp_path):
    """A copy-on-write UPDATE of another partition carries the live
    equality delete with its key bounds and null counts, so a read
    pruned to a partition whose keys the delete misses still skips
    it."""
    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, "abc"[k // 50], float(k)) for k in range(150)],
        "k bigint, p string, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["p"])
    ice.append(spark, loc, df)
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(60,)], "k bigint"))
    ice.update_where(spark, loc, [("p", "=", "c")], {"v": F.lit(0.0)})
    meta = ice.read_table_meta(loc)
    (eq,) = ice._live_entries(loc, meta, kind="equality")
    fid = str(next(f["id"] for f in meta["schema"]["fields"] if f["name"] == "k"))
    assert ice.decode_bound("long", eq.file["lower_bounds"][fid]) == 60
    assert eq.file["null_value_counts"] == {fid: 0}
    stats: dict = {}
    rows = ice.read_iceberg(
        spark, loc, filters=[("p", "=", "a")], stats_out=stats).collect()
    assert sorted(r["k"] for r in rows) == list(range(50))
    assert stats["eq_delete_files_planned"] == 0
    assert stats["eq_delete_files_total"] == 1
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [k for k in range(150) if k != 60]


def test_rewrite_under_spec_whose_source_column_was_dropped(spark, tmp_path):
    """A manifest written under an older spec keeps that spec's Avro
    partition record when a commit rewrites it, even after the spec's
    source column has been dropped from the schema."""
    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, "ab"[k % 2], float(k)) for k in range(20)],
        "k bigint, p string, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["p"])
    ice.append(spark, loc, df)
    ice.drop_partition_field(loc, "p")
    ice.drop_column(loc, "p")
    ice.delete_where(spark, loc, [("k", "=", 3)])
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [k for k in range(20) if k != 3]
    ice.compact_files(spark, loc)
    rows = ice.read_iceberg(spark, loc).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [
        (k, float(k)) for k in range(20) if k != 3]
    assert rows[0].asDict().keys() == {"k", "v"}


def test_append_reads_no_manifest(spark, tmp_path, monkeypatch):
    """An append removes nothing: it reads the base manifest list,
    never a manifest, and keeps every base manifest by reference."""
    loc = str(tmp_path / "t")
    before = _two_manifest_table(spark, loc)
    read = []
    real = ice._manifest_entries
    monkeypatch.setattr(ice, "_manifest_entries",
                        lambda m, *a: read.append(m) or real(m, *a))
    ice.append(spark, loc, spark.createDataFrame([(7, 7.0)], "k bigint, v double"))
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(7,)], "k bigint"))
    assert read == []
    after = ice._snapshot_manifests(loc, ice.read_table_meta(loc))
    assert after[:2] == before and len(after) == 4


def test_manifests_fold_at_merge_count(spark, tmp_path, monkeypatch):
    """Once a commit would leave _MIN_MANIFESTS_TO_MERGE current-spec
    manifests of one content, it folds the ones it keeps by reference
    into the manifest it writes, keeping every live entry."""
    monkeypatch.setattr(ice, "_MIN_MANIFESTS_TO_MERGE", 4)
    loc = str(tmp_path / "t")
    _two_manifest_table(spark, loc)
    counts, seqs = [], []
    for k in (200, 201, 202):
        ice.append(spark, loc, spark.createDataFrame(
            [(k, float(k))], "k bigint, v double"))
        meta = ice.read_table_meta(loc)
        counts.append(len(ice._snapshot_manifests(loc, meta)))
        seqs.append({e.path: e.seq for e in ice._live_entries(loc, meta)})
    assert counts == [3, 1, 2]
    # the folded entries keep their data sequence numbers
    assert seqs[0].items() < seqs[1].items() < seqs[2].items()
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [*range(10), *range(100, 110), 200, 201, 202]
