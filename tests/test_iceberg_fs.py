"""Vendored Iceberg filesystem tables (sources/iceberg_fs.py) and the
Avro object-container codec under them (sources/avro_io.py): value
round-trips, manifest-level pruning, snapshot time travel, and
corrupt-input contracts — all with zero Iceberg/Avro dependencies."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice
from mcp_iceberg_duckdb_spark.sources.avro_io import (
    read_container,
    write_container,
)
from mcp_iceberg_duckdb_spark.sources.tables import load

_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"], "default": None},
        {"name": "b", "type": ["null", "bytes"], "default": None},
        {"name": "m", "type": ["null", {"type": "map", "values": "bytes"}], "default": None},
        {"name": "a", "type": {"type": "array", "items": "double"}},
        {"name": "f", "type": "boolean"},
    ],
}
_RECS = [
    {"k": 0, "s": "x", "b": b"\x00\xff", "m": {"1": b"a"}, "a": [1.5], "f": True},
    {"k": -(2**62), "s": None, "b": None, "m": None, "a": [], "f": False},
    {"k": 2**62, "s": "", "b": b"", "m": {}, "a": [-0.25, 3.5], "f": True},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(codec):
    schema, recs = read_container(write_container(_SCHEMA, _RECS, codec))
    assert recs == _RECS
    assert schema["name"] == "t"


def test_avro_zigzag_edge_ints():
    sch = {"type": "record", "name": "z", "fields": [{"name": "v", "type": "long"}]}
    vals = [{"v": v} for v in (0, -1, 1, 63, -64, 64, -65, 2**63 - 1, -(2**63))]
    assert read_container(write_container(sch, vals))[1] == vals


def test_avro_corrupt_inputs_raise():
    blob = write_container(_SCHEMA, _RECS)
    with pytest.raises(ValueError):
        read_container(b"NOPE" + blob[4:])
    # flip a sync byte
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError):
        read_container(bytes(bad))


def test_avro_truncation_contract():
    """Any cut either raises ValueError or yields a clean record
    prefix (a container is block-framed; a cut exactly at a block
    boundary is a shorter valid file)."""
    blob = write_container(_SCHEMA, _RECS, codec="null")
    for cut in range(1, len(blob) - 1):
        try:
            _, recs = read_container(blob[:cut])
        except ValueError:
            continue
        assert recs == _RECS[: len(recs)]


def test_avro_union_and_named_ref():
    sch = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "x", "type": {"type": "record", "name": "inner",
                                   "fields": [{"name": "v", "type": "int"}]}},
            {"name": "y", "type": ["null", "inner"], "default": None},
        ],
    }
    recs = [{"x": {"v": 1}, "y": {"v": 2}}, {"x": {"v": 3}, "y": None}]
    assert read_container(write_container(sch, recs))[1] == recs


@pytest.fixture(scope="module")
def orders_table(spark, sf_dir, tmp_path_factory):
    loc = str(tmp_path_factory.mktemp("ice") / "orders_tbl")
    shutil.rmtree(loc, ignore_errors=True)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    schema = ice.spark_schema_to_iceberg(orders)
    ice.create_table(loc, schema, part_cols=["o_orderpriority"])
    snap1 = ice.append(spark, loc, orders)
    return loc, orders, snap1


def test_iceberg_roundtrip_values(spark, sf_dir, orders_table):
    loc, orders, _ = orders_table
    got = {
        tuple(r)
        for r in ice.read_iceberg(spark, loc)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .collect()
    }
    want = {
        tuple(r)
        for r in orders.select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        ).collect()
    }
    assert got == want


def test_iceberg_partition_pruning(spark, sf_dir, orders_table):
    loc, orders, _ = orders_table
    all_files, total = ice.plan_files(loc)
    assert len(all_files) == total >= 5  # one file per priority
    pruned, _ = ice.plan_files(
        loc, filters=[("o_orderpriority", "=", "1-URGENT")]
    )
    assert len(pruned) < len(all_files)
    got = ice.read_iceberg(
        spark, loc, filters=[("o_orderpriority", "=", "1-URGENT")]
    ).count()
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert got == want


def test_iceberg_bounds_pruning(spark, sf_dir, orders_table):
    loc, _, _ = orders_table
    # impossible predicate: bounds prove no file can match
    none_files, _ = ice.plan_files(loc, filters=[("o_orderkey", "<", -5)])
    assert none_files == []
    # satisfiable predicate keeps files and values match the filter
    some, _ = ice.plan_files(loc, filters=[("o_orderkey", ">=", 8)])
    assert some


def test_iceberg_residual_filter_pushed_down(spark, sf_dir, orders_table):
    from mcp_iceberg_duckdb_spark.plans import explain_str

    loc, _, _ = orders_table
    df = ice.read_iceberg(spark, loc, filters=[("o_orderkey", ">=", 8)])
    plan = explain_str(df)
    assert "PushedFilters: [" in plan and "o_orderkey" in plan


def test_iceberg_snapshot_time_travel(spark, sf_dir, orders_table):
    loc, orders, snap1 = orders_table
    n1 = orders.count()
    ice.append(spark, loc, orders.limit(7))
    assert ice.read_iceberg(spark, loc).count() == n1 + 7
    assert (
        ice.read_iceberg(spark, loc, snapshot_id=snap1["snapshot-id"]).count()
        == n1
    )
    meta = ice.read_table_meta(loc)
    assert len(meta["snapshots"]) == 2
    assert meta["snapshots"][1]["parent-snapshot-id"] == snap1["snapshot-id"]


def test_iceberg_copy_on_write_delete(spark, sf_dir, tmp_path):
    """DELETE WHERE pred: only manifest-candidate files get
    rewritten; survivors carry EXISTING entries; replaced files stay
    time-travelable; values equal the source minus exact matches."""
    loc = str(tmp_path / "del_tbl")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(orders), part_cols=["o_orderpriority"]
    )
    snap1 = ice.append(spark, loc, orders)
    pre_files, _ = ice.plan_files(loc)
    median_key = orders.approxQuantile("o_custkey", [0.5], 0)[0]
    filters = [("o_orderpriority", "=", "3-MEDIUM"), ("o_custkey", "<", int(median_key))]
    snap2 = ice.delete_where(spark, loc, filters)
    assert snap2["summary"]["operation"] == "overwrite"
    # exactly the one affected partition was rewritten
    assert snap2["summary"]["deleted-data-files"] == "1"
    got = {
        tuple(r)
        for r in ice.read_iceberg(spark, loc).select("o_orderkey").collect()
    }
    want = {
        tuple(r)
        for r in orders.filter(
            ~(
                (F.col("o_orderpriority") == "3-MEDIUM")
                & (F.col("o_custkey") < int(median_key))
            )
        )
        .select("o_orderkey")
        .collect()
    }
    assert got == want
    # partial delete: the partition still has rows (rewrite, not drop)
    remaining = (
        ice.read_iceberg(
            spark, loc, filters=[("o_orderpriority", "=", "3-MEDIUM")]
        ).count()
    )
    assert 0 < remaining < orders.filter(
        F.col("o_orderpriority") == "3-MEDIUM"
    ).count()
    # pre-delete snapshot still reads the full table
    assert (
        ice.read_iceberg(spark, loc, snapshot_id=snap1["snapshot-id"]).count()
        == orders.count()
    )
    post_files, _ = ice.plan_files(loc)
    assert len(post_files) == len(pre_files)  # 4 untouched + 1 rewrite


def test_iceberg_unknown_snapshot_and_column_raise(spark, sf_dir, orders_table):
    loc, _, _ = orders_table
    with pytest.raises(ValueError, match="snapshot"):
        ice.plan_files(loc, snapshot_id=42)
    with pytest.raises(ValueError, match="unknown column"):
        ice.plan_files(loc, filters=[("nope", "=", 1)])


def test_iceberg_copy_on_write_update(spark, sf_dir, tmp_path):
    """UPDATE SET col=expr WHERE pred: matched rows change exactly as
    assigned, everything else byte-identical; partition-column
    updates are rejected."""
    loc = str(tmp_path / "upd_tbl")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(orders), part_cols=["o_orderpriority"]
    )
    ice.append(spark, loc, orders)
    filters = [("o_orderpriority", "=", "2-HIGH"), ("o_custkey", "<", 75)]
    snap = ice.update_where(
        spark, loc, filters, {"o_totalprice": F.col("o_totalprice") + 1000.0}
    )
    assert snap["summary"]["operation"] == "overwrite"
    cond = (F.col("o_orderpriority") == "2-HIGH") & (F.col("o_custkey") < 75)
    exp = orders.withColumn(
        "o_totalprice",
        F.when(cond, F.col("o_totalprice") + 1000.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    got = {tuple(r) for r in ice.read_iceberg(spark, loc).collect()}
    want = {tuple(r) for r in exp.collect()}
    assert got == want
    with pytest.raises(ValueError, match="partition columns"):
        ice.update_where(spark, loc, filters, {"o_orderpriority": "X"})


def _mini_table(spark, tmp_path, name, parted=True):
    loc = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, i % 3, float(i * 10), "A" if i < 50 else "B") for i in range(100)],
        "k bigint, g bigint, v double, p string",
    )
    ice.create_table(
        loc,
        ice.spark_schema_to_iceberg(df),
        part_cols=["p"] if parted else (),
    )
    ice.append(spark, loc, df)
    return loc, df


def test_iceberg_merge_upsert(spark, tmp_path):
    """MERGE: matched keys take the source's non-partition columns,
    unmatched source rows are inserted, everything else unchanged."""
    loc, _ = _mini_table(spark, tmp_path, "merge_tbl")
    src = spark.createDataFrame(
        [(k, k % 3, float(k * 1000), "A" if k < 50 else "B") for k in range(40, 60)]
        + [(k, k % 3, float(k), "C") for k in range(200, 210)],
        "k bigint, g bigint, v double, p string",
    )
    snap = ice.merge_into(spark, loc, src, on_cols=["k"])
    assert snap["summary"]["operation"] == "overwrite"
    got = {r["k"]: (r["v"], r["p"]) for r in ice.read_iceberg(spark, loc).collect()}
    assert len(got) == 110
    assert got[45] == (45000.0, "A")   # matched: updated
    assert got[10] == (100.0, "A")     # in key range, unmatched: untouched
    assert got[205] == (205.0, "C")    # inserted, partition from source


def test_iceberg_merge_bounds_prune_rewrite_set(spark, tmp_path):
    """A source whose key range misses most files rewrites ONLY the
    bounds-overlapping candidates — the untouched files' paths
    survive identical into the new snapshot (EXISTING, not copied)."""
    loc, _ = _mini_table(spark, tmp_path, "merge_prune")
    pre = set(ice.plan_files(loc)[0])
    src = spark.createDataFrame(
        [(99, 0, -1.0, "B"), (150, 0, -2.0, "B")],
        "k bigint, g bigint, v double, p string",
    )
    snap = ice.merge_into(spark, loc, src, on_cols=["k"])
    post = set(ice.plan_files(loc)[0])
    surviving = pre & post
    assert surviving, "bounds pruning rewrote every file"
    assert int(snap["summary"]["deleted-data-files"]) < len(pre)
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got[99] == -1.0 and got[150] == -2.0 and len(got) == 101


def test_iceberg_merge_contract_errors(spark, tmp_path):
    loc, _ = _mini_table(spark, tmp_path, "merge_err")
    src = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    with pytest.raises(ValueError, match="lacks table columns"):
        ice.merge_into(spark, loc, src, on_cols=["k"])
    full = spark.createDataFrame(
        [(1, 1, 2.0, "A")], "k bigint, g bigint, v double, p string"
    )
    with pytest.raises(ValueError, match="partition columns"):
        ice.merge_into(spark, loc, full, on_cols=["k"], update_cols=["p"])


@pytest.mark.parametrize("nmbs, kept", [
    (None, [(2, "b"), (None, "n")]),
    ("delete", []),
    ("update", [(2, "gone"), (None, "gone")]),
])
def test_iceberg_merge_null_keys(spark, tmp_path, nmbs, kept):
    """SQL equality in the one-join MERGE: a NULL-keyed source row is
    inserted, and a NULL-keyed target row is never matched — it
    passes through, or takes the NOT MATCHED BY SOURCE action like
    any other target-only row."""
    loc = str(tmp_path / "merge_nulls")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "n")], "k bigint, v string"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    src = spark.createDataFrame(
        [(1, "A"), (None, "S"), (5, "E")], "k bigint, v string"
    )
    if nmbs == "update":
        nmbs = {"v": F.lit("gone")}
    ice.merge_into(spark, loc, src, on_cols=["k"],
                   not_matched_by_source=nmbs)
    got = sorted(
        (tuple(r) for r in ice.read_iceberg(spark, loc).collect()),
        key=repr,
    )
    want = [(1, "A"), (None, "S"), (5, "E")] + kept
    assert got == sorted(want, key=repr)


def test_iceberg_merge_job_count(spark, tmp_path):
    """Pins the Spark jobs a small upsert runs: one source-validation
    aggregate (cast check, cardinality and key bounds together) and
    one full-outer-join write. Three separate source checks plus a
    left join and an anti-join over the candidates used to take 10."""
    loc = str(tmp_path / "merge_jobs")
    df = spark.createDataFrame(
        [(k, float(k), "ABC"[k % 3]) for k in range(30)],
        "k bigint, v double, p string",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["p"])
    ice.append(spark, loc, df)
    src = spark.createDataFrame(
        [(4, 400.0, "B"), (99, 99.0, "A")], "k bigint, v double, p string"
    )
    sc = spark.sparkContext
    group = f"merge-jobs-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        ice.merge_into(spark, loc, src, on_cols=["k"])
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 6
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert len(got) == 31 and got[4] == 400.0 and got[99] == 99.0


def test_iceberg_add_column_evolution(spark, tmp_path):
    """Metadata-only ADD COLUMN: zero data files change, old rows
    read as typed nulls, new appends carry values, and bounds
    pruning on the evolved column conservatively keeps old files."""
    loc, _ = _mini_table(spark, tmp_path, "evo_tbl")
    files_before = set(ice.plan_files(loc)[0])
    ice.add_column(loc, "tag", "long")
    assert set(ice.plan_files(loc)[0]) == files_before  # no rewrite
    df = ice.read_iceberg(spark, loc)
    assert df.columns == ["k", "g", "v", "p", "tag"]
    assert df.filter(F.col("tag").isNull()).count() == 100
    ice.append(
        spark,
        loc,
        spark.createDataFrame(
            [(500, 2, 1.5, "B", 7)], "k bigint, g bigint, v double, p string, tag bigint"
        ),
    )
    # bounds filter on the evolved column: old files lack bounds -> kept
    files, _ = ice.plan_files(loc, filters=[("tag", ">=", 7)])
    assert files_before <= set(files)
    got = ice.read_iceberg(spark, loc, filters=[("tag", ">=", 7)]).collect()
    assert [(r["k"], r["tag"]) for r in got] == [(500, 7)]
    with pytest.raises(ValueError, match="already exists"):
        ice.add_column(loc, "tag", "long")
    with pytest.raises(ValueError, match="unsupported type"):
        ice.add_column(loc, "t2", "uuid")


def test_iceberg_compact_and_expire(spark, tmp_path):
    """Compaction collapses to one file per partition under a
    'replace' snapshot; pre-compaction snapshots stay readable until
    expire_snapshots reclaims exactly the unreachable files."""
    loc, df = _mini_table(spark, tmp_path, "compact_tbl")
    ice.append(spark, loc, df.filter(F.col("k") < 10))  # more small files
    snap_pre = ice.read_table_meta(loc)["current-snapshot-id"]
    n_pre = len(ice.plan_files(loc)[0])
    snap = ice.compact_files(spark, loc)
    assert snap["summary"]["operation"] == "replace"
    files, _ = ice.plan_files(loc)
    assert len(files) == 2 and n_pre > 2  # partitions A, B
    # pre-compaction snapshot still time-travelable
    assert ice.read_iceberg(spark, loc, snapshot_id=snap_pre).count() == 110
    res = ice.expire_snapshots(loc, keep_last=1)
    assert res["removed_snapshots"] == 2 and res["removed_files"] > 0
    import os as _os

    on_disk = set(ice._list_parquet(_os.path.join(loc, "data")))
    assert on_disk == set(ice.plan_files(loc)[0])
    assert ice.read_iceberg(spark, loc).count() == 110
    with pytest.raises(ValueError, match="not in"):
        ice.read_iceberg(spark, loc, snapshot_id=snap_pre)
    with pytest.raises(ValueError, match="keep_last"):
        ice.expire_snapshots(loc, keep_last=0)


def test_iceberg_compact_empty_table_raises(spark, tmp_path):
    loc = str(tmp_path / "empty_tbl")
    df = spark.createDataFrame([(1,)], "k bigint")
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    with pytest.raises(ValueError, match="nothing to compact"):
        ice.compact_files(spark, loc)


def test_iceberg_incremental_scan(spark, tmp_path):
    """read_incremental returns exactly the rows added in-range,
    never existing files; overwrites in range are rejected; empty
    range yields an empty typed frame."""
    loc, df = _mini_table(spark, tmp_path, "incr_tbl")
    snaps = [ice.read_table_meta(loc)["current-snapshot-id"]]
    batch2 = spark.createDataFrame(
        [(200 + i, 0, float(i), "B") for i in range(5)],
        "k bigint, g bigint, v double, p string",
    )
    ice.append(spark, loc, batch2)
    snaps.append(ice.read_table_meta(loc)["current-snapshot-id"])
    got = sorted(
        r["k"] for r in ice.read_incremental(spark, loc, snaps[0]).collect()
    )
    assert got == [200, 201, 202, 203, 204]
    # empty range: from == to
    empty = ice.read_incremental(spark, loc, snaps[1], snaps[1])
    assert empty.count() == 0 and empty.columns == ["k", "g", "v", "p"]
    with pytest.raises(ValueError, match="precedes"):
        ice.read_incremental(spark, loc, snaps[1], snaps[0])
    with pytest.raises(ValueError, match="not in"):
        ice.read_incremental(spark, loc, 12345)
    ice.delete_where(spark, loc, [("k", "=", 200)])
    with pytest.raises(ValueError, match="non-append"):
        ice.read_incremental(spark, loc, snaps[0])


def test_iceberg_sorted_compaction_prunes_on_sort_key(spark, tmp_path):
    """OPTIMIZE..SORT BY: range-clustered rewrite gives files
    DISJOINT sort-key bounds, so a key predicate prunes whole files
    at the manifest level — unsorted compaction cannot."""
    loc, df = _mini_table(spark, tmp_path, "sortc_tbl")
    ice.compact_files(spark, loc, sort_by="k", n_slices=4)
    files, total = ice.plan_files(loc)
    assert total >= 4  # sliced, not one-file-per-partition
    hit, _ = ice.plan_files(loc, filters=[("k", "<", 5)])
    assert 0 < len(hit) < len(files), (len(hit), len(files))
    # data unchanged
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(100))
    # bounds really are disjoint per partition value: each file's
    # k-range must not overlap another file of the same partition
    meta = ice.read_table_meta(loc)
    by_part = {}
    kid = str(next(f["id"] for f in meta["schema"]["fields"]
                   if f["name"] == "k"))
    snap = meta["snapshots"][-1]
    from mcp_iceberg_duckdb_spark.sources.avro_io import read_container
    _, manifests = read_container(open(snap["manifest-list"], "rb").read())
    for m in manifests:
        _, entries = read_container(open(m["manifest_path"], "rb").read())
        for e in entries:
            if e["status"] == 2:
                continue
            d = e["data_file"]
            lo = ice.decode_bound("long", d["lower_bounds"][kid])
            hi = ice.decode_bound("long", d["upper_bounds"][kid])
            by_part.setdefault(d["partition"]["p"], []).append((lo, hi))
    for part, ranges in by_part.items():
        ranges.sort()
        for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
            assert h1 <= l2, (part, ranges)


def test_murmur3_spec_vectors():
    """The Iceberg spec's own appendix-B bucket-hash test vectors:
    hash(34) as int/long and hash('iceberg') as string."""
    assert ice._murmur3_32((34).to_bytes(8, "little", signed=True)) in (
        2017239379,
    )
    assert ice._murmur3_32("iceberg".encode()) == 1210000089
    # int and long bucket identically (spec: ints hash as longs)
    assert ice.bucket_value(34, "int", 16) == ice.bucket_value(34, "long", 16)
    with pytest.raises(ValueError, match="unsupported"):
        ice.bucket_value(1.5, "double", 4)


def test_iceberg_bucket_hidden_partitioning(spark, tmp_path):
    """bucket[N] partitioning: rows route by murmur3 bucket id, the
    reader never supplies the partition column, and an EQUALITY on
    the source column prunes to the one bucket at the manifest
    level."""
    loc = str(tmp_path / "bucket_tbl")
    df = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(200)],
        "k bigint, name string, v double",
    )
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=[("k", "bucket", 8)]
    )
    ice.append(spark, loc, df)
    # schema columns only — the bucket col is hidden
    out = ice.read_iceberg(spark, loc)
    assert out.columns == ["k", "name", "v"]
    assert sorted(r["k"] for r in out.collect()) == list(range(200))
    all_files, total = ice.plan_files(loc)
    assert len({f.split("k_bucket=")[1].split("/")[0] for f in all_files}) == 8
    # equality on k prunes to the single matching bucket
    hit, _ = ice.plan_files(loc, filters=[("k", "=", 42)])
    want_bucket = ice.bucket_value(42, "long", 8)
    assert hit and all(f"k_bucket={want_bucket}/" in f for f in hit)
    assert len(hit) < len(all_files)
    got = ice.read_iceberg(spark, loc, filters=[("k", "=", 42)]).collect()
    assert [(r["k"], r["name"]) for r in got] == [(42, "u42")]
    # range predicates cannot use the bucket but still bounds-prune
    rng = ice.read_iceberg(spark, loc, filters=[("k", "<", 3)])
    assert sorted(r["k"] for r in rng.collect()) == [0, 1, 2]


def test_iceberg_bucket_dml_and_maintenance(spark, tmp_path):
    """CoW DELETE/UPDATE/MERGE and compaction on a bucket-partitioned
    table; updating the bucket SOURCE column is rejected."""
    loc = str(tmp_path / "bucket_dml")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    )
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=[("k", "bucket", 4)]
    )
    ice.append(spark, loc, df)
    with pytest.raises(ValueError, match="partition columns"):
        ice.update_where(spark, loc, [("v", ">=", 0.0)], {"k": 999})
    ice.update_where(spark, loc, [("k", "=", 10)], {"v": -1.0})
    ice.delete_where(spark, loc, [("k", "=", 11)])
    src = spark.createDataFrame(
        [(12, 1200.0), (500, 500.0)], "k bigint, v double"
    )
    ice.merge_into(spark, loc, src, on_cols=["k"])
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got[10] == -1.0 and 11 not in got
    assert got[12] == 1200.0 and got[500] == 500.0 and len(got) == 100
    ice.compact_files(spark, loc)
    files, _ = ice.plan_files(loc)
    assert len(files) == 4  # one per bucket
    got2 = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got2 == got


def test_iceberg_truncate_partitioning(spark, tmp_path):
    """truncate[W] partitioning: JVM-side floor-to-W routing, range
    AND equality pruning (order-preserving), negatives round down
    per the spec's floor-mod."""
    assert ice.truncate_value(-1, "long", 10) == -10
    assert ice.truncate_value(19, "long", 10) == 10
    assert ice.truncate_value("iceberg", "string", 3) == "ice"
    loc = str(tmp_path / "trunc_tbl")
    df = spark.createDataFrame(
        [(i - 20, float(i)) for i in range(120)], "k bigint, v double"
    )
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=[("k", "truncate", 25)]
    )
    ice.append(spark, loc, df)
    out = ice.read_iceberg(spark, loc)
    assert out.columns == ["k", "v"]
    assert out.count() == 120
    all_files, _ = ice.plan_files(loc)
    # partitions: floor(k/25)*25 for k in [-20, 100) -> -25,0,25,50,75
    assert len({f.split("k_trunc=")[1].split("/")[0] for f in all_files}) == 5
    eq, _ = ice.plan_files(loc, filters=[("k", "=", 30)])
    assert all("k_trunc=25/" in f for f in eq) and len(eq) < len(all_files)
    lt, _ = ice.plan_files(loc, filters=[("k", "<", 0)])
    assert all("k_trunc=-25/" in f for f in lt)
    ge, _ = ice.plan_files(loc, filters=[("k", ">=", 80)])
    assert all("k_trunc=75/" in f for f in ge)
    got = sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, filters=[("k", "<", -15)])
        .collect()
    )
    assert got == [-20, -19, -18, -17, -16]


def test_iceberg_temporal_partitioning(spark, tmp_path):
    """year/month/day transforms on date columns: JVM-side hidden
    routing, monotone range pruning on the partition ordinal (filter
    values are epoch days, matching the date bound encoding)."""
    import datetime

    assert ice.temporal_value(0, "year") == 0
    assert ice.temporal_value(365, "year") == 1       # 1971-01-01
    assert ice.temporal_value(31, "month") == 1       # 1970-02-01
    assert ice.temporal_value(59, "month") == 2       # 1970-03-01
    assert ice.temporal_value(12345, "day") == 12345
    loc = str(tmp_path / "temporal_tbl")
    epoch = datetime.date(1970, 1, 1)
    rows = [
        (i, epoch + datetime.timedelta(days=19000 + 30 * i))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "k bigint, d date")
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=[("d", "month")]
    )
    ice.append(spark, loc, df)
    out = ice.read_iceberg(spark, loc)
    assert out.columns == ["k", "d"] and out.count() == 12
    all_files, _ = ice.plan_files(loc)
    months = {f.split("d_month=")[1].split("/")[0] for f in all_files}
    assert len(months) >= 11  # ~monthly spread
    # equality on the source date prunes to its month
    probe = 19000 + 30 * 5
    hit, _ = ice.plan_files(loc, filters=[("d", "=", probe)])
    want = ice.temporal_value(probe, "month")
    assert hit and all(f"d_month={want}/" in f for f in hit)
    assert len(hit) < len(all_files)
    # range: everything strictly before the probe month
    lo, _ = ice.plan_files(loc, filters=[("d", "<", 19000 + 30 * 2)])
    assert 0 < len(lo) < len(all_files)
    assert all(
        int(f.split("d_month=")[1].split("/")[0])
        <= ice.temporal_value(19000 + 60, "month")
        for f in lo
    )
    # non-date sources are rejected at create time
    df2 = spark.createDataFrame([(1,)], "k bigint")
    with pytest.raises(ValueError, match="requires a date or timestamp"):
        ice.create_table(
            str(tmp_path / "bad"),
            ice.spark_schema_to_iceberg(df2),
            part_cols=[("k", "month")],
        )


def test_iceberg_compact_unpartitioned_byte_sized(spark, tmp_path):
    """VERDICT r10 item 2: compacting an unpartitioned table slices
    output by bytes (ceil(input/target)) instead of coalesce(1) — a
    100 TB unpartitioned table must compact to bounded files, not one
    blob. Values and row count survive the rewrite."""
    import os as _os

    loc = str(tmp_path / "flat_tbl")
    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("s"),
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    # several appends -> several small live files
    for i in range(4):
        ice.append(
            spark, loc, df.filter((F.col("k") % 4) == i).repartition(3)
        )
    live = ice.plan_files(loc)[0]
    total_bytes = sum(_os.path.getsize(p) for p in live)
    target = max(1, total_bytes // 3)  # expect ~3-4 output slices
    snap = ice.compact_files(spark, loc, target_file_bytes=target)
    assert snap["summary"]["operation"] == "replace"
    files, _ = ice.plan_files(loc)
    import math

    assert 1 < len(files) == math.ceil(total_bytes / target)
    got = ice.read_iceberg(spark, loc)
    assert got.count() == 20_000
    assert got.agg(F.sum("k")).first()[0] == sum(range(20_000))
    # and the default 128 MB target leaves this tiny table at 1 file
    snap2 = ice.compact_files(spark, loc)
    assert int(snap2["summary"]["added-data-files"]) == 1


def test_optimize_target_size_sql(spark, tmp_path):
    """OPTIMIZE ... TARGET SIZE n reaches byte-sized slicing through
    the SQL surface."""
    from mcp_iceberg_duckdb_spark.sources.fs_catalog import FsCatalog

    cat = FsCatalog(str(tmp_path / "wh"))
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.flat (k bigint, s string)")
    run("INSERT INTO default.flat SELECT id, concat('v', id)"
        " FROM (SELECT explode(sequence(0, 9999)) AS id)")
    loc = cat._resolve("default.flat")[2]
    import os as _os

    total = sum(_os.path.getsize(p) for p in ice.plan_files(loc)[0])
    res = run(
        f"OPTIMIZE default.flat TARGET SIZE {max(1, total // 2)}"
    )[0]
    assert int(res["new_files"]) >= 2
    assert run("SELECT count(*) AS n FROM default.flat f").collect()[0]["n"] == 10_000


# ---- round 11: merge-on-read position deletes (spec v2) ----


def test_iceberg_mor_delete_no_rewrite(spark, tmp_path):
    """MoR DELETE writes position-delete files and touches NO data
    file: the live data-file set is byte-identical across the commit,
    the snapshot reports zero rewritten files, and the read path
    masks exactly the matched rows."""
    loc, _ = _mini_table(spark, tmp_path, "mor_tbl")
    pre_files = set(ice.plan_files(loc)[0])
    pre_sizes = {p: __import__("os").path.getsize(p) for p in pre_files}
    snap = ice.delete_where(
        spark, loc, [("p", "=", "A"), ("k", "<", 10)], mode="mor"
    )
    assert snap["summary"]["operation"] == "delete"
    assert snap["summary"]["deleted-data-files"] == "0"
    assert int(snap["summary"]["added-delete-files"]) >= 1
    assert int(snap["summary"]["added-position-deletes"]) == 10
    post_files = set(ice.plan_files(loc)[0])
    assert post_files == pre_files  # plan/no-rewrite assertion
    import os as _os

    assert {p: _os.path.getsize(p) for p in post_files} == pre_sizes
    assert ice.plan_delete_files(loc)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(10, 100))
    # format version bumped to the spec version that has delete files
    assert ice.read_table_meta(loc)["format-version"] == 2


def test_iceberg_mor_time_travel_and_stacking(spark, tmp_path):
    """Snapshots before a MoR delete read the full data; stacked MoR
    deletes compose; re-deleting already-deleted rows adds zero
    positions (idempotent)."""
    loc, _ = _mini_table(spark, tmp_path, "mor_tt")
    snap0 = ice.read_table_meta(loc)["current-snapshot-id"]
    ice.delete_where(spark, loc, [("k", "<", 10)], mode="mor")
    snap1 = ice.read_table_meta(loc)["current-snapshot-id"]
    ice.delete_where(spark, loc, [("k", ">=", 90)], mode="mor")
    assert ice.read_iceberg(spark, loc, snapshot_id=snap0).count() == 100
    assert ice.read_iceberg(spark, loc, snapshot_id=snap1).count() == 90
    assert ice.read_iceberg(spark, loc).count() == 80
    again = ice.delete_where(spark, loc, [("k", "<", 10)], mode="mor")
    assert again["summary"]["added-position-deletes"] == "0"
    assert again["summary"]["added-delete-files"] == "0"
    assert ice.read_iceberg(spark, loc).count() == 80


def test_iceberg_mor_then_cow_interplay(spark, tmp_path):
    """A CoW UPDATE after a MoR delete must not resurrect the deleted
    rows: rewritten files read THROUGH the deletes, and delete files
    still referencing untouched files are carried forward."""
    loc, _ = _mini_table(spark, tmp_path, "mor_cow")
    ice.delete_where(spark, loc, [("k", "<", 5)], mode="mor")  # in p=A
    ice.delete_where(spark, loc, [("k", ">=", 95)], mode="mor")  # in p=B
    # CoW update confined to partition A: B's delete file must be
    # carried forward, A's (fully dangled by the rewrite) dropped
    snap = ice.update_where(
        spark, loc, [("p", "=", "A")], {"v": F.col("v") + 0.5}
    )
    assert snap["summary"]["operation"] == "overwrite"
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert len(got) == 90  # 5 + 5 rows still deleted
    assert min(got) == 5 and max(got) == 94
    assert got[5] == 50.5 and got[60] == 600.0
    # B's mask survives as a carried-forward delete file
    assert len(ice.plan_delete_files(loc)) == 1


def test_iceberg_mor_compaction_materializes_deletes(spark, tmp_path):
    """Compaction reads through MoR deletes, rewrites every data
    file, and retires every delete file; expire then reclaims the
    orphaned delete parquet from disk."""
    import os as _os

    loc, _ = _mini_table(spark, tmp_path, "mor_compact")
    ice.append(spark, loc, spark.createDataFrame(
        [(100 + i, i % 3, float(i), "A") for i in range(10)],
        "k bigint, g bigint, v double, p string",
    ))
    ice.delete_where(spark, loc, [("k", "<", 20)], mode="mor")
    assert ice.plan_delete_files(loc)
    snap = ice.compact_files(spark, loc)
    assert snap["summary"]["operation"] == "replace"
    assert ice.plan_delete_files(loc) == []
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(20, 110))
    on_disk_deletes = ice._list_parquet(_os.path.join(loc, "deletes"))
    assert on_disk_deletes  # still reachable via older snapshots
    ice.expire_snapshots(loc, keep_last=1)
    assert ice._list_parquet(_os.path.join(loc, "deletes")) == []
    assert sorted(
        r["k"] for r in ice.read_iceberg(spark, loc).collect()
    ) == list(range(20, 110))


def test_iceberg_mor_merge_and_incremental_contracts(spark, tmp_path):
    """MERGE after a MoR delete does not resurrect masked rows, and
    an incremental scan crossing a 'delete' snapshot raises (a
    changelog would be required)."""
    loc, _ = _mini_table(spark, tmp_path, "mor_merge")
    snap0 = ice.read_table_meta(loc)["current-snapshot-id"]
    ice.delete_where(spark, loc, [("k", "<", 3)], mode="mor")
    src = spark.createDataFrame(
        [(1, 1, 111.0, "A"), (200, 2, 2.0, "C")],
        "k bigint, g bigint, v double, p string",
    )
    ice.merge_into(spark, loc, src, on_cols=["k"])
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    # k=1 was MoR-deleted -> MERGE sees no match -> INSERT branch
    assert got[1] == 111.0 and got[200] == 2.0
    assert 0 not in got and 2 not in got and len(got) == 99
    with pytest.raises(ValueError, match="non-append"):
        ice.read_incremental(spark, loc, snap0)


def test_iceberg_mor_prune_filters_bound_candidates(spark, tmp_path):
    """The MoR scan of candidate files is pruning-bounded exactly
    like the CoW rewrite set: a partition predicate only reads the
    matching partition's files (cheaper delete planning), and the
    result is still exact."""
    loc, _ = _mini_table(spark, tmp_path, "mor_prune")
    snap = ice.delete_where(spark, loc, [("p", "=", "B")], mode="mor")
    assert int(snap["summary"]["added-position-deletes"]) == 50
    assert sorted(
        r["k"] for r in ice.read_iceberg(spark, loc).collect()
    ) == list(range(50))


def test_iceberg_mor_update_appends_not_rewrites(spark, tmp_path):
    """MoR UPDATE: matched rows are position-deleted and their
    updated versions appended in ONE 'overwrite' snapshot — every
    pre-existing data file survives byte-identical, and the read sees
    exactly the updated values."""
    import os as _os

    loc, _ = _mini_table(spark, tmp_path, "mor_upd")
    pre = {p: _os.path.getsize(p) for p in ice.plan_files(loc)[0]}
    snap = ice.mor_update_where(
        spark, loc, F.col("k") < 10, {"v": F.col("v") + 0.25}
    )
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["added-position-deletes"] == "10"
    assert int(snap["summary"]["added-data-files"]) >= 1
    post = set(ice.plan_files(loc)[0])
    assert set(pre) < post  # old files all survive, new ones appended
    assert all(_os.path.getsize(p) == pre[p] for p in pre)
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert len(got) == 100
    assert got[3] == 30.25 and got[50] == 500.0


def test_iceberg_mor_update_moves_partition(spark, tmp_path):
    """The CoW path must reject partition-column SETs; MoR UPDATE
    re-routes the appended row to its new partition instead — and the
    old partition's file is untouched."""
    loc, _ = _mini_table(spark, tmp_path, "mor_move")
    with pytest.raises(ValueError, match="partition column"):
        ice.update_where(spark, loc, [("k", "=", 1)], {"p": F.lit("B")})
    ice.mor_update_where(
        spark, loc, F.col("k") <= 1, {"p": F.lit("B")}
    )
    got = {r["k"]: r["p"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got[0] == "B" and got[1] == "B" and got[2] == "A"
    assert len(got) == 100
    # manifest pruning on the NEW partition value finds the moved rows
    files, total = ice.plan_files(loc, filters=(("p", "=", "B"),))
    moved = ice.read_iceberg(spark, loc, filters=(("p", "=", "B"),))
    assert moved.count() == 52 and len(files) < total


def test_iceberg_mor_read_plan_broadcasts_deletes(spark, tmp_path):
    """Scale shape of the MoR read: small position-delete sets apply
    as a BROADCAST left-anti join — the 100 TB data side is never
    shuffled on (file, pos); only the KB-sized delete relation
    moves."""
    from mcp_iceberg_duckdb_spark.plans import explain_str

    loc, _ = _mini_table(spark, tmp_path, "mor_plan")
    ice.delete_where(spark, loc, [("k", "<", 10)], mode="mor")
    plan = explain_str(ice.read_iceberg(spark, loc))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_iceberg_mor_merge_upsert(spark, tmp_path):
    """MoR MERGE: matched targets position-deleted, merged versions +
    inserts appended, pre-existing data files byte-identical; result
    rows equal the CoW merge semantics; duplicate source keys and
    ON-key updates rejected."""
    import os as _os

    loc, _ = _mini_table(spark, tmp_path, "mor_merge2")
    pre = {p: _os.path.getsize(p) for p in ice.plan_files(loc)[0]}
    src = spark.createDataFrame(
        [(k, k % 3, float(k * 1000), "A" if k < 50 else "B")
         for k in range(40, 60)]
        + [(k, k % 3, float(k), "C") for k in range(200, 210)],
        "k bigint, g bigint, v double, p string",
    )
    snap = ice.mor_merge_into(spark, loc, src, on_cols=["k"])
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["added-position-deletes"] == "20"
    assert snap["summary"]["deleted-data-files"] == "0"
    assert all(
        _os.path.getsize(p) == pre[p] for p in pre
    ) and set(pre) < set(ice.plan_files(loc)[0])
    got = {r["k"]: (r["v"], r["p"])
           for r in ice.read_iceberg(spark, loc).collect()}
    assert len(got) == 110
    assert got[45] == (45000.0, "A")   # matched: updated, partition kept
    assert got[10] == (100.0, "A")     # unmatched target: untouched
    assert got[205] == (205.0, "C")    # inserted, own partition
    with pytest.raises(ValueError, match="cardinality"):
        ice.mor_merge_into(
            spark, loc, src.unionByName(src.limit(1)), on_cols=["k"]
        )
    with pytest.raises(ValueError, match="ON key"):
        ice.mor_merge_into(spark, loc, src, on_cols=["k"],
                           update_cols=["k", "v"])


def test_iceberg_identity_date_partition(spark, tmp_path):
    """Identity partitioning on a DATE column (the layout a reference
    user gets from PARTITIONED BY (a_date_col)): Spark writes ISO
    hive dirs, the manifest stores epoch days, and a typed date
    filter prunes at the manifest level. Round-11 fix: this crashed
    at append (int('2023-01-15')) before."""
    import datetime as _dt

    loc = str(tmp_path / "ident_date")
    df = spark.createDataFrame(
        [(i,) for i in range(6)], "k bigint"
    ).select(
        "k",
        F.expr("date_add(to_date('2023-01-15'), CAST(k * 31 AS INT))")
        .alias("d"),
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["d"])
    ice.append(spark, loc, df)
    got = {r["k"]: r["d"] for r in ice.read_iceberg(spark, loc).collect()}
    assert len(got) == 6 and got[0] == _dt.date(2023, 1, 15)
    epoch = (_dt.date(2023, 1, 15) - _dt.date(1970, 1, 1)).days
    files, total = ice.plan_files(loc, filters=(("d", "=", epoch),))
    assert len(files) == 1 and total == 6
    # the SQL surface's typed extraction reaches the same pruning
    from mcp_iceberg_duckdb_spark.sources.fs_catalog import (
        _parse,
        _where,
        _where_filters,
    )

    meta = ice.read_table_meta(loc)
    cond = _where(_parse(spark, "SELECT * FROM t WHERE d = '2023-01-15'")[0])
    assert _where_filters(cond, meta) == (("d", "=", epoch),)
    snap = ice.cow_rewrite_where(
        spark, loc, F.expr("d = '2023-01-15'"),
        lambda src, p: src.filter(~F.coalesce(p, F.lit(False))),
        prune_filters=(("d", "=", epoch),),
    )
    assert snap["summary"]["deleted-data-files"] == "1"
    assert ice.read_iceberg(spark, loc).count() == 5


def test_iceberg_merge_date_key_bounds_prune(spark, tmp_path):
    """ADVICE r11 item 3: a MERGE whose join key is a DATE column
    converts its source min/max to epoch days before pruning —
    plan_files stores date bounds as epoch-day ints, so a
    datetime.date literal used to TypeError and silently disable
    pruning. Two appends with disjoint date ranges -> merging keys in
    one range rewrites ONE candidate file, not both."""
    import datetime

    loc = str(tmp_path / "date_merge")
    d = datetime.date
    df1 = spark.createDataFrame(
        [(d(2024, 1, i), float(i)) for i in range(1, 11)],
        "dt date, v double",
    )
    df2 = spark.createDataFrame(
        [(d(2025, 6, i), float(100 + i)) for i in range(1, 11)],
        "dt date, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1.coalesce(1))
    ice.append(spark, loc, df2.coalesce(1))
    pre = set(ice.plan_files(loc)[0])
    assert len(pre) == 2
    src = spark.createDataFrame(
        [(d(2024, 1, 5), -5.0), (d(2024, 1, 20), -20.0)],
        "dt date, v double",
    )
    snap = ice.merge_into(spark, loc, src, on_cols=["dt"])
    assert int(snap["summary"]["deleted-data-files"]) == 1  # pruned!
    post = set(ice.plan_files(loc)[0])
    assert pre & post, "the 2025 file must survive untouched"
    got = {r["dt"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got[d(2024, 1, 5)] == -5.0        # matched: updated
    assert got[d(2024, 1, 20)] == -20.0      # inserted
    assert got[d(2025, 6, 3)] == 103.0       # untouched
    assert len(got) == 21
    # MoR flavor prunes the same way: delete files reference only the
    # in-range data file's rows
    snap2 = ice.mor_merge_into(
        spark,
        loc,
        spark.createDataFrame([(d(2025, 6, 2), 0.0)], "dt date, v double"),
        on_cols=["dt"],
    )
    assert int(snap2["summary"]["added-position-deletes"]) == 1
    got2 = {r["dt"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got2[d(2025, 6, 2)] == 0.0 and len(got2) == 21


def test_iceberg_mor_delete_files_scoped_to_scan(spark, tmp_path):
    """VERDICT r11 item 1: a partition-pruned read plans only the
    delete files that can reference its planned data files — delete
    manifests carry min/max referenced-path bounds and survivors'
    exact refs intersect the planned set — while values stay exact
    and the unpruned read still applies everything."""
    loc, _ = _mini_table(spark, tmp_path, "mor_scope")  # p=A: k<50
    ice.delete_where(spark, loc, [("p", "=", "A"), ("k", "<", 5)],
                     mode="mor")
    ice.delete_where(spark, loc, [("p", "=", "B"), ("k", ">=", 95)],
                     mode="mor")
    stats: dict = {}
    got = sorted(
        r["k"]
        for r in ice.read_iceberg(
            spark, loc, filters=[("p", "=", "A")], stats_out=stats
        ).collect()
    )
    assert got == list(range(5, 50))
    assert stats["delete_files_total"] >= 2
    assert stats["delete_files_planned"] < stats["delete_files_total"]
    # unpruned read applies ALL delete files, values exact
    full: dict = {}
    got_all = sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, stats_out=full).collect()
    )
    assert got_all == list(range(5, 95))
    assert full["delete_files_planned"] == full["delete_files_total"]


def test_iceberg_rewrite_position_deletes(spark, tmp_path):
    """VERDICT r11 item 3: N accumulated position-delete files
    compact to 1 WITHOUT touching any data file (paths identical),
    scan values identical, time travel to pre-rewrite snapshots
    intact."""
    loc, _ = _mini_table(spark, tmp_path, "rpd")
    pre_data = set(ice.plan_files(loc)[0])
    for hi in (5, 10, 15):
        ice.delete_where(spark, loc, [("k", "<", hi)], mode="mor")
    old_deletes = ice.plan_delete_files(loc)
    assert len(old_deletes) >= 3
    pre_snap = ice.read_table_meta(loc)["current-snapshot-id"]
    want = list(range(15, 100))
    snap = ice.rewrite_position_deletes(spark, loc)
    assert snap["summary"]["operation"] == "replace"
    assert int(snap["summary"]["rewritten-delete-files"]) == len(
        old_deletes
    )
    new_deletes = ice.plan_delete_files(loc)
    assert len(new_deletes) == 1
    assert not set(new_deletes) & set(old_deletes)
    assert set(ice.plan_files(loc)[0]) == pre_data  # data untouched
    assert (
        sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
        == want
    )
    # pre-rewrite snapshot still reads through the ORIGINAL files
    assert (
        sorted(
            r["k"]
            for r in ice.read_iceberg(
                spark, loc, snapshot_id=pre_snap
            ).collect()
        )
        == want
    )
    # idempotent no-op on a table with no delete files
    ice.compact_files(spark, loc)
    snap2 = ice.rewrite_position_deletes(spark, loc)
    assert snap2["summary"]["rewritten-delete-files"] == "0"


def test_iceberg_rewrite_deletes_drops_dead_refs(spark, tmp_path):
    """A delete file referencing BOTH a surviving and a rewritten
    data file is carried forward by CoW (live refs remain) but holds
    dead rows; the rewrite drops exactly those rows."""
    import pyarrow.parquet as pq

    loc = str(tmp_path / "rpd_dead")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 50)], "k bigint, v double"
    )
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 150)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1.coalesce(1))
    ice.append(spark, loc, df2.coalesce(1))
    # ONE MoR commit masking rows in BOTH files -> its delete file(s)
    # reference both
    ice.delete_where(
        spark,
        loc,
        [("k", ">=", 40), ("k", "<", 110)],
        mode="mor",
    )
    # CoW update bounds-pruned to file 2's range rewrites ONLY file 2
    ice.update_where(spark, loc, [("k", ">=", 100)], {"v": F.lit(-1.0)})
    carried = ice.plan_delete_files(loc)
    assert carried, "delete file with a live ref must be carried"
    old_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in carried)
    want = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert want == list(range(0, 40)) + list(range(110, 150))
    snap = ice.rewrite_position_deletes(spark, loc)
    assert int(snap["summary"]["rewritten-delete-files"]) == len(carried)
    new = ice.plan_delete_files(loc)
    new_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
    # dead rows (the rewritten file 2's positions) dropped: only the
    # 10 masks on the surviving file 1 remain
    assert new_rows == 10 < old_rows
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == want


def test_iceberg_equality_delete_basic(spark, tmp_path):
    """VERDICT r11 item 2: equality-delete files (spec v2 content=2)
    delete by KEY VALUE with zero data files read or rewritten; the
    read applies them as a sequence-scoped null-safe anti-join."""
    loc, _ = _mini_table(spark, tmp_path, "eq_basic")
    pre = set(ice.plan_files(loc)[0])
    keys = spark.createDataFrame([(k,) for k in range(10, 20)], "k bigint")
    snap = ice.mor_delete_keys(spark, loc, ["k"], keys)
    assert snap["summary"]["operation"] == "delete"
    assert snap["summary"]["added-equality-deletes"] == "10"
    assert snap["summary"]["deleted-data-files"] == "0"
    assert set(ice.plan_files(loc)[0]) == pre  # no data file touched
    assert ice.plan_delete_files(loc) == []  # not a position delete
    eq = ice.plan_equality_deletes(loc)
    assert len(eq) == 1 and eq[0][2] == [1]  # field-id of k
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(0, 10)) + list(range(20, 100))
    assert ice.read_table_meta(loc)["format-version"] == 2
    # contracts
    with pytest.raises(ValueError, match="not in schema"):
        ice.mor_delete_keys(spark, loc, ["nope"], keys)
    with pytest.raises(ValueError, match="lacks key columns"):
        ice.mor_delete_keys(
            spark, loc, ["v"], spark.createDataFrame([(1,)], "k bigint")
        )


def test_iceberg_equality_delete_sequencing(spark, tmp_path):
    """THE sequencing property: an equality delete applies only to
    data files with STRICTLY OLDER sequence numbers — a key
    re-inserted AFTER the delete survives, and a second delete kills
    it again. Time travel sees each epoch."""
    loc, _ = _mini_table(spark, tmp_path, "eq_seq", parted=False)
    keys = spark.createDataFrame([(5,), (6,)], "k bigint")
    ice.mor_delete_keys(spark, loc, ["k"], keys)
    mid_snap = ice.read_table_meta(loc)["current-snapshot-id"]
    # re-insert k=5 with a new value AFTER the delete
    ice.append(
        spark,
        loc,
        spark.createDataFrame([(5, 0, -555.0, "A")],
                              "k bigint, g bigint, v double, p string"),
    )
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert 6 not in got
    assert got[5] == -555.0  # the re-inserted row SURVIVES the delete
    assert len(got) == 99
    # time travel to the post-delete, pre-reinsert snapshot
    old = sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, snapshot_id=mid_snap).collect()
    )
    assert 5 not in old and 6 not in old and len(old) == 98
    # a SECOND equality delete (newer sequence) kills the new row too
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(5,)], "k bigint")
    )
    got2 = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert 5 not in got2 and len(got2) == 98


def test_iceberg_equality_delete_multi_key_and_nulls(spark, tmp_path):
    """Multi-column equality keys; NULL key values match null-safely
    (a delete row with NULL g deletes rows where g IS NULL)."""
    loc = str(tmp_path / "eq_null")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "a", 3.0), (4, None, 4.0)],
        "k bigint, tag string, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    dels = spark.createDataFrame(
        [(2, None), (3, "a")], "k bigint, tag string"
    )
    ice.mor_delete_keys(spark, loc, ["k", "tag"], dels)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [1, 4]


def test_iceberg_equality_delete_cow_and_compaction(spark, tmp_path):
    """CoW interplay: a bounds-pruned rewrite carries the equality
    delete for SURVIVING older files (still masked) while rewritten
    files re-enter at a newer sequence having read through the masks;
    compaction materializes everything and retires the delete."""
    loc = str(tmp_path / "eq_cow")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 50)], "k bigint, v double"
    )
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 150)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1.coalesce(1))
    ice.append(spark, loc, df2.coalesce(1))
    ice.mor_delete_keys(
        spark,
        loc,
        ["k"],
        spark.createDataFrame([(10,), (110,)], "k bigint"),
    )
    # CoW update bounds-pruned to file 2's range
    ice.update_where(spark, loc, [("k", ">=", 100)], {"v": F.lit(-1.0)})
    assert len(ice.plan_equality_deletes(loc)) == 1  # carried
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert 10 not in got and 110 not in got  # both still masked
    assert got[120] == -1.0 and got[5] == 5.0
    assert len(got) == 98
    # compaction reads through and retires the equality delete
    ice.compact_files(spark, loc)
    assert ice.plan_equality_deletes(loc) == []
    got2 = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got2 == got


def test_iceberg_rewrite_deletes_preserves_equality(spark, tmp_path):
    """rewrite_position_deletes compacts POSITION deletes only —
    live equality deletes survive with their original sequence
    numbers (re-listed in the fresh manifest)."""
    loc, _ = _mini_table(spark, tmp_path, "eq_rpd", parted=False)
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(0,)], "k bigint")
    )
    (eq_path, eq_seq, _) = ice.plan_equality_deletes(loc)[0]
    ice.delete_where(spark, loc, [("k", "<", 3)], mode="mor")
    ice.delete_where(spark, loc, [("k", "<", 5)], mode="mor")
    assert len(ice.plan_delete_files(loc)) >= 2
    ice.rewrite_position_deletes(spark, loc)
    assert len(ice.plan_delete_files(loc)) == 1
    eq_after = ice.plan_equality_deletes(loc)
    assert eq_after == [(eq_path, eq_seq, [1])]
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(5, 100))


def test_iceberg_sequence_numbers_monotonic(spark, tmp_path):
    """Every commit kind bumps last-sequence-number; snapshots record
    theirs; EXISTING files carried through CoW keep their ORIGINAL
    data sequence (the invariant equality scoping rests on)."""
    loc, _ = _mini_table(spark, tmp_path, "seqs")  # append = seq 1
    meta = ice.read_table_meta(loc)
    assert meta["last-sequence-number"] == 1
    assert meta["snapshots"][-1]["sequence-number"] == 1
    ice.delete_where(spark, loc, [("p", "=", "A"), ("k", "<", 2)],
                     mode="mor")  # seq 2
    ice.update_where(spark, loc, [("k", ">=", 98)],
                     {"v": F.lit(0.0)})  # CoW, seq 3
    meta = ice.read_table_meta(loc)
    assert meta["last-sequence-number"] == 3
    assert [s["sequence-number"] for s in meta["snapshots"]] == [1, 2, 3]
    seqs = ice._plan_file_seqs(loc)
    # untouched files keep seq 1; the rewritten candidate is at seq 3
    assert set(seqs.values()) == {1, 3}


def test_iceberg_deletes_on_paths_needing_uri_encoding(spark, tmp_path):
    """A partition VALUE with a space (TPC-H '4-NOT SPECIFIED' shape)
    makes the on-disk path differ from the URI form Spark's
    _metadata.file_path reports ('%20'). Every python-side path
    comparison — position-delete ref scoping, equality-delete
    sequence lookup, CoW carry decisions — must canonicalize via
    _uri_path or rows silently unmask / stay masked."""
    loc = str(tmp_path / "uri enc")  # space in the TABLE path too
    df = spark.createDataFrame(
        [(i, "NOT SPECIFIED" if i % 2 else "plain", float(i))
         for i in range(40)],
        "k bigint, p string, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["p"])
    ice.append(spark, loc, df)
    # position delete confined to the SPACED partition: scoping must
    # still plan its delete file when scanning that partition
    ice.delete_where(
        spark, loc, [("p", "=", "NOT SPECIFIED"), ("k", "<", 10)],
        mode="mor",
    )
    stats: dict = {}
    got = sorted(
        r["k"]
        for r in ice.read_iceberg(
            spark, loc, filters=[("p", "=", "NOT SPECIFIED")],
            stats_out=stats,
        ).collect()
    )
    assert got == [i for i in range(10, 40) if i % 2]
    assert stats["delete_files_planned"] >= 1
    # equality delete + re-insert in the spaced partition: sequence
    # lookup must resolve the %20 path (else __dseq=0 masks the
    # re-inserted row)
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(11,), (13,)], "k bigint")
    )
    ice.append(
        spark,
        loc,
        spark.createDataFrame(
            [(11, "NOT SPECIFIED", -11.0)], "k bigint, p string, v double"
        ),
    )
    got2 = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert 13 not in got2
    assert got2[11] == -11.0  # re-inserted row survives
    # CoW rewrite of the OTHER partition must carry the spaced
    # partition's delete files (refs compare in URI form)
    ice.update_where(
        spark, loc, [("p", "=", "plain"), ("k", ">=", 30)],
        {"v": F.lit(0.0)},
    )
    got3 = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    # survivors: every even row (plain partition), plus the odd rows
    # 11..39 minus the eq-deleted 13 (11 is the re-insert)
    assert got3 == sorted(
        [i for i in range(10, 40) if i % 2 and i != 13]
        + [i for i in range(40) if i % 2 == 0]
    )


def test_iceberg_rename_column_field_id_resolution(spark, tmp_path):
    """VERDICT r11 item 4: RENAME COLUMN keeps the field id, so files
    written BEFORE the rename (old parquet column name) still
    populate the new name — write -> rename -> append -> scan reads
    both generations correctly; a parquet-mergeSchema read would null
    the old generation."""
    loc = str(tmp_path / "ren")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k bigint, amount double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1)
    ice.rename_column(loc, "amount", "price")
    ice.append(
        spark,
        loc,
        spark.createDataFrame(
            [(i, float(i * 100)) for i in range(10, 20)],
            "k bigint, price double",
        ),
    )
    got = {r["k"]: r["price"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got[3] == 3.0        # pre-rename generation, resolved by id
    assert got[15] == 1500.0    # post-rename generation
    assert len(got) == 20
    # DML through the rename: predicate on the NEW name hits both
    # generations (CoW delete)
    ice.delete_where(spark, loc, [("price", ">=", 1500.0)])
    assert ice.read_iceberg(spark, loc).count() == 15
    with pytest.raises(ValueError, match="does not exist"):
        ice.rename_column(loc, "amount", "x")
    with pytest.raises(ValueError, match="already exists"):
        ice.rename_column(loc, "price", "k")


def test_iceberg_drop_column_no_resurrection(spark, tmp_path):
    """DROP COLUMN retires the field id: a later ADD COLUMN with the
    SAME NAME gets a fresh id, and old files' stale values must NOT
    resurrect into it (the property name-based mergeSchema cannot
    provide)."""
    loc = str(tmp_path / "dropres")
    df1 = spark.createDataFrame(
        [(i, f"old{i}", float(i)) for i in range(5)],
        "k bigint, tag string, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1)
    ice.drop_column(loc, "tag")
    assert [f["name"] for f in ice.read_table_meta(loc)["schema"]["fields"]] \
        == ["k", "v"]
    got = ice.read_iceberg(spark, loc)
    assert got.columns == ["k", "v"] and got.count() == 5
    # re-add the same NAME -> new field id
    ice.add_column(loc, "tag", "string")
    rows = {r["k"]: r["tag"] for r in ice.read_iceberg(spark, loc).collect()}
    assert all(v is None for v in rows.values()), (
        "dropped column's stale values resurrected into the re-added "
        "column"
    )
    # new writes populate the new field
    ice.append(
        spark,
        loc,
        spark.createDataFrame(
            [(100, 100.0, "new")], "k bigint, v double, tag string"
        ),
    )
    rows = {r["k"]: r["tag"] for r in ice.read_iceberg(spark, loc).collect()}
    assert rows[100] == "new" and rows[3] is None
    with pytest.raises(ValueError, match="partition column"):
        loc2 = str(tmp_path / "dp")
        d = spark.createDataFrame([(1, "a")], "k bigint, p string")
        ice.create_table(loc2, ice.spark_schema_to_iceberg(d),
                         part_cols=["p"])
        ice.drop_column(loc2, "p")


def test_iceberg_rename_through_mor_and_compaction(spark, tmp_path):
    """Renames compose with the v2 machinery: MoR deletes written
    before a rename still mask; compaction rewrites everything under
    the CURRENT names and collapses the generations."""
    loc = str(tmp_path / "ren_mor")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, amount double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1)
    ice.delete_where(spark, loc, [("k", "<", 3)], mode="mor")
    ice.rename_column(loc, "amount", "price")
    ice.append(
        spark,
        loc,
        spark.createDataFrame([(50, 50.0)], "k bigint, price double"),
    )
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(3, 20)) + [50]
    ice.compact_files(spark, loc)
    assert ice.plan_delete_files(loc) == []
    df = ice.read_iceberg(spark, loc)
    assert df.columns == ["k", "price"]
    got2 = {r["k"]: r["price"] for r in df.collect()}
    assert got2[5] == 5.0 and got2[50] == 50.0 and len(got2) == 18


def test_sql_rename_and_drop_column(spark, tmp_path):
    """ALTER TABLE ... RENAME COLUMN / DROP COLUMN through the SQL
    surface."""
    from mcp_iceberg_duckdb_spark.sources.fs_catalog import FsCatalog

    cat = FsCatalog(str(tmp_path / "wh"))
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, a double, b string)")
    run("INSERT INTO default.t VALUES (1, 1.5, 'x')")
    run("ALTER TABLE default.t RENAME COLUMN a TO amount")
    run("INSERT INTO default.t VALUES (2, 2.5, 'y')")
    got = {r["k"]: r["amount"]
           for r in run("SELECT k, amount FROM default.t").collect()}
    assert got == {1: 1.5, 2: 2.5}
    run("ALTER TABLE default.t DROP COLUMN b")
    desc = [r["col_name"] for r in run("DESCRIBE TABLE default.t")]
    assert desc == ["k", "amount"]


def test_iceberg_eq_delete_read_plan_broadcasts(spark, tmp_path):
    """Scale shape of the equality-delete read: the KB-sized key set
    AND the metadata-scale (path, seq) map both broadcast — the data
    side is never shuffled; no SortMergeJoin anywhere in the plan,
    and the anti-join keeps the sequence inequality as its residual
    condition."""
    from mcp_iceberg_duckdb_spark.plans import explain_str

    loc, _ = _mini_table(spark, tmp_path, "eq_plan", parted=False)
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([(1,), (2,)], "k bigint"),
    )
    plan = explain_str(ice.read_iceberg(spark, loc))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # sequence scoping survives as the anti-join's residual condition
    # (__eseq constant-folds to the literal commit sequence)
    assert "> __dseq" in plan


def test_iceberg_hive_escaped_partition_values(spark, tmp_path):
    """Spark writes identity string partitions through Hive
    escapePathName ('a:b' -> dir 'p=a%3Ab'); the manifest must store
    the REAL value or identity pruning on it silently drops every
    file (pruned read returned [] for data that exists — the
    data-loss shape). Covers read pruning, MoR position + equality
    deletes, CoW rewrite, and compaction over escaped values."""
    loc = str(tmp_path / "hive_esc")
    df = spark.createDataFrame(
        [(1, "a:b", 1.0), (2, "a=b", 2.0), (3, "plain", 3.0),
         (4, "a:b", 4.0), (5, "100%", 5.0)],
        "k bigint, p string, v double",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["p"])
    ice.append(spark, loc, df)
    # the dirs really are escaped on disk (else this test is vacuous)
    import os as _os

    dirs = set(_os.listdir(_os.path.join(loc, "data")))
    assert any("%3A" in d for d in dirs), dirs
    for val, want in (("a:b", [1, 4]), ("a=b", [2]), ("100%", [5])):
        stats: dict = {}
        got = sorted(
            r["k"]
            for r in ice.read_iceberg(
                spark, loc, filters=[("p", "=", val)], stats_out=stats
            ).collect()
        )
        assert got == want, (val, got)
        assert stats["files_planned"] < stats["files_total"]  # pruned
    # row-level ops on the escaped partition
    ice.delete_where(spark, loc, [("p", "=", "a:b"), ("k", "<", 2)],
                     mode="mor")
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(2,)], "k bigint")
    )
    ice.update_where(spark, loc, [("p", "=", "100%")], {"v": F.lit(-5.0)})
    got = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {3: 3.0, 4: 4.0, 5: -5.0}
    ice.compact_files(spark, loc)
    got2 = {r["k"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got2 == got


def test_iceberg_eq_delete_survives_key_rename(spark, tmp_path):
    """Equality-delete files carry the key columns' NAMES as of the
    delete; the manifest carries their FIELD IDS. A later RENAME
    COLUMN of the key must keep masking (positional resolution by
    equality_ids — the read used to crash on the new name), and key
    columns given in non-ascending field-id order must stay aligned."""
    loc = str(tmp_path / "eq_ren")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(3,)], "k bigint")
    )
    ice.rename_column(loc, "k", "kid")
    got = sorted(r["kid"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [i for i in range(10) if i != 3]
    # sequencing post-rename: a newer re-insert of the key survives
    ice.append(
        spark, loc,
        spark.createDataFrame([(3, -3.0)], "kid bigint, v double"),
    )
    got2 = {r["kid"]: r["v"] for r in ice.read_iceberg(spark, loc).collect()}
    assert got2[3] == -3.0
    # multi-key delete with REVERSED column order vs field-id order
    loc2 = str(tmp_path / "eq_rev")
    df2 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, tag string, v double"
    )
    ice.create_table(loc2, ice.spark_schema_to_iceberg(df2))
    ice.append(spark, loc2, df2)
    ice.mor_delete_keys(
        spark, loc2, ["tag", "k"],
        spark.createDataFrame([("b", 2)], "tag string, k bigint"),
    )
    got3 = sorted(r["k"] for r in ice.read_iceberg(spark, loc2).collect())
    assert got3 == [1]


def test_iceberg_drop_eq_delete_key_refused(spark, tmp_path):
    """Dropping a column that LIVE equality-delete files match on is
    refused loudly (the reader resolves equality_ids through the
    current schema; a silent KeyError on every subsequent read is the
    alternative). Compaction materializes the deletes, after which
    the drop succeeds."""
    loc = str(tmp_path / "eq_drop")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, tag string, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.mor_delete_keys(
        spark, loc, ["tag"], spark.createDataFrame([("b",)], "tag string")
    )
    with pytest.raises(ValueError, match="equality-delete"):
        ice.drop_column(loc, "tag")
    ice.compact_files(spark, loc)
    ice.drop_column(loc, "tag")
    got = [tuple(r) for r in ice.read_iceberg(spark, loc).collect()]
    assert got == [(1, 1.0)]


def test_iceberg_rename_chain_and_bounds_pruning(spark, tmp_path):
    """Field-id semantics through CHAINED renames (a -> b -> c): old
    generations resolve via the first schema-log boundary at or after
    their sequence; and bounds pruning on the NEWEST name still
    prunes OLD files because bounds maps are keyed by the stable
    field id, not the name."""
    loc = str(tmp_path / "ren_chain")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 50)], "k bigint, v double"
    )
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 150)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1.coalesce(1))
    ice.rename_column(loc, "k", "kid")
    ice.append(spark, loc, df2.coalesce(1).withColumnRenamed("k", "kid"))
    stats: dict = {}
    got = sorted(
        r["kid"]
        for r in ice.read_iceberg(
            spark, loc, filters=[("kid", ">=", 100)], stats_out=stats
        ).collect()
    )
    assert stats["files_planned"] == 1 < stats["files_total"]
    assert got == list(range(100, 150))
    ice.rename_column(loc, "kid", "ident")
    got2 = sorted(
        r["ident"] for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got2 == list(range(0, 50)) + list(range(100, 150))
    got3 = sorted(
        r["ident"]
        for r in ice.read_iceberg(
            spark, loc, filters=[("ident", "<", 10)]
        ).collect()
    )
    assert got3 == list(range(10))


def test_iceberg_expire_reclaims_rewritten_deletes(spark, tmp_path):
    """expire_snapshots after rewrite_position_deletes physically
    reclaims the retired position-delete files (unreachable from the
    kept snapshot) while the re-listed equality-delete file and the
    compacted position file survive; values stay exact."""
    import os as _os

    loc = str(tmp_path / "exp_rpd")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    for hi in (3, 6):
        ice.delete_where(spark, loc, [("k", "<", hi)], mode="mor")
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(29,)], "k bigint")
    )
    old = set(ice.plan_delete_files(loc))
    ice.rewrite_position_deletes(spark, loc)
    res = ice.expire_snapshots(loc, keep_last=1)
    assert res["removed_snapshots"] >= 3
    assert all(not _os.path.exists(p) for p in old)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(6, 29))
    eq = ice.plan_equality_deletes(loc)
    assert len(eq) == 1 and _os.path.exists(eq[0][0])


def test_iceberg_delete_reads_correct_without_broadcast(
    spark, tmp_path, monkeypatch
):
    """The size-gated broadcast is an OPTIMIZATION: with the gate
    forced shut (threshold -1, simulating >64 MB delete sets) both
    delete kinds still apply exactly through Spark's own join
    planning — the fallback path a 100 TB delete-heavy table would
    actually take."""
    monkeypatch.setattr(ice, "_BROADCAST_DELETE_BYTES", -1)
    loc = str(tmp_path / "nobcast")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.delete_where(spark, loc, [("k", "<", 5)], mode="mor")
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([(10,), (11,)], "k bigint"),
    )
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [i for i in range(5, 50) if i not in (10, 11)]


def test_iceberg_incremental_across_rename_and_compaction(spark, tmp_path):
    """read_incremental resolves each historical file's schema
    generation from ITS ADDING SNAPSHOT's sequence number: after a
    later compaction rewrites the current manifests, the current
    plan no longer knows those files, and falling back to sequence 0
    silently NULLed post-rename columns."""
    loc = str(tmp_path / "incr_ren")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    s1 = ice.append(spark, loc, df1)
    ice.rename_column(loc, "k", "kid")
    s2 = ice.append(
        spark, loc,
        spark.createDataFrame([(10, 10.0)], "kid bigint, v double"),
    )
    ice.compact_files(spark, loc)
    inc = ice.read_incremental(
        spark, loc, s1["snapshot-id"], s2["snapshot-id"]
    )
    assert [tuple(r) for r in inc.collect()] == [(10, 10.0)]

def test_iceberg_time_travel_across_rename_and_compaction(spark, tmp_path):
    """ADVICE r12 (medium): a TIME-TRAVEL read must resolve each
    file's schema generation from the REQUESTED snapshot's plan.
    After a later compaction, the current plan no longer knows the
    historical files; the old fallback resolved them to sequence 0
    (the pre-rename generation), silently NULLing the renamed
    column in every post-rename file."""
    loc = str(tmp_path / "tt_ren")
    df1 = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1)
    ice.rename_column(loc, "k", "kid")
    s2 = ice.append(
        spark, loc,
        spark.createDataFrame([(10, 10.0)], "kid bigint, v double"),
    )
    ice.compact_files(spark, loc)
    got = sorted(
        tuple(r)
        for r in ice.read_iceberg(
            spark, loc, snapshot_id=s2["snapshot-id"]
        ).collect()
    )
    assert got == [(i, float(i)) for i in range(5)] + [(10, 10.0)]


def test_iceberg_eq_delete_keys_strict_cast(spark, tmp_path):
    """ADVICE r12 (low): an un-castable equality-delete key must
    RAISE, not silently become NULL — a NULL key would null-safe
    anti-join away every table row whose key IS NULL."""
    loc = str(tmp_path / "eqd_strict")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "nullkey")], "k bigint, v string"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    with pytest.raises(ValueError, match="ANSI cast"):
        ice.mor_delete_keys(
            spark, loc, ["k"],
            spark.createDataFrame([("oops",)], "k string"),
        )
    # the NULL-keyed row is untouched, and castable string keys work
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([("2",)], "k string"),
    )
    got = {
        (r["k"], r["v"])
        for r in ice.read_iceberg(spark, loc).collect()
    }
    assert got == {(1, "a"), (None, "nullkey")}


def test_iceberg_partition_evolution_day_transform(spark, tmp_path):
    """VERDICT r12 item 1: start unpartitioned, evolve to a day()
    spec, append — a date-filtered scan prunes the NEW files exactly
    and still plans the OLD ones (conservatively via bounds), and
    values across both generations are correct."""
    import datetime

    loc = str(tmp_path / "evo_day")
    d0 = datetime.date(2023, 1, 1)
    old = spark.createDataFrame(
        [(i, d0 + datetime.timedelta(days=i % 3)) for i in range(10)],
        "k bigint, d date",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(old))
    ice.append(spark, loc, old)
    spec = ice.add_partition_field(loc, ("d", "day"))
    assert spec["spec-id"] == 1
    assert spec["fields"][-1]["name"] == "d_day"
    new = spark.createDataFrame(
        [(100 + i, d0 + datetime.timedelta(days=i)) for i in range(4)],
        "k bigint, d date",
    )
    ice.append(spark, loc, new)
    # full read spans both layouts
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == sorted(list(range(10)) + [100, 101, 102, 103])
    # date-filtered scan: epoch-day filter prunes new-spec files to
    # ONE day; old files keep planning (their bounds may still prune,
    # but never on the absent partition field)
    target = (d0 + datetime.timedelta(days=2) - datetime.date(1970, 1, 1)).days
    files, total = ice.plan_files(loc, filters=(("d", "=", target),))
    new_planned = [f for f in files if "d_day=" in f]
    # only the d_day partition matching the literal survives
    assert new_planned and all(
        f"d_day={target}" in f for f in new_planned
    )
    rows = ice.read_iceberg(
        spark, loc, filters=(("d", "=", target),)
    ).collect()
    assert sorted(r["k"] for r in rows) == [2, 5, 8, 102]


def test_iceberg_partition_evolution_identity(spark, tmp_path):
    """Identity-field evolution: old files carry the column
    PHYSICALLY, new files carry it only in the hive dir — the
    signature-grouped scan must read both without a duplicate-column
    conflict, and DELETE across both generations must value-match."""
    loc = str(tmp_path / "evo_id")
    old = spark.createDataFrame(
        [(1, "eu"), (2, "us"), (3, "eu")], "k bigint, r string"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(old))
    ice.append(spark, loc, old)
    ice.add_partition_field(loc, "r")
    new = spark.createDataFrame(
        [(4, "eu"), (5, "us")], "k bigint, r string"
    )
    ice.append(spark, loc, new)
    got = sorted(
        (r["k"], r["r"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == [(1, "eu"), (2, "us"), (3, "eu"), (4, "eu"), (5, "us")]
    # identity pruning on the NEW spec's manifests only
    files, total = ice.plan_files(loc, filters=(("r", "=", "eu"),))
    assert any("r=eu" in f for f in files)
    assert not any("r=us" in f for f in files)
    # CoW DELETE across both generations
    ice.delete_where(spark, loc, [("r", "=", "eu")])
    got = sorted(
        (r["k"], r["r"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == [(2, "us"), (5, "us")]


def test_iceberg_partition_evolution_drop_field(spark, tmp_path):
    """DROP PARTITION FIELD: new writes stop routing on the field;
    files from the partitioned generation still plan AND prune under
    their original spec."""
    loc = str(tmp_path / "evo_drop")
    df = spark.createDataFrame(
        [(1, "eu"), (2, "us")], "k bigint, r string"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df), part_cols=["r"])
    ice.append(spark, loc, df)
    spec = ice.drop_partition_field(loc, "r")
    assert spec["fields"] == []
    ice.append(
        spark, loc,
        spark.createDataFrame([(3, "eu")], "k bigint, r string"),
    )
    got = sorted(
        (r["k"], r["r"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == [(1, "eu"), (2, "us"), (3, "eu")]
    # the OLD manifests still prune on r; the new unpartitioned file
    # is kept by bounds or conservatively
    files, _ = ice.plan_files(loc, filters=(("r", "=", "eu"),))
    assert not any("r=us" in f for f in files)
    assert any("r=eu" in f for f in files)


def test_iceberg_partition_evolution_compaction(spark, tmp_path):
    """Compaction after evolution: all files (both layouts) rewrite
    under the CURRENT spec; values identical; pre-compaction
    snapshots still time-travel."""
    loc = str(tmp_path / "evo_compact")
    old = spark.createDataFrame(
        [(1, "eu"), (2, "us")], "k bigint, r string"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(old))
    s1 = ice.append(spark, loc, old)
    ice.add_partition_field(loc, "r")
    ice.append(
        spark, loc,
        spark.createDataFrame([(3, "eu")], "k bigint, r string"),
    )
    ice.compact_files(spark, loc)
    got = sorted(
        (r["k"], r["r"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == [(1, "eu"), (2, "us"), (3, "eu")]
    # every live file now lives under the new identity layout
    files, _ = ice.plan_files(loc)
    assert all("r=" in f for f in files)
    # pre-evolution snapshot still readable
    tt = sorted(
        (r["k"], r["r"])
        for r in ice.read_iceberg(
            spark, loc, snapshot_id=s1["snapshot-id"]
        ).collect()
    )
    assert tt == [(1, "eu"), (2, "us")]


def test_iceberg_partition_evolution_merge_and_eq_deletes(spark, tmp_path):
    """MERGE and equality deletes across spec generations: the MoR
    read head and sequence scoping are layout-agnostic."""
    loc = str(tmp_path / "evo_merge")
    old = spark.createDataFrame(
        [(1, "eu", 10.0), (2, "us", 20.0)], "k bigint, r string, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(old))
    ice.append(spark, loc, old)
    ice.add_partition_field(loc, "r")
    ice.merge_into(
        spark, loc,
        spark.createDataFrame(
            [(2, "us", 25.0), (3, "eu", 30.0)],
            "k bigint, r string, v double",
        ),
        on_cols=["k"],
    )
    got = sorted(
        (r["k"], r["v"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == [(1, 10.0), (2, 25.0), (3, 30.0)]
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(1,)], "k bigint")
    )
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [2, 3]


def test_iceberg_concurrent_commit_conflict(spark, tmp_path):
    """VERDICT r12 item 2: two writers committing from the same base
    version must NOT silently clobber each other — the second commit
    of the same metadata version raises CommitFailedError, and every
    data file of the WINNING commit stays referenced."""
    loc = str(tmp_path / "atomic")
    df1 = spark.createDataFrame([(1,)], "k bigint")
    ice.create_table(loc, ice.spark_schema_to_iceberg(df1))
    ice.append(spark, loc, df1)

    # simulate writer B holding a stale snapshot of the metadata:
    # both writers will target the same next version
    stale_meta = ice.read_table_meta(loc)
    stale_version = ice._read_version(loc)

    # writer A commits normally
    ice.append(spark, loc, spark.createDataFrame([(2,)], "k bigint"))
    a_files = set(ice.plan_files(loc)[0])

    # writer B replays its commit from the stale base
    with pytest.raises(ice.CommitFailedError, match="concurrent"):
        ice._write_meta(loc, stale_meta, stale_version + 1)

    # A's committed state is intact: same files, same rows
    assert set(ice.plan_files(loc)[0]) == a_files
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [1, 2]

    # B retries the Iceberg way: re-read, re-apply -> lands cleanly
    ice.append(spark, loc, spark.createDataFrame([(3,)], "k bigint"))
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [1, 2, 3]


def test_iceberg_convert_equality_deletes(spark, tmp_path):
    """VERDICT r12 item 3: convert_equality_deletes rewrites each
    equality delete as position deletes against the files it
    currently masks — data file paths identical, values identical,
    the sequence-scoped re-insert still alive, time travel intact,
    and zero equality-delete files left in the plan."""
    loc = str(tmp_path / "conv_eq")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    # two eq-delete batches on different key sets
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([(3,), (4,)], "k bigint"),
    )
    ice.mor_delete_keys(
        spark, loc, ["v"],
        spark.createDataFrame([(7.0,)], "v double"),
    )
    # re-insert k=3 AFTER the delete: newer sequence, must survive
    # conversion exactly as it survives the eq-delete read
    ice.append(spark, loc, spark.createDataFrame([(3, 300.0)], "k bigint, v double"))
    s_pre = ice.read_table_meta(loc)["current-snapshot-id"]
    expect = sorted(
        (r["k"], r["v"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    pre_files = sorted(ice.plan_files(loc)[0])
    assert len(ice.plan_equality_deletes(loc)) == 2

    snap = ice.convert_equality_deletes(spark, loc)
    assert snap["summary"]["converted-equality-delete-files"] == "2"

    # data files untouched; eq deletes gone; values identical
    assert sorted(ice.plan_files(loc)[0]) == pre_files
    assert ice.plan_equality_deletes(loc) == []
    got = sorted(
        (r["k"], r["v"]) for r in ice.read_iceberg(spark, loc).collect()
    )
    assert got == expect
    assert (3, 300.0) in got and (3, 3.0) not in got
    assert not any(k in (4, 7) for k, _ in got)
    # time travel to the pre-conversion snapshot still applies the
    # original equality deletes
    tt = sorted(
        (r["k"], r["v"])
        for r in ice.read_iceberg(spark, loc, snapshot_id=s_pre).collect()
    )
    assert tt == expect


def test_iceberg_snapshot_refs(spark, tmp_path):
    """VERDICT r12 item 6: named refs (tags/branches). Tag a
    snapshot, keep appending — the tag keeps reading the old state,
    the head reads the new; expire_snapshots respects ref retention;
    dropping the ref unpins the snapshot."""
    loc = str(tmp_path / "refs")
    ice.create_table(
        loc,
        ice.spark_schema_to_iceberg(
            spark.createDataFrame([(1,)], "k bigint")
        ),
    )
    ice.append(spark, loc, spark.createDataFrame([(1,)], "k bigint"))
    ref = ice.create_ref(loc, "audit", "tag")
    assert ref["type"] == "tag"
    ice.append(spark, loc, spark.createDataFrame([(2,)], "k bigint"))
    ice.append(spark, loc, spark.createDataFrame([(3,)], "k bigint"))
    # tag reads the tagged state; 'main' reads the head
    tag_rows = sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, snapshot_id="audit").collect()
    )
    assert tag_rows == [1]
    head_rows = sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, snapshot_id="main").collect()
    )
    assert head_rows == [1, 2, 3]
    with pytest.raises(ValueError, match="unknown snapshot ref"):
        ice.read_iceberg(spark, loc, snapshot_id="nope")
    # expire keeps the ref-pinned snapshot alive
    res = ice.expire_snapshots(loc, keep_last=1)
    assert res["removed_snapshots"] == 1  # only the middle snapshot
    assert sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, snapshot_id="audit").collect()
    ) == [1]
    # duplicate / reserved names refused
    with pytest.raises(ValueError, match="already exists"):
        ice.create_ref(loc, "audit")
    with pytest.raises(ValueError, match="implicit head"):
        ice.create_ref(loc, "main")
    # drop unpins: the tagged snapshot is now expirable
    ice.drop_ref(loc, "audit")
    res = ice.expire_snapshots(loc, keep_last=1)
    assert res["removed_snapshots"] == 1
    with pytest.raises(ValueError, match="unknown snapshot ref"):
        ice.read_iceberg(spark, loc, snapshot_id="audit")


def test_iceberg_timestamp_type_and_transforms(spark, tmp_path):
    """Hostile-probe r13: TIMESTAMP columns (Iceberg micros, Spark
    timestamp_ntz) through the whole vendored stack — day() and
    hour() hidden partitioning with manifest pruning, bounds, and
    row-level residual filters."""
    import datetime

    loc = str(tmp_path / "ts_day")
    rows = [
        (i, datetime.datetime(2023, 1, 1 + i % 3, 6 + i % 12, 30))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp_ntz")
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=[("ts", "day")]
    )
    ice.append(spark, loc, df)
    epoch = datetime.datetime(1970, 1, 1)
    day2 = int(
        (datetime.datetime(2023, 1, 2) - epoch).total_seconds() * 1e6
    )
    day3 = day2 + 86_400_000_000
    files, total = ice.plan_files(
        loc, filters=(("ts", ">=", day2), ("ts", "<", day3))
    )
    assert 0 < len(files) < total  # day() pruned at the manifest level
    got = sorted(
        r["k"]
        for r in ice.read_iceberg(
            spark, loc, filters=(("ts", ">=", day2), ("ts", "<", day3))
        ).collect()
    )
    assert got == [i for i in range(12) if i % 3 == 1]

    # hour(): a one-hour window hits exactly the 2023-01-02 07:30 row
    loc2 = str(tmp_path / "ts_hour")
    ice.create_table(
        loc2, ice.spark_schema_to_iceberg(df), part_cols=[("ts", "hour")]
    )
    ice.append(spark, loc2, df)
    h = int(
        (datetime.datetime(2023, 1, 2, 7) - epoch).total_seconds() * 1e6
    )
    files, total = ice.plan_files(
        loc2, filters=(("ts", ">=", h), ("ts", "<", h + 3_600_000_000))
    )
    assert 0 < len(files) < total
    got = sorted(
        r["k"]
        for r in ice.read_iceberg(
            spark, loc2,
            filters=(("ts", ">=", h), ("ts", "<", h + 3_600_000_000)),
        ).collect()
    )
    assert got == [1]
    # hour() on a DATE column is refused; day() on timestamp is not
    with pytest.raises(ValueError, match="hour transform requires"):
        ddf = spark.createDataFrame([(1,)], "k bigint").withColumn(
            "d", F.lit("2023-01-01").cast("date")
        )
        ice.create_table(
            str(tmp_path / "bad"),
            ice.spark_schema_to_iceberg(ddf),
            part_cols=[("d", "hour")],
        )


def test_iceberg_rewrite_deletes_interleaved_with_compaction(spark, tmp_path):
    """Hostile-probe r13: REWRITE DELETES -> compaction -> new MoR
    delete -> REWRITE DELETES again — every interleaving keeps the
    surviving-row set exact."""
    loc = str(tmp_path / "rdc")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.delete_where(spark, loc, [("k", "=", 1)], mode="mor")
    ice.delete_where(spark, loc, [("k", "=", 2)], mode="mor")
    ice.rewrite_position_deletes(spark, loc)
    ice.compact_files(spark, loc)
    ice.delete_where(spark, loc, [("k", "=", 3)], mode="mor")
    ice.rewrite_position_deletes(spark, loc)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [0, 4, 5, 6, 7, 8, 9]


def test_iceberg_eq_delete_null_keys(spark, tmp_path):
    """Hostile-probe r13: equality deletes match NULL keys
    null-safely (the upsert-sink contract); a NULL key re-inserted
    after the delete survives by sequence; conversion to position
    deletes preserves all of it."""
    loc = str(tmp_path / "eqnull")
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c"), (4, "d")],
        "k bigint, v string",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(None,)], "k bigint")
    )
    got = {(r["k"], r["v"]) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(1, "a"), (4, "d")}
    ice.append(
        spark, loc,
        spark.createDataFrame([(None, "e")], "k bigint, v string"),
    )
    got = {(r["k"], r["v"]) for r in ice.read_iceberg(spark, loc).collect()}
    assert got == {(1, "a"), (4, "d"), (None, "e")}
    ice.convert_equality_deletes(spark, loc)
    got2 = {(r["k"], r["v"]) for r in ice.read_iceberg(spark, loc).collect()}
    assert got2 == got


def test_iceberg_mixed_layout_scan_shape(spark, tmp_path):
    """Plan shape after spec evolution: a single-layout table scans
    as ONE parquet scan (no union); a two-layout table unions exactly
    its two signature groups — never one scan per file."""
    from mcp_iceberg_duckdb_spark.plans import explain_str

    loc = str(tmp_path / "shape")
    df = spark.createDataFrame(
        [(i, "eu" if i % 2 else "us") for i in range(8)],
        "k bigint, r string",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.append(spark, loc, df)  # two appends, one layout
    plan = explain_str(ice.read_iceberg(spark, loc), "simple")
    assert plan.count("Scan parquet") == 1, plan
    ice.add_partition_field(loc, "r")
    ice.append(spark, loc, df)
    ice.append(spark, loc, df)  # two appends in the NEW layout
    plan = explain_str(ice.read_iceberg(spark, loc), "simple")
    assert plan.count("Scan parquet") == 2, plan
    assert "Union" in plan


def test_iceberg_incremental_between_refs(spark, tmp_path):
    """read_incremental accepts named refs as endpoints — the
    CDC-consumer idiom of reading the increment between two tagged
    audit points (probe-found: refs resolved everywhere but here)."""
    loc = str(tmp_path / "incref")
    df = spark.createDataFrame([(1,)], "k bigint")
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.create_ref(loc, "start", "tag")
    ice.append(spark, loc, spark.createDataFrame([(2,)], "k bigint"))
    ice.append(spark, loc, spark.createDataFrame([(3,)], "k bigint"))
    ice.create_ref(loc, "end", "tag")
    inc = ice.read_incremental(spark, loc, "start", "end")
    assert sorted(r["k"] for r in inc.collect()) == [2, 3]
    inc = ice.read_incremental(spark, loc, "start", "main")
    assert sorted(r["k"] for r in inc.collect()) == [2, 3]


def test_iceberg_sorted_compaction_after_evolution(spark, tmp_path):
    """OPTIMIZE..SORT BY on a spec-evolved table (probe-found: the
    partition-count estimate read old-layout paths under the NEW spec
    and crashed on the missing field)."""
    loc = str(tmp_path / "optevo")
    df = spark.createDataFrame(
        [(i, "eu" if i % 2 else "us") for i in range(8)],
        "k bigint, r string",
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.add_partition_field(loc, "r")
    ice.append(spark, loc, df)
    ice.compact_files(spark, loc, sort_by="k", n_slices=2)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == sorted(list(range(8)) * 2)


def test_iceberg_partition_field_name_reuse_refused(spark, tmp_path):
    """Review r13: re-adding a partition-field NAME with a different
    transform (bucket width resize) is refused — old hive dirs keep
    the old name, and a CoW re-stamp would parse bucket[4] values
    under a bucket[8] spec (silent mis-pruning). The identical
    transform may come back."""
    loc = str(tmp_path / "reuse")
    df = spark.createDataFrame([(1,)], "k bigint")
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=[("k", "bucket", 4)]
    )
    ice.append(spark, loc, df)
    ice.drop_partition_field(loc, "k_bucket")
    with pytest.raises(ValueError, match="was used by spec"):
        ice.add_partition_field(loc, ("k", "bucket", 8))
    # identical transform is fine
    spec = ice.add_partition_field(loc, ("k", "bucket", 4))
    assert spec["fields"][-1]["transform"] == "bucket[4]"


def test_iceberg_commit_crash_between_meta_and_hint_self_heals(
    spark, tmp_path
):
    """Review r13: a writer killed between linking v<N> into place
    and updating version-hint must not wedge the table — the version
    resolver takes max(hint, scan), so the completed orphan IS the
    table state and the next commit targets N+1."""
    loc = str(tmp_path / "crash")
    df = spark.createDataFrame([(1,)], "k bigint")
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    # simulate the crash: roll the hint back one version (metadata
    # file exists, hint stale)
    v = ice._read_version(loc)
    with open(
        f"{loc}/metadata/version-hint.text", "w"
    ) as fh:
        fh.write(str(v - 1))
    assert ice._read_version(loc) == v  # scan wins over stale hint
    ice.append(spark, loc, spark.createDataFrame([(2,)], "k bigint"))
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [1, 2]


def test_iceberg_eq_delete_bounds_scoping(spark, tmp_path):
    """VERDICT r12 wrong #1 (second half): an equality-delete file
    whose KEY range provably misses every planned file's bounds is
    skipped at planning time — and the skip is gated on the delete
    file having ZERO null keys (a NULL key matches outside any
    range)."""
    loc = str(tmp_path / "eqscope")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    # delete keys far OUTSIDE the table's key range
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([(10_000,), (10_001,)], "k bigint"),
    )
    # and one batch INSIDE the range
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([(5,)], "k bigint"),
    )
    stats: dict = {}
    got = sorted(
        r["k"]
        for r in ice.read_iceberg(spark, loc, stats_out=stats).collect()
    )
    assert got == [i for i in range(100) if i != 5]
    # the out-of-range delete file was scoped away; the in-range one
    # planned
    assert stats["eq_delete_files_total"] == 2
    assert stats["eq_delete_files_planned"] == 1

    # NULL-key batch: bounds may exist for the non-null part, but the
    # file must never be skipped — its NULL rows mask NULL targets
    loc2 = str(tmp_path / "eqnullscope")
    df2 = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k bigint, v string"
    )
    ice.create_table(loc2, ice.spark_schema_to_iceberg(df2))
    ice.append(spark, loc2, df2)
    ice.mor_delete_keys(
        spark, loc2, ["k"],
        spark.createDataFrame([(9_999,), (None,)], "k bigint"),
    )
    stats2: dict = {}
    got = {
        (r["k"], r["v"])
        for r in ice.read_iceberg(spark, loc2, stats_out=stats2).collect()
    }
    assert got == {(1, "a")}  # the NULL row IS deleted
    assert stats2["eq_delete_files_planned"] == 1


# ---- rich types: decimal / timestamptz / binary / list (r14) ----


def _rich_rows():
    import datetime
    from decimal import Decimal

    utc = datetime.timezone.utc
    return [
        (
            1,
            Decimal("12.34"),
            datetime.datetime(2024, 1, 10, 5, 30, 0, 123456, tzinfo=utc),
            b"\x00\x01",
            [1.0, 2.0, 3.0],
        ),
        (
            2,
            Decimal("-7.01"),
            datetime.datetime(2024, 1, 12, 23, 59, 59, 999999, tzinfo=utc),
            b"\xff",
            [0.5, 0.5, 0.5],
        ),
        (
            3,
            Decimal("100.00"),
            datetime.datetime(2024, 2, 1, tzinfo=utc),
            None,
            None,
        ),
    ]


_RICH_DDL = (
    "k bigint, price decimal(10,2), ts timestamp, blob binary,"
    " emb array<double>"
)


def test_rich_types_roundtrip_and_pruning(spark, tmp_path):
    """decimal(P,S), timestamptz, binary, and list columns round-trip
    through the vendored format exactly; decimal BOUNDS prune at the
    manifest level (spec appendix D unscaled big-endian) and day(ts)
    hidden partitioning on a ZONED timestamp prunes by UTC day."""
    import datetime
    from decimal import Decimal

    utc = datetime.timezone.utc
    loc = str(tmp_path / "rich")
    df = spark.createDataFrame(_rich_rows(), _RICH_DDL)
    schema = ice.spark_schema_to_iceberg(df)
    types = {f["name"]: f["type"] for f in schema["fields"]}
    assert types["price"] == "decimal(10,2)"
    assert types["ts"] == "timestamptz"
    assert types["blob"] == "binary"
    assert types["emb"]["type"] == "list"
    # list element-id is a real, unique field id
    assert types["emb"]["element-id"] > max(
        f["id"] for f in schema["fields"]
    ) - 1
    ice.create_table(loc, schema, part_cols=[("ts", "day")])
    ice.append(spark, loc, df)

    back = {r["k"]: r for r in ice.read_iceberg(spark, loc).collect()}
    assert back[1]["price"] == Decimal("12.34")
    assert back[2]["price"] == Decimal("-7.01")
    assert bytes(back[2]["blob"]) == b"\xff"
    assert back[1]["emb"] == [1.0, 2.0, 3.0]
    assert back[3]["blob"] is None and back[3]["emb"] is None

    # decimal bounds pruning: only the k=3 file can hold price > 50
    files, total = ice.plan_files(
        loc, filters=(("price", ">", Decimal("50")),)
    )
    assert total == 3 and len(files) == 1

    # day(ts) partition pruning on the zoned column — UTC days
    lo = int(datetime.datetime(2024, 1, 10, tzinfo=utc).timestamp() * 1e6)
    hi = int(datetime.datetime(2024, 1, 13, tzinfo=utc).timestamp() * 1e6)
    files, total = ice.plan_files(
        loc, filters=(("ts", ">=", lo), ("ts", "<", hi))
    )
    assert len(files) == 2
    got = ice.read_iceberg(
        spark, loc, filters=(("ts", ">=", lo), ("ts", "<", hi))
    )
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_rich_types_tz_instant_preserved(spark, tmp_path):
    """A timestamptz value is ONE instant: writing under one session
    zone and reading under another returns the same epoch micros
    (and bounds store exactly those micros — integer arithmetic)."""
    import calendar
    import datetime

    utc = datetime.timezone.utc
    loc = str(tmp_path / "tzi")
    df = spark.createDataFrame(_rich_rows(), _RICH_DDL)
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)

    def micros(dt):
        if dt.tzinfo is None:
            # collect() renders in the process zone (UTC container)
            return (
                calendar.timegm(dt.timetuple()) * 1_000_000
                + dt.microsecond
            )
        dt = dt.astimezone(utc)
        return (
            calendar.timegm(dt.utctimetuple()) * 1_000_000
            + dt.microsecond
        )

    want = {k: micros(ts) for k, _, ts, _, _ in _rich_rows()}
    back = {
        r["k"]: micros(r["ts"])
        for r in ice.read_iceberg(spark, loc).collect()
    }
    assert back == want
    # bounds carry the exact micros
    meta = ice.read_table_meta(loc)
    fid = str(
        next(
            f["id"]
            for f in meta["schema"]["fields"]
            if f["name"] == "ts"
        )
    )
    lows, highs = [], []
    for m in ice._snapshot_manifests(loc, meta, None):
        _, entries = read_container(ice._read_file(m["manifest_path"]))
        for e in entries:
            df_ = e["data_file"]
            lows.append(ice.decode_bound("timestamptz", (df_.get("lower_bounds") or {}).get(fid)))
            highs.append(ice.decode_bound("timestamptz", (df_.get("upper_bounds") or {}).get(fid)))
    lows = [v for v in lows if v is not None]
    highs = [v for v in highs if v is not None]
    assert min(lows) == min(want.values())
    assert max(highs) == max(want.values())


def test_rich_types_dml_and_sql_surface(spark, tmp_path):
    """The statement surface accepts the rich types: CREATE TABLE
    with decimal/timestamptz/binary/array columns, INSERT, UPDATE on
    a decimal measure, DESCRIBE shows readable type names, ALTER
    ADD COLUMN decimal(6,3) and array<float> work."""
    from decimal import Decimal

    from mcp_iceberg_duckdb_spark.sources.fs_catalog import FsCatalog

    cat = FsCatalog(str(tmp_path / "wh"))
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run(
        "CREATE TABLE rich (k bigint, price decimal(10,2),"
        " ts timestamptz, blob binary, emb array<double>)"
    )
    run(
        "INSERT INTO rich VALUES"
        " (1, CAST(12.34 AS DECIMAL(10,2)),"
        "  TIMESTAMP '2024-01-10 05:30:00', X'00FF', array(1.0, 2.0)),"
        " (2, CAST(99.99 AS DECIMAL(10,2)),"
        "  TIMESTAMP '2024-02-01 00:00:00', NULL, NULL)"
    )
    desc = {
        r["col_name"]: r["data_type"]
        for r in run("DESCRIBE TABLE rich")
    }
    assert desc["price"] == "decimal(10,2)"
    assert desc["ts"] == "timestamptz"
    assert desc["blob"] == "binary"
    assert desc["emb"] == "list<double>"
    got = {
        r["k"]: r
        for r in run("SELECT k, price, emb FROM rich r").collect()
    }
    assert got[1]["price"] == Decimal("12.34")
    assert got[1]["emb"] == [1.0, 2.0]
    run("UPDATE rich SET price = CAST(0.01 AS DECIMAL(10,2)) WHERE k = 2")
    got = {
        r["k"]: r["price"]
        for r in run("SELECT k, price FROM rich r").collect()
    }
    assert got == {1: Decimal("12.34"), 2: Decimal("0.01")}
    run("ALTER TABLE rich ADD COLUMN tax decimal(6,3)")
    run("ALTER TABLE rich ADD COLUMN emb2 array<float>")
    desc = {
        r["col_name"]: r["data_type"]
        for r in run("DESCRIBE TABLE rich")
    }
    assert desc["tax"] == "decimal(6,3)"
    assert desc["emb2"] == "list<float>"
    # element-ids must not collide with any existing field id
    meta = ice.read_table_meta(str(tmp_path / "wh" / "default" / "rich"))
    ids = [f["id"] for f in meta["schema"]["fields"]]
    for f in meta["schema"]["fields"]:
        if isinstance(f["type"], dict):
            ids.append(f["type"]["element-id"])
    assert len(ids) == len(set(ids))


def test_partition_on_nonprimitive_rejected(spark, tmp_path):
    """list/binary/decimal columns cannot be partition sources — the
    error is loud, not an Avro KeyError at manifest-write time."""
    loc = str(tmp_path / "np")
    df = spark.createDataFrame(_rich_rows(), _RICH_DDL)
    schema = ice.spark_schema_to_iceberg(df)
    for col in ("emb", "blob", "price"):
        with pytest.raises(ValueError, match="cannot partition|primitive"):
            ice.create_table(loc + col, schema, part_cols=[col])


def test_convert_eq_deletes_scoped_candidates(spark, tmp_path):
    """VERDICT r13 wrong #2 / next-round #7: convert_equality_deletes
    bounds its candidate read set per delete file — an eq delete
    whose key range hits only one partition's files scans ONLY those
    files (stats_out assertion), and the converted values are
    unchanged."""
    loc = str(tmp_path / "scoped")
    df = spark.createDataFrame(
        [(i, float(i), "A" if i < 50 else "B") for i in range(100)],
        "k bigint, v double, p string",
    )
    ice.create_table(
        loc, ice.spark_schema_to_iceberg(df), part_cols=["p"]
    )
    ice.append(spark, loc, df)
    files_total = len(ice.plan_files(loc)[0])
    assert files_total >= 2
    # eq delete masking keys 10..19 — k-bounds hit ONLY partition A
    keys = spark.createDataFrame(
        [(k,) for k in range(10, 20)], "k bigint"
    )
    ice.mor_delete_keys(spark, loc, ["k"], keys)
    stats: dict = {}
    snap = ice.convert_equality_deletes(spark, loc, stats_out=stats)
    assert snap["summary"]["operation"] == "replace"
    assert 0 < stats["files_scanned"] < stats["files_total"], stats
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == [k for k in range(100) if not 10 <= k < 20]
    # after conversion the eq-delete chain is gone
    assert ice.plan_equality_deletes(loc) == []


def test_alter_column_type_promotion(spark, tmp_path):
    """ALTER COLUMN TYPE (r13 VERDICT next-round #6): int->long,
    float->double, decimal precision widening — metadata-only; a
    PRE-promotion file's 4-byte bounds still decode and PRUNE
    correctly, and values read back widened."""
    from decimal import Decimal

    from mcp_iceberg_duckdb_spark.sources.fs_catalog import FsCatalog

    cat = FsCatalog(str(tmp_path / "wh"))
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE p (k int, r float, d decimal(6,2))")
    run(
        "INSERT INTO p VALUES"
        " (CAST(1 AS INT), CAST(1.5 AS FLOAT), CAST(10.25 AS DECIMAL(6,2))),"
        " (CAST(2000000 AS INT), CAST(2.5 AS FLOAT), CAST(99.99 AS DECIMAL(6,2)))"
    )
    loc = str(tmp_path / "wh" / "default" / "p")
    # pre-promotion pruning baseline: bounds exist and prune
    files, total = ice.plan_files(loc, filters=(("k", ">", 3_000_000),))
    assert len(files) == 0 and total >= 1
    run("ALTER TABLE p ALTER COLUMN k TYPE bigint")
    run("ALTER TABLE p ALTER COLUMN r TYPE double")
    run("ALTER TABLE p ALTER COLUMN d TYPE decimal(12,2)")
    meta = ice.read_table_meta(loc)
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    assert types == {"k": "long", "r": "double", "d": "decimal(12,2)"}
    # the OLD file's 4-byte int bound must still decode: a filter
    # above its max prunes it, one inside keeps it (the probe that
    # would crash or mis-prune under a blind 8-byte decode)
    files, _ = ice.plan_files(loc, filters=(("k", ">", 3_000_000),))
    assert files == []
    files, _ = ice.plan_files(loc, filters=(("k", ">=", 2_000_000),))
    assert len(files) >= 1
    # post-promotion appends mix widths; both generations read back
    run(
        "INSERT INTO p VALUES"
        " (CAST(9000000000 AS BIGINT), 3.5,"
        " CAST(12345678.90 AS DECIMAL(12,2)))"
    )
    got = {r["k"]: r for r in run("SELECT * FROM p x").collect()}
    assert set(got) == {1, 2000000, 9000000000}
    assert got[1]["r"] == 1.5 and got[1]["d"] == Decimal("10.25")
    assert got[9000000000]["d"] == Decimal("12345678.90")
    dtypes = dict(run("SELECT * FROM p x").dtypes)
    assert dtypes == {"k": "bigint", "r": "double", "d": "decimal(12,2)"}
    # narrowing / scale changes refused
    with pytest.raises(ValueError, match="promotion"):
        run("ALTER TABLE p ALTER COLUMN k TYPE int")
    with pytest.raises(ValueError, match="promotion"):
        run("ALTER TABLE p ALTER COLUMN d TYPE decimal(14,4)")


def test_commit_base_version_prevents_lost_update(spark, tmp_path):
    """Hostile-probe r14: a maintenance action (convert_equality_
    deletes) whose commit lands AFTER a racing append must
    CommitFail, not clobber — before this fix commits wrote at
    (current on-disk version + 1) rather than (READ version + 1), so
    the conversion silently erased the racing append's rows. The
    retry from fresh metadata then succeeds with both effects."""
    loc = str(tmp_path / "race")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, v double"
    )
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.mor_delete_keys(
        spark, loc, ["k"], spark.createDataFrame([(3,), (4,)], "k bigint")
    )
    orig = ice._commit_mor

    def racing(loc_, meta, *a, **kw):
        ice._commit_mor = orig  # race exactly once
        ice.append(
            spark,
            loc_,
            spark.createDataFrame([(99, 99.0)], "k bigint, v double"),
        )
        return orig(loc_, meta, *a, **kw)

    ice._commit_mor = racing
    try:
        with pytest.raises(ice.CommitFailedError):
            ice.convert_equality_deletes(spark, loc)
    finally:
        ice._commit_mor = orig
    ice.convert_equality_deletes(spark, loc)
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == sorted(
        [k for k in range(20) if k not in (3, 4)] + [99]
    )


def test_rename_transform_source_column(spark, tmp_path):
    """Hostile-probe r14: renaming a column that is only a TRANSFORM
    partition source (month(d)) is legal — the spec field resolves
    its source by field-id — while identity sources stay refused
    (the hive dir embeds the column name)."""
    import datetime

    from mcp_iceberg_duckdb_spark.sources.fs_catalog import FsCatalog

    cat = FsCatalog(str(tmp_path / "wh"))
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE pe (k bigint, d date)")
    run("INSERT INTO pe VALUES (1, DATE '2024-01-05'), (2, DATE '2024-03-05')")
    run("ALTER TABLE pe ADD PARTITION FIELD month(d)")
    run("INSERT INTO pe VALUES (3, DATE '2024-05-05')")
    run("ALTER TABLE pe RENAME COLUMN d TO dt")
    run("INSERT INTO pe VALUES (4, DATE '2024-07-05')")
    got = sorted(
        (r["k"], str(r["dt"]))
        for r in run("SELECT k, dt FROM pe x").collect()
    )
    assert got == [
        (1, "2024-01-05"),
        (2, "2024-03-05"),
        (3, "2024-05-05"),
        (4, "2024-07-05"),
    ]
    # manifest pruning through the transform still keys on the NEW
    # source name
    loc = str(tmp_path / "wh" / "default" / "pe")
    days = (datetime.date(2024, 6, 1) - datetime.date(1970, 1, 1)).days
    files, total = ice.plan_files(loc, filters=(("dt", ">=", days),))
    assert 0 < len(files) < total
    run("CREATE TABLE idp (k bigint, p string) PARTITIONED BY (p)")
    with pytest.raises(ValueError, match="identity"):
        run("ALTER TABLE idp RENAME COLUMN p TO q")


def test_expire_snapshots_racing_append_keeps_table_readable(
    spark, tmp_path, monkeypatch
):
    """An append that commits between expire_snapshots' metadata read
    and its commit makes the expiry raise CommitFailedError — and
    deletes nothing: the table still reads, with the append's rows.
    (Reachability computed from the stale metadata must never decide
    which files are deleted.)"""
    loc = str(tmp_path / "expire_race")
    schema = "k bigint, v double"
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], schema)
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.append(spark, loc, spark.createDataFrame([(10, 10.0)], schema))
    orig = ice.read_table_meta
    raced = []

    def racing_read(loc_):
        meta = orig(loc_)
        if not raced:
            raced.append(True)
            ice.append(
                spark, loc_, spark.createDataFrame([(99, 99.0)], schema)
            )
        return meta

    monkeypatch.setattr(ice, "read_table_meta", racing_read)
    with pytest.raises(ice.CommitFailedError):
        ice.expire_snapshots(loc, keep_last=1)
    monkeypatch.undo()
    assert raced
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(11)) + [99]
    # the retry from fresh metadata expires cleanly
    res = ice.expire_snapshots(loc, keep_last=1)
    assert res["removed_snapshots"] == 2
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(11)) + [99]


def _race_statements(spark):
    schema = "k bigint, v double"
    rows = spark.createDataFrame([(100, 1.0), (101, 2.0)], schema)
    upsert = spark.createDataFrame([(3, -3.0), (200, 2.0)], schema)
    keys = spark.createDataFrame([(3,), (4,)], "k bigint")
    return {
        "append": lambda loc: ice.append(spark, loc, rows),
        "branch_append": lambda loc: ice.append(
            spark, loc, rows, branch="audit"
        ),
        "cow_delete": lambda loc: ice.delete_where(
            spark, loc, [("k", "<", 5)]
        ),
        "cow_update": lambda loc: ice.update_where(
            spark, loc, [("k", "<", 5)], {"v": -1.0}
        ),
        "cow_rewrite_where": lambda loc: ice.cow_rewrite_where(
            spark, loc, F.col("k") < 5,
            lambda src, pred: src.filter(~pred),
            prune_filters=[("k", "<", 5)],
        ),
        "merge_into": lambda loc: ice.merge_into(spark, loc, upsert, ["k"]),
        "merge_delete": lambda loc: ice.merge_delete(
            spark, loc, keys, ["k"]
        ),
        "mor_delete": lambda loc: ice.delete_where(
            spark, loc, [("k", "<", 5)], mode="mor"
        ),
        "mor_update": lambda loc: ice.mor_update_where(
            spark, loc, F.col("k") < 5, {"v": -1.0}
        ),
        "mor_merge": lambda loc: ice.mor_merge_into(
            spark, loc, upsert, ["k"]
        ),
        "mor_delete_keys": lambda loc: ice.mor_delete_keys(
            spark, loc, ["k"], keys
        ),
        "compaction": lambda loc: ice.compact_files(spark, loc),
        "overwrite": lambda loc: ice.overwrite_table(spark, loc, rows),
        "add_column": lambda loc: ice.add_column(loc, "extra", "long"),
        "set_property": lambda loc: ice.set_table_property(loc, "a", "b"),
        "create_ref": lambda loc: ice.create_ref(loc, "tagged"),
        "fast_forward": lambda loc: ice.fast_forward(loc, "main", "audit"),
        "expire": lambda loc: ice.expire_snapshots(loc, keep_last=1),
    }


@pytest.mark.parametrize(
    "kind",
    [
        "append", "branch_append", "cow_delete", "cow_update",
        "cow_rewrite_where", "merge_into", "merge_delete", "mor_delete",
        "mor_update", "mor_merge", "mor_delete_keys", "compaction",
        "overwrite", "add_column", "set_property", "create_ref",
        "fast_forward", "expire",
    ],
)
def test_every_commit_kind_fails_on_a_racing_append(
    spark, tmp_path, monkeypatch, kind
):
    """Lost-update contract for every kind of commit: an append that
    lands just before the statement's own metadata commit makes the
    statement raise CommitFailedError, and the racer's rows stay in
    the table (nothing of the failed statement becomes visible)."""
    loc = str(tmp_path / kind)
    schema = "k bigint, v double"
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], schema)
    ice.create_table(loc, ice.spark_schema_to_iceberg(df))
    ice.append(spark, loc, df)
    ice.append(spark, loc, spark.createDataFrame([(10, 10.0)], schema))
    ice.create_ref(loc, "audit", "branch")
    ice.append(
        spark, loc, spark.createDataFrame([(50, 50.0)], schema),
        branch="audit",
    )
    statement = _race_statements(spark)[kind]
    orig = ice._write_meta
    raced = []

    def racing_write(loc_, meta, version):
        if not raced:
            raced.append(True)
            ice.append(
                spark, loc_, spark.createDataFrame([(999, 9.0)], schema)
            )
        return orig(loc_, meta, version)

    monkeypatch.setattr(ice, "_write_meta", racing_write)
    with pytest.raises(ice.CommitFailedError):
        statement(loc)
    monkeypatch.undo()
    assert raced
    got = sorted(r["k"] for r in ice.read_iceberg(spark, loc).collect())
    assert got == list(range(11)) + [999]
