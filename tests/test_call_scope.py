"""session.call_scope: what a call persists or checkpoints lives for
that call only. Spark's CacheManager matches a new plan against
cached ones by file path, not file contents, so an entry left behind
by one ``run_operator`` call could answer a later call over a file
that has since been rewritten; entries grow without bound in a
long-lived session besides. Tables a client cached before the call
stay cached, buffers and all."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from mcp_iceberg_duckdb_spark import server
from mcp_iceberg_duckdb_spark.compare import rows_to_multiset
from mcp_iceberg_duckdb_spark.session import call_scope
from mcp_iceberg_duckdb_spark.sources.tables import load

# persist/localCheckpoint users across dedup, graph, text and
# embedding operators; each returns at most a few hundred rows here,
# so the row cap never cuts an answer in a nondeterministic order
HEAVY_OPERATORS = (
    "x_graph_kcore",
    "x_graph_hits",
    "x_graph_pagerank",
    "x_dedup_minhash_mllib",
    "x_dedup_minhash_lsh",
    "x_dedup_cluster_cc",
    "x_dedup_cluster_cc_stars",
    "x_dedup_containment",
    "x_text_pmi_bigrams",
    "x_text_boilerplate",
    "x_embed_kmeans",
    "x_semdedup_hier_assign",
)


def _counts(spark) -> tuple[int, int]:
    cache = spark._jsparkSession.sharedState().cacheManager()
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    return persisted, cache.numCachedEntries()


def _answer(result) -> list:
    assert not result.is_error, result.text
    rows = json.loads(result.text.split("\n", 1)[1])
    cols = list(rows[0]) if rows else []
    return rows_to_multiset(cols, [tuple(r[c] for c in cols) for r in rows])


def test_raising_block_releases_persist_and_checkpoint(spark):
    before = _counts(spark)
    with pytest.raises(ValueError, match="operator failed"):
        with call_scope(spark):
            spark.range(1000).selectExpr("id % 7 AS k").persist().count()
            spark.range(1000).selectExpr("id % 5 AS k").localCheckpoint()
            assert _counts(spark) != before
            raise ValueError("operator failed")
    assert _counts(spark) == before


def test_tables_cached_before_the_call_stay_cached(spark, sf_dir):
    """An eager CACHE TABLE, and a CACHE LAZY TABLE whose buffers the
    call itself builds, both survive the call with their buffers."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("scope_nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("scope_region")
    spark.sql("CACHE TABLE scope_nation")
    spark.sql("CACHE LAZY TABLE scope_region")
    sc = spark.sparkContext
    try:
        # j_cross scans region and nation: the plan matches both views
        result = server.run_operator(spark, "j_cross", sf_dir)
        assert not result.is_error, result.text
        assert spark.catalog.isCached("scope_nation")
        assert spark.catalog.isCached("scope_region")
        stored = {
            info.name(): info.numCachedPartitions()
            for info in sc._jsc.sc().getRDDStorageInfo()
        }
        for view in ("scope_nation", "scope_region"):
            assert stored.get(f"In-memory table {view}", 0) > 0, stored
    finally:
        for view in ("scope_nation", "scope_region"):
            spark.catalog.uncacheTable(view)
            spark.catalog.dropTempView(view)


def test_repeat_call_reads_the_rewritten_file(spark, sf_dir, tmp_path):
    """The second call runs after documents.parquet is rewritten in
    place with half its rows: it must answer from the new file, as a
    run with an empty cache does, not from the first call's
    persisted shingles."""
    for f in Path(sf_dir).iterdir():
        shutil.copyfile(f, tmp_path / f.name)
    first = _answer(server.run_operator(spark, "x_text_boilerplate", str(tmp_path)))
    docs = pq.read_table(tmp_path / "documents.parquet")
    pq.write_table(
        docs.take(list(range(0, docs.num_rows, 2))),
        tmp_path / "documents.parquet",
    )
    second = _answer(server.run_operator(spark, "x_text_boilerplate", str(tmp_path)))
    spark.catalog.clearCache()
    fresh = _answer(server.run_operator(spark, "x_text_boilerplate", str(tmp_path)))
    assert fresh != first
    assert second == fresh


def test_heavy_operators_leave_nothing_behind(spark, sf_dir):
    """Two passes over a dozen persisting operators: after every call
    the persisted-RDD and cache-entry counts are back where they
    were, and each operator answers the same rows both times."""
    answers: dict[str, list] = {}
    for _ in range(2):
        for name in HEAVY_OPERATORS:
            before = _counts(spark)
            answer = _answer(server.run_operator(spark, name, sf_dir))
            assert _counts(spark) == before, name
            answers.setdefault(name, []).append(answer)
    for name, (first, second) in answers.items():
        assert first == second, name
