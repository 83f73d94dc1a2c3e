"""SparkSession factory — the engine's single entry point to Spark.

Replaces the reference's lazy PyIceberg catalog singleton
(``IcebergConnection.py:223-235`` — ``_ensure_connection`` /
``load_catalog("iceberg")``): in the Spark-native design the
*SparkSession* is the singleton, and the catalog is a session conf.

Design points for the 100 TB target (even though tests run local[N]):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switch (sort-merge →
  broadcast) all come from ``spark.sql.adaptive.*``.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under
  AQE; we set it near the local core count so tiny scale factors
  don't pay 200-partition overhead. On a real cluster this would be
  ~2-3× total executor cores and AQE coalesces down.
- Arrow enabled for every Python boundary crossing (pandas_udf,
  toPandas, createDataFrame) — the reference likewise kept data in
  Arrow between scan and DuckDB (IcebergConnection.py:114-121).
- Session timezone pinned to UTC so timestamp semantics are stable
  and match the (naive-UTC) DuckDB oracle.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def call_scope(spark: SparkSession):
    """Release every intermediate the block leaves in ``spark``: the
    CacheManager entries it added (``.persist()``, ``CACHE TABLE``)
    are uncached and the persisted RDDs it added
    (``.localCheckpoint()``, buffers) are unpersisted, also when the
    block raises. Entries cached before the block stay cached with
    their buffers, even buffers first built inside it (``CACHE LAZY
    TABLE``). So a repeated call recomputes from the files and never
    answers from a cache keyed by path.

    The release diffs the whole session, so it holds only while one
    scoped block runs at a time: a block running beside it would lose
    its intermediates, or leave them behind. Uses CacheManager and
    CachedRDDBuilder internals of the pinned Spark 4.1."""
    jsc, jss = spark.sparkContext._jsc, spark._jsparkSession
    cache = jss.sharedState().cacheManager()

    def rdd_ids(live) -> set[int]:
        # one py4j call: iterating the Java set costs ~20 ms even empty
        ids = live.keySet().toString()[1:-1].split(", ")
        return {int(i) for i in ids if i}

    rdds = rdd_ids(jsc.getPersistentRDDs())
    # an immutable snapshot; walked only when it holds an entry
    entries = cache.cachedData() if cache.numCachedEntries() else None
    try:
        yield
    finally:
        kept = []
        if cache.numCachedEntries():
            now = cache.cachedData()  # newest first: dependents go first
            for cd in (now.apply(i) for i in range(now.size())):
                if entries is not None and entries.contains(cd):
                    kept.append(cd)
                else:
                    cache.uncacheQuery(jss, cd.plan(), False, False)
        live = jsc.getPersistentRDDs()
        fresh = rdd_ids(live) - rdds
        for cd in kept if fresh else ():
            builder = cd.cachedRepresentation().cacheBuilder()
            # the field, which cachedColumnBuffers() would build if unset
            buffers = builder._cachedColumnBuffers()
            if buffers is not None:
                fresh.discard(buffers.id())
        for i in fresh:
            live.get(i).unpersist(False)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half the host's physical RAM
    (``phys_bytes``, read from the OS when None), at most 16g. Where
    the OS does not report its RAM the default stays 16g."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            return "16g"
    return f"{min(phys_bytes // 2, 16 << 30) >> 20}m"


def build_session(
    app_name: str = "mcp_iceberg_duckdb_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the shared SparkSession.

    One session is shared across the whole query suite — Spark fixed
    overheads (JVM start, scheduler warmup) dominate at tiny scale
    factors otherwise (BASELINE.md notes this explicitly).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet naive timestamps as TIMESTAMP_NTZ (matches the
        # storage semantics and the DuckDB oracle's naive timestamps)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(),
        )
        # fixture files are single small parquets; 2 MB splits let a
        # filter+agg scan use all local cores (3× on TPC-H Q1/Q3 here).
        # A production deployment reading 100 TB keeps the 128 MB
        # default — override via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(2 * 1024 * 1024)),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
