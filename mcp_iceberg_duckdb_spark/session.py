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
- The driver JVM maps a class-data-sharing archive of the classes an
  earlier driver loaded, which halves a cold start (``_class_sharing``).
- Spark's cache of compiled generated classes holds
  ``CODEGEN_CACHE_ENTRIES``, more than one session generates for the
  whole operator registry, so it evicts none a repeated call needs.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
from contextlib import contextmanager, suppress

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the JVM writes its unified-logging warnings (an archive it cannot
# map, say) to stdout, which callers keep for their own output
# (bench.py's one JSON line)
JVM_LOG_OPTS = ("-Xlog:disable", "-Xlog:all=warning:stderr")

# the first bytes of a dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC)
ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")

# spark.sql.codegen.cache.maxEntries (Spark's default is 100). One
# sweep of all 301 operators at sf0.01 compiles about 3,700 classes.
# Guava splits the cache into 4 segments that evict on their own, so at
# 100 a warm pass of the benchmark's eight calls (99 classes) compiled
# 30 to 50 of them again.
CODEGEN_CACHE_ENTRIES = 4096

# What build_session gave this process's driver JVM: "state" is
# "used", "dumping" or "off", with the archive "path" or the "reason".
class_sharing: dict[str, str] = {}
# (driver JVM process, temp file, archive path) of a pending dump
_dumps: list[tuple] = []


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


def cache_dir() -> str:
    """Where the class-data-sharing archives live. Not under a temp
    dir: callers that give every run fresh temp dirs would otherwise
    start every run cold."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "mcp_iceberg_duckdb_spark", "cds")


def java_version() -> str | None:
    """The runtime version in the release file of the JDK that
    ``spark-class`` runs (``$JAVA_HOME``, else ``java`` on the PATH)."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    fields = {}
    with suppress(OSError), open(os.path.join(home, "release")) as f:
        fields = dict(line.rstrip("\n").split("=", 1) for line in f if "=" in line)
    version = fields.get("JAVA_RUNTIME_VERSION") or fields.get("JAVA_VERSION")
    return version.strip('"') if version else None


def archive_key(spark_home: str, java: str, memory: str) -> str:
    """A digest of what a driver's archive depends on: the Java
    version, the ``$SPARK_HOME/jars`` list (names and sizes) and
    whether the heap uses compressed oops (below 32g)."""
    units = {"k": 10, "m": 20, "g": 30, "t": 40}
    mem = memory.lower().rstrip("b")
    heap = int(mem[:-1]) << units[mem[-1]] if mem[-1] in units else int(mem) << 20
    h = hashlib.sha256(f"{java}\0{heap < 32 << 30}".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"\0{name}\0{os.path.getsize(os.path.join(jars, name))}".encode())
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _class_sharing(memory: str) -> tuple[str, ...]:
    """The driver JVM options for its class-data-sharing archive, and
    ``class_sharing`` set to match. JDK 17 has no automatic archive, so
    the engine picks: map ``<key>.jsa`` if it is there, else dump the
    classes this JVM loads to ``<key>.jsa.tmp<pid>`` when it exits;
    ``stop`` moves that into place only after a clean exit, because a
    truncated archive at the final path crashes the JVM that maps it.

    The dump refuses a non-empty directory on the classpath, and the
    conf dir is on it. A conf dir of ``*.template`` files only is
    swapped for an empty one in the cache dir; one with real config is
    left alone and runs without an archive. Archives under other keys
    and the temp files of dead processes are deleted on the way."""
    class_sharing.clear()
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = java_version()
    major = re.match(r"\d+", java or "")
    real = []
    with suppress(OSError):
        real = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
    if real:
        reason = f"conf dir {conf} holds {real[0]}"
    elif major is None:
        reason = "no JDK release file"
    elif int(major.group()) < 13:
        reason = f"java {java} cannot dump an archive"
    else:
        reason = None
    if reason:
        class_sharing.update(state="off", reason=reason)
        return () if real else JVM_LOG_OPTS
    cds = cache_dir()
    empty = os.path.join(cds, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        key = archive_key(spark_home, java, memory)
        for name in os.listdir(cds):
            pid = name.partition(".jsa.tmp")[2]
            if (not _alive(int(pid)) if pid.isdigit()
                    else name.endswith(".jsa") and name != f"{key}.jsa"):
                with suppress(FileNotFoundError):  # another start got it
                    os.remove(os.path.join(cds, name))
    except OSError as exc:
        class_sharing.update(state="off", reason=f"cache dir: {exc}")
        return JVM_LOG_OPTS
    os.environ["SPARK_CONF_DIR"] = empty
    path = os.path.join(cds, f"{key}.jsa")
    magic = b""
    with suppress(OSError), open(path, "rb") as f:
        magic = f.read(4)
    # the JVM silently ignores a file without it; a dump replaces it
    if magic == ARCHIVE_MAGIC:
        class_sharing.update(state="used", path=path)
        return (*JVM_LOG_OPTS, f"-XX:SharedArchiveFile={path}")
    class_sharing.update(state="dumping", path=path)
    return (*JVM_LOG_OPTS, f"-XX:ArchiveClassesAtExit={_temp(path)}")


def _temp(path: str) -> str:
    return f"{path}.tmp{os.getpid()}"


def stop(spark: SparkSession) -> None:
    """Stop ``spark``, close the py4j gateway and wait for the driver
    JVM this process launched to exit. A dump the JVM wrote at exit is
    renamed into place only if it exited 0. Safe to call again."""
    gateway = SparkContext._gateway
    if gateway is not None:
        # a JVM that is already gone: refused, or an empty answer
        with suppress(Py4JError, ConnectionError):
            spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait()
    while _dumps:
        proc, tmp, path = _dumps.pop()
        proc.stdin.close()
        if proc.wait() == 0 and os.path.exists(tmp):
            os.replace(tmp, path)
        else:
            with suppress(FileNotFoundError):
                os.remove(tmp)


def build_session(
    app_name: str = "mcp_iceberg_duckdb_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the shared SparkSession.

    One session is shared across the whole query suite — Spark fixed
    overheads (JVM start, scheduler warmup) dominate at tiny scale
    factors otherwise (BASELINE.md notes this explicitly).

    When this call launches the driver JVM, the JVM options of
    ``_class_sharing`` are appended to any
    ``spark.driver.extraJavaOptions`` in ``extra_conf``. A JVM that
    dumps its archive at exit is stopped by ``stop`` at interpreter
    exit, if not before.
    """
    cpus = default_parallelism()
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory()
    conf = dict(extra_conf or {})
    launch = SparkContext._gateway is None
    opts = _class_sharing(memory) if launch else ()
    if opts:
        java = "spark.driver.extraJavaOptions"
        conf[java] = " ".join(filter(None, (conf.get(java), *opts)))
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
        # static: read once, when the JVM first generates code
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", memory)
        # fixture files are single small parquets; 2 MB splits let a
        # filter+agg scan use all local cores (3× on TPC-H Q1/Q3 here).
        # A production deployment reading 100 TB keeps the 128 MB
        # default — override via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(2 * 1024 * 1024)),
        )
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    proc = SparkContext._gateway.proc
    if launch and class_sharing.get("state") == "dumping" and proc is not None:
        path = class_sharing["path"]
        _dumps.append((proc, _temp(path), path))
        atexit.register(stop, spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
