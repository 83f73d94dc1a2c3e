"""Shared helpers for operator builders.

Determinism conventions (SURVEY.md §5): every computed column is
aliased identically in the Spark builder and the DuckDB oracle SQL;
double-valued aggregates are rounded on BOTH sides (sum-order across
partitions is nondeterministic in any parallel engine, so last-ulp
float differences are expected and rounded away); LIMIT queries use a
total order with a unique tiebreak key.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mcp_iceberg_duckdb_spark.sources.tables import TABLE_NAMES, Tables, load


def t(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)


def views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views so spark.sql (builders,
    the router) resolves bare table names — the Spark analogue of the
    reference registering the scanned Arrow table into DuckDB
    (IcebergConnection.py:114)."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# (path, size, mtime) -> row-group count; parquet footers are
# immutable for a given file version, so this never goes stale —
# bounded FIFO so a long-lived session scanning many table versions
# cannot grow it without limit (ADVICE r14)
_RG_CACHE: dict[tuple, int] = {}
_RG_CACHE_MAX = 4096

# files whose FOOTERS are read per gate decision; beyond this the
# row-group census is skipped and the estimate is bytes-only
# (footer reads cost an open+seek each; os.stat is ~free)
_RG_PROBE_CAP = 64


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ("2097152", "134217728b",
    "128MB", "1g") to bytes."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _scan_splits(df: DataFrame) -> int | None:
    """ESTIMATED usable scan tasks of ``df``'s file source — Spark's
    planned file-partition count capped by parquet row-group counts.

    Spark sizes file partitions by BYTES (FilePartition):
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (bytes + openCost per file) / minPartitionNum)); each file is cut
    into pieces of at most maxSplitBytes, and the pieces, largest
    first, are packed into partitions charging the open cost per
    piece. So a mid-size many-row-group file, or many tiny files
    under a large open cost, still scans in 1-2 tasks. Each file
    yields no more usable tasks than it has row groups (a piece finer
    than a row group reads nothing). None = no file source /
    non-file scheme / unknowable cheaply — callers treat that as "not
    splittable" (the safe side: one extra exchange, never a serial
    stage)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    paths = []
    for f in files:
        if "://" in f or f.startswith("file:"):
            u = urlparse(f)
            if u.scheme not in ("file", ""):
                # remote scheme: sizes unknowable without FS calls —
                # fall through to the safe repartition default
                return None
            paths.append(unquote(u.path))
        else:
            paths.append(f)
    sess = df.sparkSession
    conf = sess.conf.get
    try:
        max_pb = _size_bytes(
            conf("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        open_cost = _size_bytes(
            conf("spark.sql.files.openCostInBytes", "4194304b")
        )
        min_parts = int(
            conf("spark.sql.files.minPartitionNum", None)
            or conf("spark.sql.leafNodeDefaultParallelism", None)
            or sess.sparkContext.defaultParallelism
        )
        sizes = []
        keys = []
        for p in paths:
            st = os.stat(p)
            sizes.append(st.st_size)
            keys.append((p, st.st_size, int(st.st_mtime)))
    except Exception:
        return None
    total = sum(sizes) + open_cost * len(paths)
    max_split = min(max_pb, max(open_cost, total // max(min_parts, 1))) or 1
    pieces = sorted(
        (min(max_split, size - off)
         for size in sizes for off in range(0, size, max_split)),
        reverse=True,
    )
    packed, fill, open_part = 0, 0, False
    for length in pieces:
        if open_part and fill + length > max_split:
            packed, fill, open_part = packed + 1, 0, False
        fill += length + open_cost
        open_part = True
    packed += open_part
    if len(paths) > _RG_PROBE_CAP:
        # too many footers to probe: bytes-only estimate (production
        # many-file layouts have row groups proportionate to size)
        return packed
    import pyarrow.parquet as pq

    per_file = 0
    for p, size, key in zip(paths, sizes, keys):
        try:
            if key not in _RG_CACHE:
                if len(_RG_CACHE) >= _RG_CACHE_MAX:
                    _RG_CACHE.pop(next(iter(_RG_CACHE)))
                _RG_CACHE[key] = pq.ParquetFile(p).metadata.num_row_groups
            rg = _RG_CACHE[key]
        except Exception:
            return None
        per_file += min(rg, -(-size // max_split))
    return min(packed, per_file) if per_file else packed


def parallelize(df: DataFrame) -> DataFrame:
    """LAYOUT-GATED repartition to the session's default parallelism
    before a CPU-heavy per-row stage (signatures, codecs, cosine
    scoring, shingle/n-gram expansion).

    The gate (guide §2.5 "unsplittable input" / §6 input-split
    sizing): a parquet scan can split no finer than its row groups,
    so a small single-row-group fixture file runs every downstream
    narrow stage in ONE task no matter what maxPartitionBytes says.
    When the source provides fewer independently-readable units than
    HALF the default parallelism, round-robin the rows across the
    cluster; when the input already splits (production: thousands of
    files/row groups), return the plan UNCHANGED — no exchange, no
    cost, identical to not calling this at all. Partitioning is thus
    derived from the input layout, never a constant tuned to either
    local mode or the cluster. With at least half as many input files
    as the parallelism the files alone are enough scan units, so the
    plan returns before any file is stat'ed, on any scheme: a
    100k-file table costs no driver walk."""
    sc = df.sparkSession.sparkContext
    if len(df.inputFiles()) * 2 >= sc.defaultParallelism:
        return df
    splits = _scan_splits(df)
    if splits is not None and splits * 2 >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def rn(c: Column | str, n: int) -> Column:
    """Version-inert display rounding for DOUBLE expressions:
    floor(x·10ⁿ + 0.5) / 10ⁿ in pure IEEE double ops, which are
    bit-identical across engines. Engine-native round(double, n) is
    NOT: Spark rounds the shortest decimal repr HALF_UP while DuckDB
    rounds the binary value, and the resolution of `.xx5`-looking
    midpoints is additionally DuckDB-version-dependent — the round-1
    driver hash mismatches (q3/q5/a_having, CORRECTNESS_r01) were
    only ever observed on the driver's DuckDB, never locally. SQL
    twin: floor((x) * 1eN + 0.5) / 1eN."""
    if isinstance(c, str):
        c = F.col(c)
    p = F.lit(float(10**n))
    return F.floor(c * p + F.lit(0.5)) / p


def r2(c: Column | str) -> Column:
    return rn(c, 2)


def r4(c: Column | str) -> Column:
    return rn(c, 4)


def r6(c: Column | str) -> Column:
    return rn(c, 6)


def dec_round(c: Column, n: int, widen: str = "decimal(30,6)") -> Column:
    """Round an (already exact) DECIMAL column to n places and emit
    DOUBLE, all in version-inert ops: the scaling/half-add/floor run
    in exact decimal arithmetic (identical in any engine), the final
    int→double cast and one division are exact-then-correctly-rounded
    IEEE. No DECIMAL ever reaches the output schema — driver-side
    hashing of DECIMAL values proved version-sensitive in round 1
    (CORRECTNESS_r01: a_having mismatched although its sums are
    exactly 2-dp, so the divergence was representation, not value).

    `widen` must leave ≥ 8 digits of precision headroom so the
    ·10ⁿ product stays inside DECIMAL(38,s) in BOTH engines (DuckDB
    widens a multiply to p1+p2 and falls back to DOUBLE past 38)."""
    s = c.cast(widen)
    pw = F.lit(10**n).cast("decimal(9,0)")
    units = F.floor(s * pw + F.lit(0.5).cast("decimal(2,1)"))
    return units.cast("double") / F.lit(float(10**n))


def dec_sum(c: Column, out_scale: int = 2, dec: str = "decimal(18,6)") -> Column:
    """Deterministic money-style sum: per-row cast to DECIMAL (exact
    and order-INDEPENDENT to add), exact decimal sum, then
    version-inert rounding to DOUBLE via dec_round.

    round(sum(double), 2) is a latent cross-session hash-mismatch:
    double summation order varies with partitioning (core count), and
    with enough groups some sum lands within an ulp of a half-cent
    midpoint — observed on TPC-H Q7 (1199 groups): 1413903.735 →
    .73 on one session, .74 on another. Hence the exact decimal sum.
    SQL twin:
    CAST(floor(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DECIMAL(30,6))
               * CAST(100 AS DECIMAL(3,0)) + 0.5) AS DOUBLE)
      / CAST(100 AS DOUBLE)."""
    return dec_round(F.sum(c.cast(dec)), out_scale, widen="decimal(30,6)")


def dec_avg(c: Column, out_scale: int = 4, dec: str = "decimal(18,6)") -> Column:
    """Deterministic mean via exact decimal sum / count, rounded
    version-inertly (rn). SQL twin:
    floor((CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x))
          * 1eN + 0.5) / 1eN."""
    return rn(F.sum(c.cast(dec)).cast("double") / F.count(c), out_scale)


def cap_basket(
    df: DataFrame, basket_col: str, item_col: str, cap: int
) -> DataFrame:
    """Deterministic per-basket cap ahead of a pair self-join: keep
    the `cap` smallest `item_col` values in each `basket_col` group.

    A basket-keyed pair join fans out Σ basket² — fine when baskets
    are organically small (TPC-H orders: ≤ 7 items), but ONE hot
    basket (a bot order, a crawl artifact, a default/test key) is the
    classic quadratic blowup: a 1 M-item basket alone emits 5·10¹¹
    pairs into the shuffle. Capping bounds every basket's fan-out at
    cap·(cap-1)/2 pairs, making the stage's worst case linear in the
    number of baskets at ANY corpus size. The kept subset is
    deterministic (smallest item ids), so results are reproducible
    and engine-independent; whenever true basket sizes are ≤ cap the
    output is bit-identical to the uncapped operator.

    Spark shape: one row_number window — Spark's WindowGroupLimit
    rule applies the rank limit map-side before the exchange, and the
    window's hash partitioning on the basket key is exactly the
    partitioning the downstream self-join needs, so the cap adds no
    extra shuffle. SQL twin:
    row_number() OVER (PARTITION BY basket ORDER BY item) <= cap.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(basket_col).orderBy(item_col)
    return (
        df.withColumn("__brn", F.row_number().over(w))
        .where(F.col("__brn") <= cap)
        .drop("__brn")
    )


def ntz(lit: str) -> Column:
    """Timestamp-NTZ literal (matches DuckDB's naive TIMESTAMP '...')."""
    return F.lit(lit).cast("timestamp_ntz")


def sql_query(sql: str):
    """Builder for queries expressed directly in (dialect-shared) SQL:
    registers every fixture view, then runs Catalyst on the text."""

    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        views(spark, sf_dir, *TABLE_NAMES)
        return spark.sql(sql)

    return builder
