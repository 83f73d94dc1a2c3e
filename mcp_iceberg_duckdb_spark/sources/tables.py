"""Table loaders for the driver's parquet fixtures (TESTDATA.md).

This is the Spark replacement for the reference's scan layer
(``IcebergConnection.py:107-114`` — ``catalog.load_table`` +
unfiltered ``table.scan()`` → full in-memory Arrow copy). Here a
"load" is *lazy*: ``spark.read.parquet`` only binds schema; Catalyst
pushes filters / prunes columns into the parquet scan, so unlike the
reference nothing is materialized until an action runs, and only the
needed columns/row-groups are read.

Schemas are declared explicitly (they are the fixed TESTDATA.md
contract). Explicit schemas buy three things at scale:

- no footer-sampling schema inference pass over 100 TB of files,
- timestamps are pinned to TIMESTAMP_NTZ regardless of session conf
  (the fixture parquet stores naive timestamps; the DuckDB oracle
  reads them naive),
- type intent is documented (e.g. ``embedding array<float>``).

``events.ts`` has shipped in BOTH nanosecond and microsecond parquet
variants across driver rounds, so :func:`events_ts_unit` sniffs the
footer unit per load: µs/ms files bind TIMESTAMP_NTZ directly; nanos
files read the raw int64 (legacy conf) and truncate to µs — the same
truncation DuckDB applies, so both sides see identical values either
way. :func:`streaming.events.read_event_stream` branches on the same
sniff (a nanos-only reader lands 2024 µs data in Jan 1970).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NTZ = T.TimestampNTZType()

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", _NTZ),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", _NTZ),
        ]
    ),
    # events.ts declared as int64 here for the TIMESTAMP(NANOS)
    # fixture variant (Spark's reader rejects nanos outright; legacy
    # conf reads the raw int64, load() truncates to µs NTZ — the same
    # truncation DuckDB applies). The driver regenerates the fixtures
    # per round and has shipped both nanos and µs variants, so load()
    # sniffs the actual footer unit and only uses this schema for
    # nanos; µs/ms files read directly as NTZ.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# events schema variant for µs/ms fixtures: ts binds directly as NTZ
# (no int64 + convert dance). Shared by the batch loader and
# streaming.events.read_event_stream so the two paths can never
# diverge on the unit question again.
EVENTS_NTZ_SCHEMA = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", _NTZ)
        for f in SCHEMAS["events"].fields
    ]
)


def events_ts_unit(path: str) -> str:
    """Physical unit of ``events.ts`` in this fixture ('ns', 'us', or
    'ms'). One driver-side footer read per load — the fixtures are
    regenerated per round and have shipped BOTH nanosecond and
    microsecond variants, so the unit must be sniffed, never assumed
    (a nanos-only loader silently lands 2024 µs data in Jan 1970)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not files:
            raise FileNotFoundError(
                f"events fixture dir {path!r} contains no .parquet file"
            )
        path = os.path.join(path, files[0])
    ts_type = pq.read_schema(path).field("ts").type
    unit = getattr(ts_type, "unit", None)
    if unit is None:
        raise TypeError(
            f"events.ts in {path!r} has parquet type {ts_type!r}, not a "
            "timestamp — cannot infer precision; regenerate the fixture "
            "or extend the loader for this physical type"
        )
    return unit


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily bind one fixture table. Filters/projections on the
    returned DataFrame push down into the parquet scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = SCHEMAS.get(name)
    if name == "events":
        if events_ts_unit(path) != "ns":
            # µs (or ms) precision: Spark's NTZ reader handles it
            # natively at full fidelity — no conversion column.
            return spark.read.schema(EVENTS_NTZ_SCHEMA).parquet(path)
        # TIMESTAMP(NANOS) column: read as int64, truncate to µs NTZ.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schema).parquet(path)
        # integer `div`, not `/`: float division of int64 nanos loses
        # precision past 2^53 and lands ±1µs off the true value
        ts_ntz = F.timestamp_add(
            "MICROSECOND",
            F.expr("ts div 1000"),
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        )
        return df.withColumn("ts", ts_ntz)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


class Tables:
    """Attribute-style lazy table access: ``t = Tables(spark, sf_dir);
    t.lineitem``. Replaces the reference's per-query
    ``catalog.load_table`` (IcebergConnection.py:108)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown fixture table: {name}")
        if name not in self._cache:
            self._cache[name] = load(self._spark, self._sf_dir, name)
        return self._cache[name]
