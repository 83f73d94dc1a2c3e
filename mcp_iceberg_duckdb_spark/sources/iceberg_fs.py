"""Pure-python Iceberg TABLE I/O over a filesystem location — the
path that reads and writes Iceberg tables without the Iceberg Spark
runtime jar or PyIceberg (sources/iceberg.py holds the jar-based
catalog wiring). Built from the public Apache Iceberg Table Spec and
the Avro spec (sources/avro_io.py). Tables are created at format
version 1 and stamped version 2 by their first merge-on-read commit;
every snapshot carries v2 sequence numbers.

- metadata: ``metadata/v<N>.metadata.json`` + ``version-hint.text``,
  snapshots with manifest lists (Avro), manifests of data-file
  entries (Avro) carrying partition tuples, record counts, and
  column lower/upper bounds (single-value binary serialization:
  little-endian ints/longs/doubles, UTF-8 strings).
- read path: resolve snapshot -> manifest list -> manifests ->
  live entries (_live_entries, the one walk every planner filters),
  PRUNING on partition values and column bounds before Spark ever
  lists a file; the surviving parquet paths feed
  ``spark.read.parquet`` and the residual filter stays pushed down
  inside Spark's scan.
- write path: Spark writes parquet; the commit assembles per-file
  stats from parquet footers (pyarrow), writes manifests and a
  manifest list and links the next metadata version
  (_commit_snapshot / _commit_meta) — snapshot history and time
  travel come along for free.

Reference parity: IcebergConnection.py:107-177 reads via PyIceberg
`table.scan().to_arrow()` — an unfiltered full download. This path
implements the same table format with manifest-level pruning, the
thing the reference's design note says it cannot do.

Column resolution is BY NAME on the parquet side (Spark's parquet
files don't carry Iceberg field-ids; the spec's name-mapping
fallback). Partition transforms: identity, bucket[N] (hidden
murmur3 routing + equality pruning), truncate[W] (hidden
order-preserving routing + range pruning) and year/month/day/hour.

Row-level DML is one row plan per verb (DELETE/UPDATE: the live
rows a predicate holds for; MERGE: one full outer join with the
source) and one writer (_rewrite) with the spec's two shapes:
copy-on-write (overwrite snapshots with a pruning-bounded rewrite
set) and merge-on-read (position-delete files applied at read time
via `_metadata.row_index` plus appended rows, zero data files
rewritten). mor_delete_keys writes sequence-scoped equality-delete
files. Compaction materializes both delete kinds away.
"""

from __future__ import annotations

import json
import os
import re
import struct
import time
import uuid
from typing import NamedTuple

from mcp_iceberg_duckdb_spark.sources.avro_io import (
    read_container,
    write_container,
)

_SPARK_TO_ICE = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    # Iceberg `timestamp` = microseconds since epoch, no zone —
    # Spark's timestamp_ntz. Spark's zoned `timestamp` (LTZ) maps to
    # Iceberg `timestamptz`: the same epoch micros with UTC-instant
    # semantics (spec §Primitive Types).
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
    "binary": "binary",
}

_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


def spark_to_ice_type(simple: str, next_id=None):
    """Spark ``simpleString`` -> Iceberg type. Primitives return the
    spec's string spelling (incl. ``decimal(P,S)``, ``timestamptz``,
    ``binary``); ``array<prim>`` returns the spec's JSON list struct
    — ``next_id`` (callable -> int) supplies the element-id. Nested
    lists / struct / map stay unsupported loudly (spec cost is low
    but no fixture exercises them)."""
    simple = simple.strip()
    if simple in _SPARK_TO_ICE:
        return _SPARK_TO_ICE[simple]
    m = _DECIMAL_RE.match(simple)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        if p > 38:
            raise ValueError(f"decimal precision {p} > 38")
        return f"decimal({p},{s})"
    if simple.startswith("array<") and simple.endswith(">"):
        elem = spark_to_ice_type(simple[6:-1])
        if not isinstance(elem, str):
            raise ValueError(f"nested list type unsupported: {simple}")
        return {
            "type": "list",
            "element-id": next_id() if next_id else 0,
            "element": elem,
            "element-required": False,
        }
    raise ValueError(f"unsupported column type {simple!r}")


def ice_to_spark_type(t) -> str:
    """Iceberg type (string or JSON list struct) -> Spark DDL type
    string. Inverse of spark_to_ice_type for everything the vendored
    format stores."""
    if isinstance(t, dict):
        if t.get("type") == "list":
            return f"array<{ice_to_spark_type(t['element'])}>"
        raise ValueError(f"unsupported Iceberg type {t!r}")
    if t in _ICE_TO_SPARK:
        return _ICE_TO_SPARK[t]
    if t.startswith("decimal("):
        return t.replace(" ", "")  # same spelling in Spark DDL
    raise ValueError(f"unsupported Iceberg type {t!r}")


def _decimal_scale(ice_type: str) -> int:
    m = _DECIMAL_RE.match(ice_type)
    if not m:
        raise ValueError(f"not a decimal type: {ice_type}")
    return int(m.group(2))


def _is_primitive(t) -> bool:
    return isinstance(t, str)


def ice_type_str(t) -> str:
    """Display form of an Iceberg type for DESCRIBE-style output:
    primitives are their spec spelling, lists render ``list<elem>``."""
    if isinstance(t, dict) and t.get("type") == "list":
        return f"list<{ice_type_str(t['element'])}>"
    return str(t)

# ---- bucket transform (spec appendix B: 32-bit Murmur3, seed 0) ----


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 over ``data`` — vendored from the public
    algorithm because Spark's builtin hash() uses seed 42 and a
    different input encoding, so it cannot reproduce Iceberg bucket
    ids. Returns the UNSIGNED 32-bit result."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(v, ice_type: str, n: int) -> int:
    """Iceberg bucket id: ``(murmur3(encode(v)) & INT_MAX) % n``.
    int/long/date hash their 8-byte little-endian two's-complement;
    strings hash raw UTF-8 (spec appendix B — pinned against the
    spec's own test vectors in tests)."""
    if ice_type == "timestamptz":
        ice_type = "timestamp"  # same epoch-micros long hash
    if ice_type == "timestamp" and not isinstance(v, int):
        # normalize datetime-ish values to epoch micros: the write
        # path's pandas_udf hands pandas.Timestamp (ns resolution),
        # probes hand datetime
        if hasattr(v, "value"):
            v = int(v.value) // 1000
        elif hasattr(v, "timetuple"):
            v = _micros_of(v)
    if ice_type in ("int", "long", "date", "timestamp"):
        # timestamps hash their epoch-micros long (spec appendix B)
        data = int(v).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        data = str(v).encode("utf-8")
    else:
        raise ValueError(f"bucket transform unsupported for {ice_type}")
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def _transform_parts(transform: str):
    """'identity' -> ('identity', None); 'bucket[8]' -> ('bucket', 8);
    'truncate[10]' -> ('truncate', 10)."""
    if transform == "identity":
        return "identity", None
    if transform.startswith("bucket[") and transform.endswith("]"):
        return "bucket", int(transform[7:-1])
    if transform.startswith("truncate[") and transform.endswith("]"):
        return "truncate", int(transform[9:-1])
    if transform in ("year", "month", "day", "hour"):
        return transform, None
    raise ValueError(f"unsupported partition transform {transform!r}")


def temporal_value(epoch_days: int, kind: str) -> int:
    """Iceberg temporal transforms of a date (stored as days since
    1970-01-01, matching the bound encoding): ``year`` -> years from
    1970, ``month`` -> months from 1970-01, ``day`` -> the epoch day
    itself. All monotone in the source date, so range predicates
    prune conservatively on the partition value."""
    import datetime

    d = datetime.date(1970, 1, 1) + datetime.timedelta(days=int(epoch_days))
    if kind == "year":
        return d.year - 1970
    if kind == "month":
        return (d.year - 1970) * 12 + (d.month - 1)
    if kind == "day":
        return int(epoch_days)
    raise ValueError(f"not a temporal transform {kind!r}")


def temporal_value_micros(epoch_micros: int, kind: str) -> int:
    """Temporal transforms of a TIMESTAMP (epoch microseconds, the
    bound encoding): same year/month/day meaning as the date variant
    plus ``hour`` -> hours from 1970-01-01T00. Floor-division keeps
    pre-1970 values monotone (spec: transforms floor toward
    negative infinity)."""
    us = int(epoch_micros)
    if kind == "hour":
        return us // 3_600_000_000
    return temporal_value(us // 86_400_000_000, kind)


def truncate_value(v, ice_type: str, w: int):
    """Iceberg truncate transform (spec appendix B): ints/longs
    floor to a multiple of W (``v - (v mod W)`` with floor-mod, so
    negatives round DOWN); strings keep the first W characters.
    Order-preserving — which is why truncate partitions admit RANGE
    pruning where bucket admits only equality."""
    if ice_type in ("int", "long"):
        return int(v) - (int(v) % w)
    if ice_type == "string":
        return str(v)[:w]
    raise ValueError(f"truncate transform unsupported for {ice_type}")


def partition_source_cols(meta: dict) -> set:
    """Schema columns a partition value derives from — identity
    columns AND bucket sources. None of these may be updated in
    place (rows would need re-routing across partitions)."""
    by_id = {f["id"]: f["name"] for f in meta["schema"]["fields"]}
    return {
        by_id.get(e["source-id"], e["name"])
        for e in meta["partition-spec"]
    }


def _with_partition_cols(df, meta: dict):
    """Materialize the partition DIRECTORY columns on a DataFrame
    about to be written: identity fields are the source columns
    themselves; bucket fields get a hidden ``<col>_bucket`` column
    computed by an Arrow-batched pandas_udf of the spec's murmur3
    bucket (hidden partitioning: the reader never sees or supplies
    it). Returns (df, dir_col_names)."""
    from pyspark.sql import functions as F

    by_id = {f["id"]: f for f in meta["schema"]["fields"]}
    dir_cols = []
    out = df
    for e in meta["partition-spec"]:
        kind, n = _transform_parts(e["transform"])
        dir_cols.append(e["name"])
        if kind == "identity" or e["name"] in out.columns:
            continue
        src = by_id[e["source-id"]]
        if kind in ("year", "month", "day", "hour"):
            c = F.col(src["name"])
            if src["type"] == "timestamptz":
                # Iceberg defines timestamptz transforms on the UTC
                # instant. An LTZ column's year()/datediff() follow
                # the SESSION zone, so first re-render the instant as
                # its UTC wall clock: to_utc_timestamp(c, session_tz)
                # shifts by exactly (session_tz - UTC), making every
                # session-zone-rendered component read UTC values.
                tz = df.sparkSession.conf.get(
                    "spark.sql.session.timeZone", "UTC"
                )
                c = F.to_utc_timestamp(c, tz)
            # zone-free component arithmetic: correct for both DATE
            # and TIMESTAMP_NTZ sources (unix_timestamp would drag
            # the session zone into an ntz value)
            expr = {
                "year": F.year(c) - 1970,
                "month": (F.year(c) - 1970) * 12 + F.month(c) - 1,
                "day": F.datediff(
                    F.to_date(c), F.to_date(F.lit("1970-01-01"))
                ),
                "hour": F.datediff(
                    F.to_date(c), F.to_date(F.lit("1970-01-01"))
                ) * 24 + F.hour(c),
            }[kind]
            out = out.withColumn(e["name"], expr.cast("int"))
            continue
        if kind == "truncate":
            # order-preserving truncate stays JVM-side: floor-mod for
            # ints/longs, prefix for strings — no Python in the write
            c = src["name"]
            expr = (
                F.substring(F.col(c), 1, n)
                if src["type"] == "string"
                else F.col(c) - ((F.col(c) % n + n) % n)
            )
            out = out.withColumn(e["name"], expr)
            continue

        def _make(n=n, t=src["type"]):
            return F.pandas_udf(
                lambda s: s.map(
                    lambda v: None if v is None else bucket_value(v, t, n)
                ),
                "int",
            )

        out = out.withColumn(e["name"], _make()(F.col(src["name"])))
    return out, dir_cols


# ---- single-value binary serialization (spec appendix D) ----


def _micros_of(v) -> int:
    """datetime-ish -> EXACT integer epoch micros. A tz-aware value
    converts through UTC (timestamptz semantics); naive values are
    taken as the wall clock itself (timestamp ntz). Integer
    arithmetic only — float ``total_seconds()`` truncates ~1.25% of
    microsecond values one low (r13 review fix 641783c)."""
    import calendar

    if getattr(v, "tzinfo", None) is not None:
        import datetime

        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond


def encode_bound(ice_type: str, v):
    if v is None:
        return None
    if ice_type == "int":
        return struct.pack("<i", int(v))
    if ice_type in ("long", "date", "timestamp", "timestamptz"):
        if ice_type == "date" and hasattr(v, "toordinal"):
            # pyarrow surfaces date statistics as datetime.date;
            # bounds store days since 1970-01-01 (epoch ordinal)
            v = v.toordinal() - 719163
        if (
            ice_type in ("timestamp", "timestamptz")
            and hasattr(v, "timestamp")
        ):
            # pyarrow surfaces timestamp statistics as
            # datetime.datetime; bounds store MICROSECONDS since
            # epoch (spec appendix D) — timestamptz through UTC
            v = _micros_of(v)
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "binary":
        return bytes(v)
    if ice_type.startswith("decimal("):
        # spec appendix D: the UNSCALED value as minimal-length
        # two's-complement big-endian bytes
        from decimal import Decimal

        unscaled = int(
            Decimal(str(v)).scaleb(_decimal_scale(ice_type))
            .to_integral_value()
        )
        nbytes = (unscaled.bit_length() // 8) + 1
        return unscaled.to_bytes(nbytes, "big", signed=True)
    raise ValueError(f"unsupported bound type {ice_type}")


def decode_bound(ice_type: str, raw):
    if raw is None:
        return None
    raw = bytes(raw)
    if ice_type == "int":
        return struct.unpack("<i", raw)[0]
    if ice_type in ("long", "date", "timestamp", "timestamptz"):
        # a 4-byte bound was written before an int -> long promotion
        # (manifests are never rewritten on ALTER COLUMN TYPE; the
        # spec makes readers decode under the file's original width)
        if len(raw) == 4:
            return struct.unpack("<i", raw)[0]
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        # 4-byte bound from before a float -> double promotion
        if len(raw) == 4:
            return struct.unpack("<f", raw)[0]
        return struct.unpack("<d", raw)[0]
    if ice_type == "string":
        return raw.decode("utf-8")
    if ice_type == "boolean":
        return raw != b"\x00"
    if ice_type == "binary":
        return raw
    if ice_type.startswith("decimal("):
        from decimal import Decimal

        return Decimal(
            int.from_bytes(raw, "big", signed=True)
        ).scaleb(-_decimal_scale(ice_type))
    raise ValueError(f"unsupported bound type {ice_type}")


def _decimal_from_raw(raw, ice_type: str):
    """Parquet's raw decimal statistic -> Decimal: the UNSCALED value
    as a plain int (INT32/INT64 physical) or two's-complement
    big-endian bytes (FIXED_LEN_BYTE_ARRAY physical)."""
    if raw is None:
        return None
    from decimal import Decimal

    unscaled = (
        int.from_bytes(bytes(raw), "big", signed=True)
        if isinstance(raw, (bytes, bytearray))
        else int(raw)
    )
    return Decimal(unscaled).scaleb(-_decimal_scale(ice_type))


def _canon_stat(ice_type: str, v):
    """Normalize a pyarrow footer statistic to the canonical
    comparable domain decode_bound returns: epoch days/micros ints
    for date/timestamp[tz], Decimal for decimals, bytes for binary —
    so cross-row-group min/max folding compares like with like."""
    if v is None:
        return None
    if ice_type == "date" and hasattr(v, "toordinal"):
        return v.toordinal() - 719163
    if ice_type in ("timestamp", "timestamptz") and hasattr(
        v, "timestamp"
    ):
        return _micros_of(v)
    if ice_type.startswith("decimal("):
        from decimal import Decimal

        return Decimal(str(v))
    if ice_type == "binary":
        return bytes(v)
    return v


# ---- manifest Avro schemas (spec v1, required fields) ----


def _partition_avro_fields(spec, ice_schema):
    """Avro fields of the manifest's partition record: identity
    fields carry the source type, bucket fields carry the int
    bucket id. ``spec`` may also be a plain list of column names
    (identity shorthand used by older call sites)."""
    by_id = {f["id"]: f["type"] for f in ice_schema["fields"]}
    types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    avro_t = {
        "int": "int", "long": "long", "date": "int",
        "timestamp": "long", "timestamptz": "long",
        "float": "float", "double": "double",
        "string": "string", "boolean": "boolean",
    }
    out = []
    for e in spec:
        if isinstance(e, str):
            name, t = e, types[e]
        else:
            kind, _ = _transform_parts(e["transform"])
            name = e["name"]
            t = (
                by_id[e["source-id"]]
                if kind in ("identity", "truncate")
                else "int"
            )
        out.append(
            {"name": name, "type": ["null", avro_t[t]], "default": None}
        )
    return out


def _manifest_schema(part_cols, ice_schema):
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            # spec v2: the entry's data sequence number. Null means
            # "inherit from the manifest-list entry's sequence_number"
            # (ADDED files); EXISTING entries carried through a CoW
            # compaction keep their ORIGINAL number explicitly — the
            # property equality-delete scoping depends on.
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        # spec v2 content: 0=data, 1=position deletes,
                        # 2=equality deletes
                        {
                            "name": "content",
                            "type": "int",
                            "default": 0,
                            "field-id": 134,
                        },
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": _partition_avro_fields(
                                    part_cols, ice_schema
                                ),
                            },
                            "field-id": 102,
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
                        {
                            "name": "value_counts",
                            "type": ["null", {"type": "map", "values": "long"}],
                            "default": None,
                            "field-id": 109,
                        },
                        {
                            "name": "null_value_counts",
                            "type": ["null", {"type": "map", "values": "long"}],
                            "default": None,
                            "field-id": 110,
                        },
                        {
                            "name": "lower_bounds",
                            "type": ["null", {"type": "map", "values": "bytes"}],
                            "default": None,
                            "field-id": 125,
                        },
                        {
                            "name": "upper_bounds",
                            "type": ["null", {"type": "map", "values": "bytes"}],
                            "default": None,
                            "field-id": 128,
                        },
                        # spec v2: schema field-ids an EQUALITY delete
                        # file's rows match on (content=2 only)
                        {
                            "name": "equality_ids",
                            "type": [
                                "null",
                                {"type": "array", "items": "int"},
                            ],
                            "default": None,
                            "field-id": 135,
                        },
                    ],
                },
                "field-id": 2,
            },
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        # spec v2 field-id 517: 0 = data manifests, 1 = delete
        # manifests (position deletes). Default 0 keeps pre-v2
        # manifest lists readable AND lets carried-forward entries
        # written before the field existed re-serialize as data.
        {"name": "content", "type": "int", "default": 0, "field-id": 517},
        # spec v2 field-id 515: the commit sequence number of the
        # snapshot that ADDED this manifest. Entries written before
        # the field existed default to 0 — "older than every
        # equality delete", the conservative direction.
        {
            "name": "sequence_number",
            "type": "long",
            "default": 0,
            "field-id": 515,
        },
        {
            "name": "added_snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 503,
        },
        {
            "name": "added_data_files_count",
            "type": ["null", "int"],
            "default": None,
            "field-id": 504,
        },
    ],
}


# ---- table handle ----


def _meta_dir(loc: str) -> str:
    return os.path.join(loc, "metadata")


def _read_version(loc: str) -> int:
    """Current metadata version: the MAX of the hint and the
    directory scan. The hint alone is only advisory (Iceberg
    semantics): a writer killed between linking v<N> into place and
    updating the hint leaves a stale hint, and trusting it would
    wedge the table — every retry recomputes the same taken version
    and CommitFails forever. v<N> files are complete by construction
    (_write_meta links fully-written temp files), so the newest one
    on disk IS the committed state."""
    vs = [
        int(f[1:].split(".")[0])
        for f in os.listdir(_meta_dir(loc))
        if f.startswith("v") and f.endswith(".metadata.json")
    ]
    hint = os.path.join(_meta_dir(loc), "version-hint.text")
    try:
        with open(hint) as fh:
            hinted = int(fh.read().strip())
    except (OSError, ValueError):
        hinted = -1
    if not vs and hinted < 0:
        raise ValueError(f"no Iceberg metadata at {loc}")
    return max([hinted, *vs])


def read_table_meta(loc: str) -> dict:
    v = _read_version(loc)
    with open(os.path.join(_meta_dir(loc), f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    # the OPTIMISTIC-CONCURRENCY base: committers write at THIS
    # version + 1 (not the version current at commit time), so a
    # writer racing past them makes their link(2) collide and
    # CommitFail instead of silently clobbering the other commit
    # (hostile-probe r14: convert_equality_deletes committed over a
    # racing append and LOST its rows). Stripped before dump.
    meta["__base-version"] = v
    return meta


def _base_version(meta: dict, loc: str) -> int:
    """The version this metadata was read at — the only legal commit
    base. Falls back to the on-disk version for metadata dicts built
    without read_table_meta (fresh create_table)."""
    v = meta.get("__base-version")
    return v if v is not None else _read_version(loc)


def spark_schema_to_iceberg(df) -> dict:
    """Infer the Iceberg schema from a DataFrame. Top-level columns
    take ids 1..n; list element-ids continue the counter after them
    (every field id in a schema must be unique — spec §Schemas)."""
    n_top = len(df.schema.fields)
    counter = iter(range(n_top + 1, n_top + 1 + n_top))

    def next_id() -> int:
        return next(counter)

    fields = []
    for i, f in enumerate(df.schema.fields, 1):
        t = f.dataType.simpleString()
        try:
            ice_t = spark_to_ice_type(t, next_id=next_id)
        except ValueError:
            raise ValueError(
                f"unsupported column type {t} for {f.name}"
            ) from None
        fields.append(
            {"id": i, "name": f.name, "required": False, "type": ice_t}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _max_field_id(ice_schema: dict) -> int:
    """Highest field id in the schema, INCLUDING list element-ids —
    last-column-id must cover them or a later ADD COLUMN would mint
    a duplicate id."""
    mx = 0
    for f in ice_schema["fields"]:
        mx = max(mx, f["id"])
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "list":
            mx = max(mx, t.get("element-id", 0))
    return mx


def _build_spec_field(by_name: dict, c, field_id: int) -> dict:
    """One partition-spec field from the user-facing shorthand: a
    bare column name (identity transform) or a
    ``(column, transform, [N])`` tuple. Shared by create_table and
    add_partition_field so both validate transforms identically."""
    _partitionable = (
        "int", "long", "date", "timestamp", "timestamptz",
        "float", "double", "string", "boolean",
    )
    if isinstance(c, str):
        if c not in by_name:
            raise ValueError(f"unknown partition column {c!r}")
        if by_name[c]["type"] not in _partitionable:
            raise ValueError(
                f"cannot partition on {c!r} of type "
                f"{by_name[c]['type']!r} — use a primitive column"
            )
        return {
            "name": c,
            "transform": "identity",
            "source-id": by_name[c]["id"],
            "field-id": field_id,
        }
    col, kind, *rest = c
    if col not in by_name:
        raise ValueError(f"unknown partition column {col!r}")
    if by_name[col]["type"] not in _partitionable:
        raise ValueError(
            f"cannot partition on {col!r} of type "
            f"{by_name[col]['type']!r} — use a primitive column"
        )
    probe = 0 if by_name[col]["type"] != "string" else ""
    if kind == "bucket":
        n = int(rest[0])
        bucket_value(probe, by_name[col]["type"], n)
        name, transform = f"{col}_bucket", f"bucket[{n}]"
    elif kind == "truncate":
        n = int(rest[0])
        truncate_value(probe, by_name[col]["type"], n)
        name, transform = f"{col}_trunc", f"truncate[{n}]"
    elif kind in ("year", "month", "day", "hour"):
        src_t = by_name[col]["type"]
        ok_types = (
            ("timestamp", "timestamptz")
            if kind == "hour"
            else ("date", "timestamp", "timestamptz")
        )
        if src_t not in ok_types:
            raise ValueError(
                f"{kind} transform requires a "
                f"{' or '.join(ok_types)} column, {col} is {src_t}"
            )
        name, transform = f"{col}_{kind}", kind
    else:
        raise ValueError(f"unsupported transform {kind!r}")
    return {
        "name": name,
        "transform": transform,
        "source-id": by_name[col]["id"],
        "field-id": field_id,
    }


def create_table(loc: str, ice_schema: dict, part_cols=()) -> dict:
    """Write v1 table metadata (no snapshot yet). ``part_cols``
    entries are either a column name (identity transform) or a
    ``(column, "bucket", N)`` tuple (hidden bucket partitioning:
    the murmur3 bucket id routes rows and prunes scans without the
    reader ever supplying it — at 100 TB this is how a join key
    becomes a co-located partition key without skew on hot
    values)."""
    os.makedirs(_meta_dir(loc), exist_ok=True)
    os.makedirs(os.path.join(loc, "data"), exist_ok=True)
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    spec_fields = [
        _build_spec_field(by_name, c, 1000 + i)
        for i, c in enumerate(part_cols)
    ]
    meta = {
        "format-version": 1,
        "table-uuid": str(uuid.uuid4()),
        "location": loc,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": _max_field_id(ice_schema),
        "schema": ice_schema,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        "partition-spec": spec_fields,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        # spec §Sort Orders: order 0 is the canonical unsorted order
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "last-partition-id": 999 + len(spec_fields),
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": -1,
        "last-sequence-number": 0,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_meta(loc, meta, version=1)
    return meta


class CommitFailedError(RuntimeError):
    """Optimistic-concurrency conflict: another writer created the
    next metadata version first. The caller's commit did NOT land
    (and its data files are not referenced anywhere) — re-read the
    table and re-apply, exactly Iceberg's HadoopTableOperations
    contract. Before this existed, two writers committing from the
    same base version silently clobbered each other: the first
    commit's data files vanished from metadata (VERDICT r12
    missing #3)."""


def _write_meta(loc: str, meta: dict, version: int) -> None:
    path = os.path.join(_meta_dir(loc), f"v{version}.metadata.json")
    # write the FULL content to a temp name, then link(2) it into
    # place: the atomic compare-and-swap (exactly one writer can mint
    # v<N>; every other concurrent committer of the same base version
    # fails LOUDLY instead of clobbering), with the extra property
    # that v<N> NEVER exists half-written — a writer killed mid-dump
    # leaves only a .tmp, so readers and retriers never parse garbage
    tmp = f"{path}.{uuid.uuid4()}.tmp"
    meta = {k: v for k, v in meta.items() if not k.startswith("__")}
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitFailedError(
            f"metadata version v{version} already committed by a "
            f"concurrent writer at {loc} — re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)
    with open(os.path.join(_meta_dir(loc), "version-hint.text"), "w") as fh:
        fh.write(str(version))


def _commit_meta(loc: str, meta: dict, now_ms: int | None = None) -> None:
    """Commit ``meta`` as the version after the one it was read at,
    stamped ``last-updated-ms``. Every writer commits here, so a
    concurrent commit from the same base version always makes this
    one raise CommitFailedError instead of clobbering it."""
    meta["last-updated-ms"] = (
        int(time.time() * 1000) if now_ms is None else now_ms
    )
    _write_meta(loc, meta, _base_version(meta, loc) + 1)


def _new_snapshot(meta: dict) -> tuple[int, int]:
    """(snapshot id, sequence number) for the snapshot about to be
    committed. Bumps the table's ``last-sequence-number`` (spec v2);
    tables written before the field existed resume from 0, so every
    historic file reads as 'older than any new equality delete', the
    conservative direction."""
    seq = int(meta.get("last-sequence-number", 0)) + 1
    meta["last-sequence-number"] = seq
    return int(time.time() * 1000) * 1000 + len(meta["snapshots"]), seq


def _commit_snapshot(loc: str, meta: dict, snapshot_id: int, seq: int,
                     manifests, summary: dict, parent_id=None,
                     branch=None) -> dict:
    """Write the manifest list of ``manifests``, add the snapshot,
    move the head (or the named ``branch``) to it, log it and commit
    the next metadata version. Returns the snapshot."""
    ml_path = os.path.join(
        _meta_dir(loc), f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    )
    with open(ml_path, "wb") as fh:
        fh.write(write_container(_MANIFEST_LIST_SCHEMA, manifests))
    now_ms = int(time.time() * 1000)
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "summary": summary,
        "manifest-list": ml_path,
    }
    if parent_id is not None and parent_id != -1:
        snap["parent-snapshot-id"] = parent_id
    meta["snapshots"].append(snap)
    if branch is None:
        meta["current-snapshot-id"] = snapshot_id
        # snapshot-log records the MAIN branch history (spec)
        meta["snapshot-log"].append(
            {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
        )
    else:
        meta["refs"][branch]["snapshot-id"] = snapshot_id
    _commit_meta(loc, meta, now_ms)
    return snap


def _file_stats(path: str, ice_schema: dict, stat_cols):
    """Per-file stats from the parquet footer: record count, size,
    and min/max bounds for the requested columns (names -> field-id
    keyed maps, bounds in single-value binary form)."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in ice_schema["fields"]}
    md = pq.ParquetFile(path).metadata
    lower: dict[str, bytes] = {}
    upper: dict[str, bytes] = {}
    nulls: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for c in range(g.num_columns):
            col = g.column(c)
            name = col.path_in_schema
            if name not in by_name or name not in stat_cols:
                continue
            t = by_name[name]["type"]
            if not _is_primitive(t):
                continue  # list/struct columns carry no bounds
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            fid = str(by_name[name]["id"])
            # fold per-row-group stats in the CANONICAL domain (ints
            # for date/ts, Decimal, bytes) — decode_bound returns
            # canonical, so comparing it against a raw pyarrow
            # datetime would TypeError on multi-row-group files
            if t.startswith("decimal("):
                # pyarrow cannot cast decimal statistics (INT32/64 or
                # FLBA physical) — decode the UNSCALED raw values
                lo = _decimal_from_raw(st.min_raw, t)
                hi = _decimal_from_raw(st.max_raw, t)
                if lo is None or hi is None:
                    continue
            else:
                try:
                    lo = _canon_stat(t, st.min)
                    hi = _canon_stat(t, st.max)
                except Exception:
                    # pyarrow advertises has_min_max but cannot
                    # extract stats for some physical types — no
                    # bounds, no prune
                    continue
            if fid not in lower or decode_bound(t, lower[fid]) > lo:
                lower[fid] = encode_bound(t, lo)
            if fid not in upper or decode_bound(t, upper[fid]) < hi:
                upper[fid] = encode_bound(t, hi)
            nulls[fid] = nulls.get(fid, 0) + (st.null_count or 0)
    return {
        "record_count": md.num_rows,
        "file_size_in_bytes": os.path.getsize(path),
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
        "null_value_counts": nulls or None,
    }


def append(spark, loc: str, df, stat_cols=None, branch=None) -> dict:
    """Append a DataFrame as a new snapshot: parquet out via Spark
    (hive-layout dirs for identity partitions — Iceberg tracks files
    explicitly so layout is irrelevant), then the metadata commit.

    ``branch``: write to a NAMED BRANCH instead of the table head —
    the new snapshot's parent is the branch's current head and the
    branch ref advances to it, while ``current-snapshot-id`` (main)
    is untouched. This is the write half of write-audit-publish:
    land data on ``audit``, validate reading `VERSION AS OF
    'audit'`, then ``fast_forward(loc, 'main', 'audit')`` publishes
    atomically (one metadata commit, zero data movement)."""
    meta = read_table_meta(loc)
    base_id = meta["current-snapshot-id"]
    if branch == "main":
        branch = None  # the implicit head branch
    if branch is not None:
        r = (meta.get("refs") or {}).get(branch)
        if r is None:
            raise ValueError(f"branch {branch!r} does not exist")
        if r["type"] != "branch":
            raise ValueError(
                f"ref {branch!r} is a tag — tags are immutable"
            )
        base_id = r["snapshot-id"]
    new_files = _write_replacement(spark, loc, df, meta)
    snapshot_id, seq = _new_snapshot(meta)
    dm = _data_manifest(
        loc, meta, new_files, snapshot_id, stat_cols=stat_cols, seq=seq
    )
    # carry forward the BASE snapshot's manifests (append-only):
    # the branch head when writing to a branch, else the table head
    manifests = (
        _snapshot_manifests(loc, meta, base_id) if base_id != -1 else []
    )
    summary = {
        "operation": "append",
        "added-data-files": str(len(new_files)),
        "added-records": str(sum(_num_rows(p) for p in new_files)),
    }
    return _commit_snapshot(
        loc, meta, snapshot_id, seq, manifests + ([dm] if dm else []),
        summary, parent_id=base_id, branch=branch,
    )


def _read_file(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _list_parquet(root: str):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet")
        )
    return out


def _num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _written_parquet(out_dir: str) -> list:
    """(path, rows) of every non-empty parquet file Spark wrote under
    ``out_dir``; empty ones are removed from disk."""
    out = []
    for p in _list_parquet(out_dir):
        n = _num_rows(p)
        if n > 0:
            out.append((p, n))
        else:
            os.remove(p)
    return out


def _partition_from_path(path: str, spec, ice_schema, missing_ok=False):
    """Partition values from the hive dir layout Spark wrote
    (``field=value``): identity fields typed per the source column,
    bucket fields typed int. ``spec`` may be spec dicts or plain
    column names (identity shorthand). ``missing_ok`` maps a field
    absent from the path to None instead of raising — the
    partition-spec-evolution case: files written under an OLDER spec
    lack the new spec's dirs, and a None partition value never
    prunes (conservative)."""
    types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    by_id = {f["id"]: f["type"] for f in ice_schema["fields"]}
    vals = dict(
        seg.split("=", 1)
        for seg in path.split(os.sep)
        if "=" in seg
    )
    out = {}
    for e in spec:
        if isinstance(e, str):
            c, t = e, types[e]
        else:
            kind, _ = _transform_parts(e["transform"])
            c = e["name"]
            t = (
                by_id[e["source-id"]]
                if kind in ("identity", "truncate")
                else "int"
            )
        if c not in vals:
            if missing_ok:
                out[c] = None
                continue
            raise ValueError(f"partition column {c} missing in {path}")
        # Spark writes hive dirs through escapePathName ('a:b' ->
        # 'a%3Ab', '=' -> '%3D', '%' itself -> '%25'); the manifest
        # must store the REAL value or identity pruning on it drops
        # every file — a silent-data-loss bug for string partition
        # values with escaped characters. unquote is Hive's exact
        # inverse (unescapePathName decodes every %XX too).
        from urllib.parse import unquote

        raw = unquote(vals[c])
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[c] = None
        elif t == "date":
            # identity DATE partitions: Spark writes the hive dir as
            # the ISO date (d=2023-01-15); the manifest partition
            # tuple stores epoch days, matching the bound encoding.
            # (Temporal-transform fields — d_month= etc — resolve to
            # t="int" above and never reach this branch.)
            try:
                out[c] = int(raw)
            except ValueError:
                import datetime

                out[c] = (
                    datetime.date.fromisoformat(raw)
                    - datetime.date(1970, 1, 1)
                ).days
        elif t in ("timestamp", "timestamptz"):
            # identity TIMESTAMP partitions: Spark writes the hive
            # dir as the ISO form ('ts=2023-01-01 00%3A00%3A00'); the
            # manifest partition tuple stores epoch micros. A zoned
            # dir value (timestamptz) converts through UTC.
            try:
                out[c] = int(raw)
            except ValueError:
                import datetime

                dt = datetime.datetime.fromisoformat(raw)
                if dt.tzinfo is not None:
                    dt = dt.astimezone(
                        datetime.timezone.utc
                    ).replace(tzinfo=None)
                # exact integer micros (total_seconds() is float and
                # truncates ~1.25% of microsecond values one low)
                td = dt - datetime.datetime(1970, 1, 1)
                out[c] = (
                    td.days * 86_400_000_000
                    + td.seconds * 1_000_000
                    + td.microseconds
                )
        elif t in ("int", "long"):
            out[c] = int(raw)
        elif t in ("float", "double"):
            out[c] = float(raw)
        elif t == "boolean":
            out[c] = raw.lower() == "true"
        else:
            out[c] = raw
    return out


# ---- scan with manifest-level pruning ----

_OPS = {
    "=": lambda lo, hi, v: (lo is None or lo <= v)
    and (hi is None or v <= hi),
    "<": lambda lo, hi, v: lo is None or lo < v,
    "<=": lambda lo, hi, v: lo is None or lo <= v,
    ">": lambda lo, hi, v: hi is None or hi > v,
    ">=": lambda lo, hi, v: hi is None or hi >= v,
}


def plan_files(loc: str, snapshot_id=None, filters=()):
    """Resolve a snapshot to its surviving data files, pruning on
    identity-partition values (exact) and column bounds
    (conservative: keep unless the bounds PROVE no row can match).
    ``filters`` = iterable of (column, op, value), op in
    =, <, <=, >, >=. Returns (files, total_candidates)."""
    meta = read_table_meta(loc)
    data = _live_entries(loc, meta, snapshot_id, kind="data")
    return _prune(meta, data, filters), len(data)


def _prune(meta: dict, entries, filters=()) -> list:
    """Paths of the live DATA ``entries`` whose partition values and
    column bounds do not rule out every (column, op, value) filter;
    all data paths when there are no filters."""
    entries = [e for e in entries if e.kind == "data"]
    if not filters:
        return [e.path for e in entries]
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    by_id = {f["id"]: f["name"] for f in meta["schema"]["fields"]}
    # partition-spec evolution: each manifest is evaluated under the
    # spec it was WRITTEN under (its stamped spec-id), not the
    # current default — two specs may carry same-named fields with
    # different transforms, and a file's partition tuple only means
    # what its own spec says it means
    specs_by_id = {
        s["spec-id"]: s["fields"]
        for s in meta.get(
            "partition-specs",
            [{"spec-id": 0, "fields": meta["partition-spec"]}],
        )
    }
    structs: dict = {}
    files = []
    for e in entries:
        if e.spec_id not in structs:
            structs[e.spec_id] = _prune_structs(
                specs_by_id.get(e.spec_id, meta["partition-spec"]), by_id
            )
        keep = True
        for col, op, val in filters:
            f = by_name.get(col)
            if f is None:
                raise ValueError(f"unknown column {col}")
            try:
                keep = _eval_filter(
                    e.file, col, op, val, f["type"], *structs[e.spec_id], f
                )
            except (TypeError, ValueError):
                # a literal whose type cannot be compared against
                # the stored partition value / bounds (e.g. an
                # untyped date string) must degrade to keeping the
                # file, never crash the statement
                keep = True
            if not keep:
                break
        if keep:
            files.append(e.path)
    return files


def _split(meta: dict, entries, filters) -> tuple[list, list]:
    """(candidates, untouched): the live data files ``filters`` may
    match, and every other live data file — both from one walk."""
    candidates = _prune(meta, entries, filters)
    chosen = set(candidates)
    return candidates, [
        p for p in _prune(meta, entries) if p not in chosen
    ]


def _prune_structs(spec_fields, by_id):
    """The per-transform pruning lookup maps for ONE partition spec:
    (identity_cols, bucket_specs, trunc_specs, temporal_specs)."""
    identity_cols = set()
    bucket_specs: dict[str, list] = {}  # source col -> [(field, n)]
    trunc_specs: dict[str, list] = {}  # source col -> [(field, w)]
    temporal_specs: dict[str, list] = {}  # source col -> [(field, kind)]
    for e in spec_fields:
        kind, n = _transform_parts(e["transform"])
        src = by_id.get(e["source-id"])
        if kind == "identity":
            identity_cols.add(e["name"])
        elif src is None:
            continue  # source column since dropped: nothing to prune
        elif kind == "bucket":
            bucket_specs.setdefault(src, []).append((e["name"], n))
        elif kind == "truncate":
            trunc_specs.setdefault(src, []).append((e["name"], n))
        else:
            temporal_specs.setdefault(src, []).append((e["name"], kind))
    return identity_cols, bucket_specs, trunc_specs, temporal_specs


def _eval_filter(
    df_, col, op, val, t, identity_cols,
    bucket_specs, trunc_specs, temporal_specs, f,
):
    """One (col, op, val) pruning decision for one manifest entry —
    True = the file may contain matching rows. Split out of
    plan_files so a type mismatch anywhere in the comparison chain
    (untyped date-string literal, string vs numeric bound) is caught
    in ONE place by the caller and degrades to keep-the-file."""
    if col in identity_cols:
        pv = df_["partition"].get(col)
        return pv is None or _OPS[op](pv, pv, val)
    if op == "=" and col in bucket_specs:
        # hidden partitioning: an equality on the SOURCE column prunes
        # on its bucket id — the reader never mentions the partition
        # field
        for fname, n in bucket_specs[col]:
            pv = df_["partition"].get(fname)
            if pv is not None and pv != bucket_value(val, t, n):
                return False
        # fall through: source-column bounds still apply
    if col in temporal_specs:
        # monotone transforms admit conservative range pruning on the
        # transformed value (filter values are epoch days for dates /
        # epoch micros for timestamps, matching the bound encodings)
        for fname, kind in temporal_specs[col]:
            pv = df_["partition"].get(fname)
            if pv is None:
                continue
            tv = (
                temporal_value_micros(val, kind)
                if t in ("timestamp", "timestamptz")
                else temporal_value(val, kind)
            )
            if (
                (op == "=" and pv != tv)
                or (op in ("<", "<=") and not pv <= tv)
                or (op in (">", ">=") and not pv >= tv)
            ):
                return False
        # fall through: source-column bounds still apply
    if col in trunc_specs:
        # truncate is order-preserving: ints/longs admit RANGE pruning
        # (file rows live in [pv, pv+w)), strings prune on prefix
        # equality
        for fname, w in trunc_specs[col]:
            pv = df_["partition"].get(fname)
            if pv is None:
                continue
            if t == "string":
                if op == "=" and pv != truncate_value(val, t, w):
                    return False
            elif (
                (op == "=" and pv != truncate_value(val, t, w))
                or (op == "<" and not pv < val)
                or (op == "<=" and not pv <= val)
                or (op == ">" and not pv + w - 1 > val)
                or (op == ">=" and not pv + w - 1 >= val)
            ):
                return False
        # fall through: source-column bounds still apply
    fid = str(f["id"])
    lo = decode_bound(t, (df_.get("lower_bounds") or {}).get(fid))
    hi = decode_bound(t, (df_.get("upper_bounds") or {}).get(fid))
    return _OPS[op](lo, hi, val)


# ---- merge-on-read position deletes (spec v2) ----
#
# Delete files are parquet with the spec's position-delete schema —
# `file_path` (string, field-id 2147483546) and `pos` (long, field-id
# 2147483545), sorted by (file_path, pos) — stored under
# ``<loc>/deletes/`` and committed via a content=1 manifest. They
# carry sequence numbers but are scoped by the data-file PATH they
# name, not by sequence: this writer names every data file with a
# fresh uuid, so a delete row can never match a data file written
# after it — the anti-join is exact without a sequence check.
# Readers apply live deletes with a (broadcast when small) left-anti
# join on Spark's `_metadata.file_path`/`row_index` hidden columns,
# which is the distributed equivalent of the spec's per-file
# positional filtering.


def _plain(path: str) -> str:
    """Strip the scheme from a Spark `_metadata.file_path` URI
    (`file:///x/y` / `file:/x/y` -> /x/y). The percent-encoding stays
    — see _uri_path for why that is the canonical comparison form."""
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
    return path


def _uri_path(path: str) -> str:
    """Percent-encode a FILESYSTEM path (what manifests store) into
    the URI-path form Spark's `_metadata.file_path` reports, scheme
    stripped. Spark builds that value via Hadoop Path -> java.net.URI,
    which encodes characters illegal in a URI path (a hive partition
    dir like `p=4-NOT SPECIFIED` becomes `...4-NOT%20SPECIFIED...`);
    comparing raw filesystem paths against it silently misses those
    files — delete-file refs/bounds and sequence-number lookups must
    all compare in THIS canonical form. The safe set mirrors Java's
    URI path component (RFC 2396 unreserved + path punctuation)."""
    from urllib.parse import quote

    return quote(_plain(path), safe="/!$&'()*+,;=:@-_.~")


def _resolve_snapshot_ref(meta: dict, snapshot_id):
    """Resolve a snapshot reference: None -> current, an int passes
    through, a STRING resolves through the table's named refs
    (meta['refs'] — tags and branches, spec §Snapshot References).
    'main' always means the current snapshot (the implicit branch
    every Iceberg table carries)."""
    if snapshot_id is None or not isinstance(snapshot_id, str):
        return snapshot_id
    if snapshot_id == "main":
        return meta["current-snapshot-id"]
    refs = meta.get("refs") or {}
    if snapshot_id not in refs:
        raise ValueError(f"unknown snapshot ref {snapshot_id!r}")
    return refs[snapshot_id]["snapshot-id"]


def _snapshot_manifests(loc: str, meta: dict, snapshot_id=None):
    """The manifest-list entries of a snapshot (default current)."""
    snapshot_id = _resolve_snapshot_ref(meta, snapshot_id)
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id),
        None,
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not in {loc}")
    _, manifests = read_container(_read_file(snap["manifest-list"]))
    return manifests


class _Entry(NamedTuple):
    """One live manifest entry of a snapshot."""

    kind: str  # "data", "position" (delete) or "equality" (delete)
    seq: int  # data sequence number
    spec_id: int  # partition spec the entry's manifest was written under
    status: int  # 0 EXISTING, 1 ADDED
    snapshot_id: int | None  # snapshot that wrote the entry
    file: dict  # the entry's data_file record

    @property
    def path(self) -> str:
        return self.file["file_path"]


def _live_entries(loc: str, meta: dict, snapshot_id=None, kind=None):
    """Every live manifest entry of a snapshot (default current; an
    id or a ref name otherwise), in manifest order — the one walk
    every planner, scoper and commit filters. DELETED entries are
    dropped. An entry's data sequence number is its own explicit one
    when present (EXISTING files carried through a CoW keep their
    original) and otherwise the manifest's (ADDED files inherit it);
    both are 0 for tables written before sequence numbers. ``kind``
    keeps only "data", "position" or "equality" entries, and skips
    reading manifests that cannot hold that kind."""
    if not meta["snapshots"]:
        return []
    out = []
    for m in _snapshot_manifests(loc, meta, snapshot_id):
        deletes = m.get("content", 0) == 1
        if kind is not None and deletes == (kind == "data"):
            continue
        mseq = m.get("sequence_number", 0) or 0
        spec_id = m.get("partition_spec_id", 0)
        _, entries = read_container(_read_file(m["manifest_path"]))
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            df_ = e["data_file"]
            k = "data"
            if deletes:
                k = "equality" if df_.get("content", 1) == 2 else "position"
            if kind is not None and k != kind:
                continue
            eseq = e.get("sequence_number")
            out.append(_Entry(
                k, mseq if eseq is None else eseq, spec_id, e["status"],
                e.get("snapshot_id"), df_,
            ))
    return out


def _file_seqs(entries) -> dict:
    """data-file path -> data sequence number of the data entries."""
    return {e.path: e.seq for e in entries if e.kind == "data"}


def _eq_deletes(entries) -> list:
    """(path, sequence_number, equality_field_ids) of the
    equality-delete entries."""
    return [
        (e.path, e.seq, list(e.file.get("equality_ids") or ()))
        for e in entries
        if e.kind == "equality"
    ]


def _carry(e: _Entry) -> dict:
    """The _delete_manifest spec re-listing live delete entry ``e``
    with its original sequence number."""
    eq = e.kind == "equality"
    return {
        "path": e.path,
        "seq": e.seq,
        "content": 2 if eq else 1,
        "equality_ids": list(e.file.get("equality_ids") or ()) if eq else None,
    }


def _plan_file_seqs(loc: str, snapshot_id=None) -> dict:
    """data-file path -> data sequence number for every live data
    file of a snapshot."""
    return _file_seqs(
        _live_entries(loc, read_table_meta(loc), snapshot_id, kind="data")
    )


def plan_equality_deletes(loc: str, snapshot_id=None):
    """Live EQUALITY-delete files (spec v2 content=2) of a snapshot:
    list of (path, sequence_number, equality_field_ids). A delete
    applies only to data files with STRICTLY OLDER data sequence
    numbers — a row re-inserted after the delete survives."""
    return _eq_deletes(
        _live_entries(
            loc, read_table_meta(loc), snapshot_id, kind="equality"
        )
    )


def _bounds_disjoint(lo_a, hi_a, lo_b, hi_b) -> bool:
    """True when decoded ranges [lo_a, hi_a] and [lo_b, hi_b] provably
    miss each other; a missing bound or un-comparable types keep."""
    if None in (lo_a, hi_a, lo_b, hi_b):
        return False
    try:
        return hi_a < lo_b or lo_a > hi_b
    except TypeError:
        return False


def _key_range(types: dict, files, fids) -> dict:
    """fid(str) -> decoded (lowest lower, highest upper) bound over
    ``files`` (manifest data_file records), for each of ``fids`` that
    every one of them carries both bounds for: a field some file has
    no stats for, or of no primitive type, can never prove
    disjointness. Metadata scale, no Spark job."""
    out = {}
    for fid in fids:
        t = types.get(fid)
        if not _is_primitive(t):
            continue
        los, his = [], []
        for f in files:
            lo = decode_bound(t, (f.get("lower_bounds") or {}).get(fid))
            hi = decode_bound(t, (f.get("upper_bounds") or {}).get(fid))
            if lo is None or hi is None:
                break
            los.append(lo)
            his.append(hi)
        else:
            if los:
                out[fid] = (min(los), max(his))
    return out


def _eq_delete_misses(types: dict, delete: dict, ids, rng: dict) -> bool:
    """True when the equality-delete file ``delete`` (its manifest
    data_file record) provably masks no row whose keys lie in ``rng``
    (a _key_range): for some equality field the delete records zero
    NULL keys AND its [lo, hi] misses the range. The one bounds test
    of read-time scoping (_scope_eq_deletes_by_bounds) and of the
    conversion's candidates (_eq_candidate_files). Every guard keeps:
    NULL delete keys (null-safe equality matches outside any range),
    an unknown null count, a missing bound, a nested or un-comparable
    type — correctness never depends on skipping."""
    nulls = delete.get("null_value_counts") or {}
    for i in ids:
        fid = str(i)
        t = types.get(fid)
        if not _is_primitive(t) or nulls.get(fid) != 0:
            continue
        if _bounds_disjoint(
            decode_bound(t, (delete.get("lower_bounds") or {}).get(fid)),
            decode_bound(t, (delete.get("upper_bounds") or {}).get(fid)),
            *rng.get(fid, (None, None)),
        ):
            return True
    return False


def _scope_eq_deletes_by_bounds(meta, entries, eq, files):
    """Drop equality-delete files whose KEY ranges are PROVABLY
    disjoint from the union range of the planned data ``files`` (the
    eq-delete analog of position-delete path-bounds scoping) — then no
    delete row can null-safe-match any planned row. Correctness never
    depends on the scoping; only the per-key-set anti-join count
    does."""
    if not eq:
        return eq
    types = {str(f["id"]): f["type"] for f in meta["schema"]["fields"]}
    info = {e.path: e.file for e in entries}
    planned = set(files)
    rng = _key_range(
        types,
        [e.file for e in entries if e.kind == "data" and e.path in planned],
        {str(i) for _, _, ids in eq for i in ids},
    )
    return [
        d for d in eq
        if not _eq_delete_misses(types, info.get(d[0], {}), d[2], rng)
    ]


# delete relations at or under this byte size broadcast into the
# anti-join (the common case: deletes are a sliver of the data they
# mask); larger sets fall back to Spark's own join planning (shuffle)
# — the correctness of both paths is pinned in tests
_BROADCAST_DELETE_BYTES = 64 * 1024 * 1024


# the spec's reserved field-id for the position-delete schema's
# file_path column (2147483546) — delete manifests store min/max
# referenced-path bounds under it so readers can scope delete files
# to a scan without opening them
_DELETE_PATH_FID = "2147483546"


def plan_delete_files(loc: str, snapshot_id=None, data_files=None,
                      stats_out=None):
    """Live position-delete files of a snapshot, scoped to
    ``data_files`` when given (see _position_deletes)."""
    entries = _live_entries(
        loc, read_table_meta(loc), snapshot_id, kind="position"
    )
    return _position_deletes(entries, data_files, stats_out)


def _position_deletes(entries, data_files=None, stats_out=None) -> list:
    """The position-delete files among ``entries``.

    When ``data_files`` (the scan's planned data files) is given, the
    result is SCOPED to delete files that can actually mask one of
    them — two driver-side stages, no Spark job:

    1. manifest bounds: each delete manifest entry carries min/max
       referenced data-file path under the spec's reserved
       position-delete file_path field-id; a delete file whose range
       cannot contain any planned path is skipped without opening it.
    2. exact refs: survivors' distinct referenced paths (one footer +
       one small-column read, _delete_refs) intersect the planned
       set; no overlap -> skipped.

    Correctness never depends on the scoping — the (path, pos)
    anti-join keys cannot mis-delete — it only stops a
    partition-pruned read from paying for every delete file in the
    table. ``stats_out`` receives delete_files_planned /
    delete_files_total so tests and fs_catalog can surface it.
    Delete files written before the bounds existed (None bounds)
    fall through to stage 2."""
    cands = []
    for e in entries:
        if e.kind != "position":
            continue
        lbs = e.file.get("lower_bounds") or {}
        ubs = e.file.get("upper_bounds") or {}
        cands.append((
            e.path,
            decode_bound("string", lbs.get(_DELETE_PATH_FID)),
            decode_bound("string", ubs.get(_DELETE_PATH_FID)),
        ))
    if data_files is None:
        out = [p for p, _, _ in cands]
    else:
        planned = {_uri_path(q) for q in data_files}
        out = []
        for p, lo, hi in cands:
            if (
                lo is not None
                and hi is not None
                and not any(lo <= q <= hi for q in planned)
            ):
                continue
            if _delete_refs(p) & planned:
                out.append(p)
    if stats_out is not None:
        stats_out["delete_files_planned"] = len(out)
        stats_out["delete_files_total"] = len(cands)
    return out


def _delete_refs(delete_path: str) -> set:
    """Distinct data-file paths a position-delete file references
    (normalized) — drives carry-forward vs drop decisions when a CoW
    commit rewrites data files. One footer+column read of a small
    file; no Spark job."""
    import pyarrow.parquet as pq

    col = pq.read_table(delete_path, columns=["file_path"])["file_path"]
    return {_plain(str(v)) for v in col.unique().to_pylist()}


def _read_deletes(spark, deletes):
    """The union of position-delete rows as (__fp, __pos), broadcast
    when the files are small (the common case: deletes are a sliver
    of the data they mask) so the anti-join needs no shuffle of the
    data side."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*deletes).select(
        F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
    )
    if sum(os.path.getsize(p) for p in deletes) <= _BROADCAST_DELETE_BYTES:
        df = F.broadcast(df)
    return df


def _apply_eq_deletes(spark, df, ice_schema, eq_deletes, file_seqs,
                      how: str = "left_anti"):
    """Apply EQUALITY-delete files (spec v2 content=2) to ``df``,
    which must carry its data-file path in ``__fp``. Each data row
    joins its file's data sequence number from a broadcast
    metadata-scale (path, seq) map; a delete row kills data rows
    whose equality fields match NULL-SAFELY and whose data sequence
    is STRICTLY OLDER than the delete's — the sequencing rule that
    lets a key re-inserted after the delete survive. One left-anti
    join per distinct equality-field set, broadcast when the delete
    files are small (the CDC-batch common case). ``how='left_semi'``
    flips the output to the rows the deletes MASK
    (convert_equality_deletes uses it to materialize those masks as
    position deletes)."""
    from pyspark.sql import functions as F

    id_to_name = {f["id"]: f["name"] for f in ice_schema["fields"]}
    seq_df = F.broadcast(
        spark.createDataFrame(
            [(_uri_path(p), int(s)) for p, s in file_seqs.items()]
            or [("", 0)],
            "__fpn string, __dseq long",
        )
    )
    df = df.withColumn(
        "__fpn", F.regexp_replace(F.col("__fp"), "^file:/+", "/")
    ).join(seq_df, on="__fpn", how="left")
    df = df.withColumn("__dseq", F.coalesce(F.col("__dseq"), F.lit(0)))
    masked = None
    groups: dict = {}
    for path, seq, ids in eq_deletes:
        # group by the ORDERED id tuple: the delete parquet's columns
        # are in the writer's key order, so ids must stay aligned
        groups.setdefault(tuple(ids), []).append((path, seq))
    for ids, items in sorted(groups.items()):
        keys = [id_to_name[i] for i in ids]
        dels = None
        for path, seq in items:
            # resolve the delete file's columns POSITIONALLY by the
            # manifest's equality_ids, NOT by name: the file carries
            # the key columns' names AS OF THE DELETE, and a later
            # RENAME COLUMN must keep masking (field-id semantics,
            # same contract as the data side)
            one = (
                spark.read.parquet(path)
                .toDF(*keys)
                .withColumn("__eseq", F.lit(int(seq)))
            )
            dels = one if dels is None else dels.unionByName(one)
        if (sum(os.path.getsize(p) for p, _ in items)
                <= _BROADCAST_DELETE_BYTES):
            dels = F.broadcast(dels)
        t_, d_ = df.alias("__t"), dels.alias("__eq")
        cond = F.col("__eq.__eseq") > F.col("__t.__dseq")
        for k in keys:
            cond = cond & F.col(f"__t.{k}").eqNullSafe(F.col(f"__eq.{k}"))
        if how == "left_semi":
            hit = t_.join(d_, on=cond, how="left_semi")
            masked = hit if masked is None else masked.unionByName(hit)
        else:
            df = t_.join(d_, on=cond, how="left_anti")
    if how == "left_semi":
        out = masked if masked is not None else df.limit(0)
        return out.drop("__fpn", "__dseq")
    return df.drop("__fpn", "__dseq")


def _read_live(spark, loc, meta, files, entries, keep_meta_cols=False):
    """``files`` read at the current schema with BOTH v2 delete kinds
    of ``entries`` applied — scan-scoped position deletes and
    sequence-scoped equality deletes. The shared read head of the
    row-level writer (_rewrite; with ``keep_meta_cols``, which keeps
    __fp/__pos, for merge-on-read) and of compaction: a row already
    masked must not be rewritten, re-deleted, or matched by a MERGE
    source."""
    return _read_files(
        spark,
        loc,
        files,
        meta,
        deletes=_position_deletes(entries, files),
        eq_deletes=_eq_deletes(entries) or None,
        file_seqs=_file_seqs(entries),
        keep_meta_cols=keep_meta_cols,
    )


def _residual_filters(filters, ice_schema):
    """Filters re-typed for ROW-LEVEL evaluation inside Spark:
    plan_files takes DATE literals as epoch-day ints (the bound and
    partition-tuple encoding), but a Spark residual comparison
    against a DATE column needs a date literal — `d = 19372` is a
    DATATYPE_MISMATCH analysis error, which used to crash every
    SELECT with a date predicate through fs_catalog. Non-date
    filters pass through unchanged."""
    import datetime

    types = {f["name"]: f["type"] for f in ice_schema["fields"]}
    out = []
    for col, op, val in filters:
        if types.get(col) == "date" and isinstance(val, int):
            val = datetime.date(1970, 1, 1) + datetime.timedelta(days=val)
        elif types.get(col) == "timestamp" and isinstance(val, int):
            # plan literals for timestamps are epoch MICROS (the
            # bound encoding); Spark ntz comparison needs a datetime
            val = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                microseconds=val
            )
        elif types.get(col) == "timestamptz" and isinstance(val, int):
            # zoned column: the micros are a UTC instant — a
            # tz-AWARE literal compares as that exact instant
            # regardless of the session zone
            val = datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            ) + datetime.timedelta(microseconds=val)
        out.append((col, op, val))
    return out


def _filters_predicate(ice_schema: dict, filters):
    """The (column, op, value) conjunction as a row-level Spark
    predicate, its literals re-typed by _residual_filters (TRUE when
    there are no filters)."""
    import operator
    from functools import reduce

    from pyspark.sql import functions as F

    ops = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
           ">": operator.gt, ">=": operator.ge}
    preds = [ops[op](F.col(col), val)
             for col, op, val in _residual_filters(filters, ice_schema)]
    return reduce(operator.and_, preds) if preds else F.lit(True)


def _write_position_deletes(spark, loc: str, matched, n_files=None):
    """Write ``matched`` rows' (__fp, __pos) as position-delete
    parquet under <loc>/deletes/, spec-sorted by (file_path, pos) and
    clustered by file (into ``n_files`` files when given). Returns
    (files, n_rows)."""
    from pyspark.sql import functions as F

    out_dir = os.path.join(loc, "deletes", str(uuid.uuid4()))
    rows = matched.select(
        F.col("__fp").alias("file_path"),
        F.col("__pos").cast("long").alias("pos"),
    )
    rows = (
        rows.repartition(n_files, "file_path")
        if n_files
        else rows.repartition("file_path")
    )
    rows.sortWithinPartitions("file_path", "pos").write.parquet(out_dir)
    written = _written_parquet(out_dir)
    return [p for p, _ in written], sum(n for _, n in written)


class _RowPlan(NamedTuple):
    """One row-level statement's rows, whatever the write mode (the
    shape of Spark's RewriteRowLevelCommand). ``rows`` are the
    candidate files' live rows — for a MERGE, joined with the source;
    a row whose ``__fp`` (file path, read by merge-on-read) is set is
    a target row. Per row, ``changed`` says whether the statement
    updates, deletes or inserts it, ``keeps`` whether a changed row
    survives (None: none does, a delete), and ``out`` projects the
    surviving row. ``inserts``: rows can come from outside the
    target (a MERGE upsert's source), so there is something to write
    even without candidate files."""

    rows: object  # DataFrame
    changed: object  # boolean Column
    keeps: object  # boolean Column, or None
    out: list
    inserts: bool = False

    def replacement(self):
        """Every row the statement leaves in place (copy-on-write)."""
        keep = ~self.changed if self.keeps is None else (
            ~self.changed | self.keeps)
        return self.rows.filter(keep).select(*self.out)


def _rewrite(spark, loc: str, meta: dict, filters, plan_fn, mor: bool):
    """The one writer of every row-level DELETE, UPDATE and MERGE:
    walk the head snapshot once, read the live rows of the files
    ``filters`` may match (earlier deletes applied: a masked row is
    never rewritten, re-deleted or matched), build the statement's
    _RowPlan with ``plan_fn`` and write it in one of two shapes.

    - copy-on-write (Spark's ReplaceData): the candidates' replacement
      is written and an 'overwrite' snapshot swaps it in; untouched
      files are carried as EXISTING.
    - merge-on-read (WriteDelta): the target rows the statement
      changes become position deletes and the surviving changed rows
      are appended, in one 'delete' (nothing survives) or 'overwrite'
      snapshot. No data file is rewritten, so the write is O(changed
      rows), not O(candidate file bytes); reads apply the deletes
      until compaction materializes them. Changed rows that feed
      both writes are persisted once and always released."""
    from pyspark.sql import functions as F

    entries = _live_entries(loc, meta)
    candidates, untouched = _split(meta, entries, filters)
    plan = plan_fn(_read_live(spark, loc, meta, candidates, entries, mor))
    new_files: list[str] = []
    if not mor:
        if candidates or plan.inserts:
            new_files = _write_replacement(
                spark, loc, plan.replacement(), meta)
        return _commit_overwrite(
            loc, meta, entries, candidates, untouched, new_files)
    changed = plan.rows.filter(plan.changed)
    if plan.keeps is not None:  # read twice: deletes, then appends
        changed = changed.persist()
    del_files, n_rows = [], 0
    try:
        if candidates:
            del_files, n_rows = _write_position_deletes(
                spark, loc, changed.filter(F.col("__fp").isNotNull()))
        if plan.keeps is not None and (n_rows or plan.inserts):
            new_files = _write_replacement(spark, loc, changed.filter(
                plan.keeps).select(*plan.out), meta)
    finally:
        changed.unpersist()
    return _commit_mor(loc, meta, del_files, n_rows, new_files,
                       "delete" if plan.keeps is None else "overwrite")


def _rewrite_where(spark, loc: str, meta: dict, predicate, assignments=None,
                   prune_filters=(), mor: bool = False) -> dict:
    """DELETE (no ``assignments``) or UPDATE of the live rows
    ``predicate`` (any Spark boolean Column) holds for — the path of
    every WHERE writer and of fs_catalog's UPDATE and DELETE. A NULL
    predicate changes nothing: only proven matches. ``assignments``
    = {column: Spark Column or literal}; copy-on-write refuses
    partition-source columns (it rewrites files in place), while
    merge-on-read appends the updated row, which re-routes it.
    ``prune_filters``, a conservative (col, op, literal) conjunction
    extracted from the predicate, bound the candidate files.
    Copy-on-write runs through cow_rewrite_where, the public CoW
    entry, which perfbench's traced run wraps to count commits and
    rewritten files."""
    from pyspark.sql import functions as F

    cols = [f["name"] for f in meta["schema"]["fields"]]
    new = {c: F.lit(v) for c, v in (assignments or {}).items()}
    bad = set(new) - set(cols)
    if bad:
        raise ValueError(f"SET target is not a column: {sorted(bad)}")
    bad = partition_source_cols(meta).intersection(new)
    if bad and not mor:
        raise ValueError(f"cannot update partition columns {sorted(bad)}")

    def rows(live, pred):
        hit = F.coalesce(pred, F.lit(False))
        out = [F.when(hit, new[c]).otherwise(F.col(c)).alias(c)
               if c in new else c for c in cols]
        return _RowPlan(
            live, hit, None if assignments is None else F.lit(True), out)

    if mor:
        return _rewrite(spark, loc, meta, prune_filters,
                        lambda live: rows(live, predicate), mor=True)
    return cow_rewrite_where(
        spark, loc, predicate,
        lambda live, pred: rows(live, pred).replacement(), prune_filters)


def cow_rewrite_where(
    spark, loc: str, predicate, rewrite_fn, prune_filters=()
) -> dict:
    """Generalized copy-on-write rewrite: ``rewrite_fn(src_df,
    predicate)`` returns the replacement rows of the candidate files
    — the files ``prune_filters`` (a conservative (col, op, literal)
    conjunction) may match; provably-unaffected files survive
    untouched. Correctness never depends on the pruning, only the
    rewrite bound does. Commits an 'overwrite' snapshot."""
    from pyspark.sql import functions as F

    meta = read_table_meta(loc)
    cols = [f["name"] for f in meta["schema"]["fields"]]
    # a plan that changes no row: the rewrite's rows pass through
    return _rewrite(spark, loc, meta, prune_filters, lambda live: _RowPlan(
        rewrite_fn(live, predicate), F.lit(False), None, cols), mor=False)


def delete_where(spark, loc: str, filters, mode: str = "cow") -> dict:
    """Row-level DELETE of the rows matching the (column, op, value)
    ``filters`` conjunction, two spec-backed strategies:

    ``mode="cow"`` (v1 overwrite pattern, default): files whose
    partition/bounds CAN contain matching rows are rewritten without
    them; provably-unaffected files survive untouched — the same
    manifest pruning that accelerates reads bounds the rewrite set.

    ``mode="mor"`` (v2 merge-on-read): NO data file is rewritten —
    matching rows' (file, position) pairs are written to position-
    delete files applied at read time. O(matches) write cost instead
    of O(candidate files); the trade the spec makes for
    delete-heavy / rewrite-expensive tables."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown delete mode {mode!r}")
    meta = read_table_meta(loc)
    pred = _filters_predicate(meta["schema"], filters)
    return _rewrite_where(spark, loc, meta, pred, None, filters, mode == "mor")


def mor_delete_where(spark, loc: str, predicate, prune_filters=()) -> dict:
    """Merge-on-read DELETE of the rows ``predicate`` (any Spark
    boolean Column) holds for: their positions become position-delete
    parquet under ``<loc>/deletes/`` in a 'delete' snapshot that
    carries the previous manifests verbatim. Data files are untouched,
    and rows already masked are excluded, so re-deleting is
    idempotent. Deleting one row from a 1 GB file costs ~40 bytes of
    delete file instead of a 1 GB rewrite. Reference contrast: the
    reference's only row-level path is DuckDB over a full table
    download (IcebergConnection.py:107-177)."""
    return _rewrite_where(spark, loc, read_table_meta(loc), predicate,
                          None, prune_filters, mor=True)


def update_where(spark, loc: str, filters, assignments) -> dict:
    """Copy-on-write UPDATE: rewrite candidate files with
    ``assignments`` ({column: Spark Column or literal}) applied to
    rows matching the (column, op, value) ``filters`` conjunction,
    all other rows unchanged. Same pruning-bounded rewrite and
    overwrite snapshot as delete_where. Updating partition-source
    columns is rejected (rows would need re-routing)."""
    meta = read_table_meta(loc)
    pred = _filters_predicate(meta["schema"], filters)
    return _rewrite_where(spark, loc, meta, pred, assignments, filters)


def mor_update_where(
    spark, loc: str, predicate, assignments, prune_filters=()
) -> dict:
    """Merge-on-read UPDATE (the v2 ``write.update.mode=
    merge-on-read`` path): matched rows are position-DELETED and their
    updated versions APPENDED in ONE 'overwrite' snapshot — no
    candidate file is rewritten. The appended rows are routed by
    _write_replacement's partition materialization, so MoR UPDATE
    may change PARTITION-SOURCE columns, which the CoW path rejects.
    ``assignments`` = {column: Spark Column or literal}."""
    return _rewrite_where(spark, loc, read_table_meta(loc), predicate,
                          assignments, prune_filters, mor=True)


def _sql_name(name: str) -> str:
    """A column name quoted for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def strict_cast_sql(pairs) -> tuple[list, str]:
    """SQL text for an ANSI cast of ``(source_col, out_name,
    spark_type)`` pairs: the try_cast projection (for selectExpr), and
    the predicate true on a row where some NON-NULL input casts to
    NULL — the value an ANSI cast would refuse. Spark/Iceberg INSERT
    and MERGE enforce that refusal; a plain cast() would commit the
    NULL as silent corruption. SQL text costs one py4j call per use,
    where Column arithmetic costs several per column."""
    exprs, bad = [], []
    for src, name, typ in pairs:
        cast = f"try_cast({_sql_name(src)} AS {typ})"
        exprs.append(f"{cast} AS {_sql_name(name)}")
        bad.append(f"({_sql_name(src)} IS NOT NULL AND {cast} IS NULL)")
    return exprs, " OR ".join(bad) or "false"


def check_strict_cast(df, bad: str, what: str = "DML source value") -> None:
    """Raise on the first row of ``df`` where the strict_cast_sql
    predicate ``bad`` holds: one limit-1 job."""
    offenders = df.filter(bad).limit(1).collect()
    if offenders:
        raise ValueError(
            f"{what} cannot be cast to the table schema "
            f"(ANSI cast would fail): {offenders[0].asDict()!r}"
        )


def mor_delete_keys(spark, loc: str, key_cols, keys_df,
                    n_files: int = 1) -> dict:
    """EQUALITY-delete DML (spec v2 content=2) — the delete kind
    streaming CDC writers (Flink upsert sinks) produce: every table
    row whose ``key_cols`` values match a row of ``keys_df`` is
    deleted WITHOUT reading, joining, or positioning against any data
    file. The commit writes the distinct keys as parquet under
    deletes/ and lists them in a content=1 manifest entry with
    content=2 + the keys' schema field-ids; readers apply them as a
    null-safe anti-join scoped by SEQUENCE NUMBER — the delete kills
    only data files STRICTLY OLDER than it, so a key re-inserted
    after the delete survives (the property the full spec keeps
    sequence numbers for, and why this writer stamps real ones while
    position deletes can stay path-scoped).

    At 100 TB: O(keys) write cost with ZERO table reads — cheaper
    even than a position-delete commit (which must scan candidates to
    find positions); the read side pays one broadcast anti-join per
    key-set until compaction materializes. The computational shape is
    the engine's s_cdc_upsert_apply twin (streaming/events.py),
    re-expressed as a table-format commit."""
    meta = read_table_meta(loc)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    key_cols = list(key_cols)
    bad = [c for c in key_cols if c not in by_name]
    if bad:
        raise ValueError(f"equality-delete keys not in schema: {bad}")
    missing = [c for c in key_cols if c not in keys_df.columns]
    if missing:
        raise ValueError(f"keys_df lacks key columns: {missing}")
    # cast LOUDLY. A plain cast() would turn an un-castable key value
    # into NULL, and the null-safe anti-join would then delete every
    # table row whose key IS NULL — silent data loss from a typo'd
    # keys_df.
    exprs, bad = strict_cast_sql(
        [(c, c, ice_to_spark_type(by_name[c]["type"])) for c in key_cols]
    )
    check_strict_cast(keys_df, bad, "equality-delete key value")
    out_dir = os.path.join(loc, "deletes", str(uuid.uuid4()))
    (
        keys_df.selectExpr(*exprs)
        .distinct()
        .coalesce(max(1, int(n_files)))
        .write.parquet(out_dir)
    )
    ids = [by_name[c]["id"] for c in key_cols]
    specs, n_rows = [], 0
    for p, n in _written_parquet(out_dir):
        # key-column bounds + null counts from the delete file's own
        # footer: readers skip this file entirely when its key ranges
        # are provably disjoint from every planned data file's (the
        # eq-delete analog of position-delete path bounds; null counts
        # gate the skip — a NULL delete key matches NULL targets
        # regardless of any value range)
        stats = _file_stats(p, meta["schema"], set(key_cols))
        specs.append(
            {"path": p, "seq": None, "content": 2,
             "equality_ids": ids,
             "lower_bounds": stats["lower_bounds"],
             "upper_bounds": stats["upper_bounds"],
             "null_value_counts": stats["null_value_counts"]}
        )
        n_rows += n
    return _commit_mor(
        loc,
        meta,
        specs,
        0,
        [],
        "delete",
        extra_summary={"added-equality-deletes": str(n_rows)},
    )


def _file_entry(status, snapshot_id, seq, path, partition, stats,
                content=0, equality_ids=None) -> dict:
    """One manifest entry for a data or delete file. ``seq`` None
    means "inherit the manifest's sequence number" (ADDED files);
    ``stats`` holds record_count, file_size_in_bytes and the optional
    null_value_counts / lower_bounds / upper_bounds maps."""
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": stats["record_count"],
            "file_size_in_bytes": stats["file_size_in_bytes"],
            "block_size_in_bytes": 64 * 1024 * 1024,
            "value_counts": None,
            "null_value_counts": stats.get("null_value_counts"),
            "lower_bounds": stats.get("lower_bounds"),
            "upper_bounds": stats.get("upper_bounds"),
            "equality_ids": equality_ids,
        },
    }


def _write_manifest(loc: str, meta: dict, entries, snapshot_id, seq,
                    content: int = 0, added=None) -> dict:
    """Write ``entries`` as a manifest (content 0 = data, 1 = deletes)
    under the table's current partition spec and return its
    manifest-list entry. ``added`` is the added-files count (default:
    every entry)."""
    blob = write_container(
        _manifest_schema(meta["partition-spec"], meta["schema"]), entries
    )
    mpath = os.path.join(
        _meta_dir(loc), f"{uuid.uuid4()}-{'d' if content else 'm'}0.avro"
    )
    with open(mpath, "wb") as fh:
        fh.write(blob)
    return {
        "manifest_path": mpath,
        "manifest_length": len(blob),
        "partition_spec_id": int(meta.get("default-spec-id", 0)),
        "content": content,
        "sequence_number": seq or 0,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(entries) if added is None else added,
    }


def _delete_manifest(loc: str, meta: dict, delete_specs, snapshot_id,
                     seq=None):
    """Write a content=1 manifest of delete files and return its
    manifest-list entry (None when there are no files). Shared by the
    MoR commit (new deletes) and the CoW overwrite commit (carrying
    forward deletes that still apply to surviving data files).

    ``delete_specs``: iterable of either a path string (new
    POSITION-delete file; sequence inherited from ``seq``) or a dict
    ``{"path", "seq", "content", "equality_ids"}`` — the carried /
    equality form, where per-entry sequence numbers must survive
    verbatim (equality-delete scoping depends on them)."""
    entries = []
    for spec in delete_specs:
        if isinstance(spec, str):
            spec = {"path": spec, "seq": None, "content": 1,
                    "equality_ids": None}
        p = spec["path"]
        lower = upper = None
        if spec["content"] == 1:
            # exact min/max NORMALIZED referenced data-file path —
            # readers scope position-delete files to a scan on these
            # bounds without opening them (_position_deletes stage 1)
            refs = sorted(_delete_refs(p))
            if refs:
                lower = {_DELETE_PATH_FID: encode_bound("string", refs[0])}
                upper = {_DELETE_PATH_FID: encode_bound("string", refs[-1])}
        else:
            # equality deletes carry their KEY-column bounds (when the
            # writer recorded them) for read-time range scoping
            lower = spec.get("lower_bounds")
            upper = spec.get("upper_bounds")
        stats = {
            "record_count": _num_rows(p),
            "file_size_in_bytes": os.path.getsize(p),
            "null_value_counts": spec.get("null_value_counts"),
            "lower_bounds": lower,
            "upper_bounds": upper,
        }
        entries.append(_file_entry(
            1, snapshot_id, spec["seq"], p,
            {e["name"]: None for e in meta["partition-spec"]}, stats,
            content=spec["content"], equality_ids=spec["equality_ids"],
        ))
    if not entries:
        return None
    return _write_manifest(loc, meta, entries, snapshot_id, seq, content=1)


def _data_entry(meta: dict, path: str, status: int, snapshot_id, seq,
                stat_cols=None, missing_ok=False) -> dict:
    """Manifest entry of a data file: hive-dir partition values under
    the current spec and parquet-footer stats for ``stat_cols``
    (default every column)."""
    ice_schema = meta["schema"]
    if stat_cols is None:
        stat_cols = [f["name"] for f in ice_schema["fields"]]
    part = _partition_from_path(
        path, meta["partition-spec"], ice_schema, missing_ok=missing_ok
    )
    stats = _file_stats(path, ice_schema, set(stat_cols))
    return _file_entry(status, snapshot_id, seq, path, part, stats)


def _data_manifest(loc: str, meta: dict, files, snapshot_id,
                   stat_cols=None, seq=None):
    """Write a content=0 manifest of ADDED data files and return its
    manifest-list entry, or None when ``files`` is empty. Shared by
    append and the MoR commits. ``seq`` stamps the manifest-list
    entry's sequence number; per-entry numbers stay null (=
    inherit)."""
    if not files:
        return None
    entries = [
        _data_entry(meta, p, 1, snapshot_id, None, stat_cols)
        for p in files
    ]
    return _write_manifest(loc, meta, entries, snapshot_id, seq)


def _commit_mor(
    loc: str, meta: dict, new_delete_files, n_rows, new_data_files,
    operation: str, carry_delete_manifests: bool = True,
    requeue_equality_deletes: bool = True,
    extra_summary: dict | None = None,
) -> dict:
    """Commit a merge-on-read snapshot: previous manifests carried
    verbatim (no data file rewritten), plus a content=1 manifest for
    the new position-delete files and — for MoR UPDATE — a content=0
    manifest for the appended updated rows. Marks the table
    format-version 2, the spec version that introduces delete
    files. ``carry_delete_manifests=False`` drops the previous
    content=1 manifests instead (rewrite_position_deletes: the new
    delete files REPLACE the old POSITION-delete set; live EQUALITY
    deletes are re-listed in the fresh manifest with their original
    sequence numbers; data manifests still carry verbatim).
    ``new_delete_files`` entries are path strings (new position
    deletes at this commit's sequence) or the dict spec form
    (_delete_manifest) for equality deletes."""
    snapshot_id, seq = _new_snapshot(meta)
    head = meta["current-snapshot-id"]
    prev = _snapshot_manifests(loc, meta) if head != -1 else []
    delete_specs = list(new_delete_files)
    if not carry_delete_manifests and requeue_equality_deletes:
        delete_specs += [
            _carry(e) for e in _live_entries(loc, meta, kind="equality")
        ]
    manifests = [
        m
        for m in prev
        if carry_delete_manifests or m.get("content", 0) != 1
    ]
    for m in (
        _data_manifest(loc, meta, new_data_files, snapshot_id, seq=seq),
        _delete_manifest(loc, meta, delete_specs, snapshot_id, seq=seq),
    ):
        if m is not None:
            manifests.append(m)
    summary = {
        "operation": operation,
        "added-delete-files": str(len(new_delete_files)),
        "added-position-deletes": str(n_rows),
        "deleted-data-files": "0",
        "added-data-files": str(len(new_data_files)),
        **(extra_summary or {}),
    }
    meta["format-version"] = 2
    return _commit_snapshot(
        loc, meta, snapshot_id, seq, manifests, summary, parent_id=head
    )


_ICE_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp_ntz",
    # timestamptz = UTC-instant micros; Spark's zoned timestamp.
    # decimal(P,S) and array<...> resolve via ice_to_spark_type.
    "timestamptz": "timestamp",
    "binary": "binary",
}


def _schema_at(schema_log, current_schema, seq: int) -> dict:
    """The schema a data file with sequence number ``seq`` was
    written under: schema-log entries record, in chronological order,
    the schema VALID BEFORE each rename/drop together with the
    last-sequence-number at the change — the first entry whose
    boundary is >= seq governs; files newer than every boundary read
    at the current schema."""
    for entry in schema_log:
        if seq <= entry["up-to-seq"]:
            return entry["schema"]
    return current_schema


def _read_files(spark, loc: str, files, meta, deletes=None,
                eq_deletes=None, file_seqs=None, keep_meta_cols=False):
    """Read a set of the table's data files at the CURRENT schema
    with FIELD-ID resolution — the property that distinguishes
    Iceberg schema evolution from parquet-mergeSchema:

    - a column added after a file was written reads as typed nulls;
    - a column RENAMED after a file was written resolves by field id
      through the schema generation the file was written under
      (meta['schema-log'], grouped by the file's sequence number), so
      pre-rename files still populate the new name;
    - a column DROPPED and later re-ADDED under the same name gets a
      NEW field id, so the old files' stale values do NOT resurrect —
      name-based mergeSchema alone would leak them.

    Tables that never renamed/dropped (no schema-log) take the
    single-scan fast path. ``file_seqs`` (data-file path -> data
    sequence number) is required when the table has a schema-log or
    ``eq_deletes`` are given. ``deletes`` = position-delete files to
    anti-join away (merge-on-read); ``eq_deletes`` = equality-delete
    files applied null-safely with sequence-number scoping.
    ``keep_meta_cols`` keeps __fp/__pos in the output (the MoR
    writers' shared read head)."""
    from functools import reduce

    ice_schema = meta["schema"]
    cols = [f["name"] for f in ice_schema["fields"]]
    if not files:
        # a typed empty relation; limit(0) lets the optimizer fold it
        # into an empty LocalRelation, so a join with it runs no job
        return spark.createDataFrame([], ", ".join(
            [f"`{f['name']}` {ice_to_spark_type(f['type'])}"
             for f in ice_schema["fields"]]
            + (["__fp string", "__pos bigint"] if keep_meta_cols else [])
        )).limit(0)
    schema_log = meta.get("schema-log") or []
    need_meta = bool(deletes or eq_deletes or keep_meta_cols)

    cur_by_id = {f["id"]: f["type"] for f in ice_schema["fields"]}

    def _scan(paths, gen_schema):
        # EXPLICIT read schema, per generation: each field reads
        # under its generation's NAME but the CURRENT type (by field
        # id) — Spark 4's parquet type widening upcasts files written
        # before an int->long / float->double / decimal-precision
        # promotion in the scan itself, which mergeSchema refuses to
        # merge. This also kills the mergeSchema footer sweep: at
        # 100 TB, schema inference over every file's footer is a real
        # planning cost; the manifest already knows the schema.
        # Columns a file lacks (added after its write) read as NULL;
        # hive partition-dir columns in the schema resolve from the
        # path, extra dir fields (hidden transforms) are appended by
        # Spark and dropped by the select below.
        read_ddl = ", ".join(
            f"`{g['name']}` "
            + ice_to_spark_type(cur_by_id.get(g["id"], g["type"]))
            for g in gen_schema["fields"]
        )
        df = (
            spark.read.option("basePath", os.path.join(loc, "data"))
            .schema(read_ddl)
            .parquet(*paths)
        )
        gen_by_id = {f["id"]: f for f in gen_schema["fields"]}
        # ONE selectExpr call instead of per-column Column objects:
        # every F.col / .cast / .alias is a py4j round-trip, ~6 per
        # column per generation — 0.2-0.5 s of pure planning latency
        # per iceberg query. The SQL-text casts parse to the identical
        # expressions in one round-trip. The metadata pseudo-columns
        # are materialized by the same projection (they must be bound
        # before any join hides the scan).
        df_cols = set(df.columns)
        sel = []
        for f in ice_schema["fields"]:
            g = gen_by_id.get(f["id"])
            typ = ice_to_spark_type(f["type"])
            if g is not None and g["name"] in df_cols:
                sel.append(f"CAST(`{g['name']}` AS {typ}) AS `{f['name']}`")
            else:
                sel.append(f"CAST(NULL AS {typ}) AS `{f['name']}`")
        if need_meta:
            sel += [
                "_metadata.file_path AS __fp",
                "_metadata.row_index AS __pos",
            ]
        return df.selectExpr(*sel)

    data_root = os.path.join(loc, "data")

    def _dir_sig(path: str):
        # hive partition-dir signature: the field= keys on the path.
        # Files written under DIFFERENT partition specs (spec
        # evolution) have different signatures and cannot share one
        # basePath scan — Spark's partition inference would either
        # conflict with a physical column of the same name or reject
        # the mixed layout outright.
        rel = os.path.relpath(path, data_root)
        return tuple(
            seg.split("=", 1)[0]
            for seg in rel.split(os.sep)
            if "=" in seg
        )

    groups: dict = {}
    for p in files:
        gsch = (
            _schema_at(schema_log, ice_schema, file_seqs.get(p, 0))
            if schema_log
            else ice_schema
        )
        key = (id(gsch), _dir_sig(p))
        groups.setdefault(key, (gsch, []))[1].append(p)
    df = reduce(
        lambda a, b: a.unionByName(b),
        [_scan(paths, gsch) for gsch, paths in groups.values()],
    )
    if deletes:
        df = df.join(
            _read_deletes(spark, deletes),
            on=["__fp", "__pos"],
            how="left_anti",
        )
    if eq_deletes:
        df = _apply_eq_deletes(
            spark, df, ice_schema, eq_deletes, file_seqs or {}
        )
    out = cols + (["__fp", "__pos"] if keep_meta_cols else [])
    return df.select(*out)


def _write_replacement(spark, loc: str, replacement, meta):
    """Write the replacement rows as new parquet under data/ and
    return the new file paths. Materializes transform (bucket)
    partition columns first; they live only in the directory layout,
    never in the row data the readers see."""
    data_dir = os.path.join(loc, "data")
    before = _list_parquet(data_dir)
    replacement, dir_cols = _with_partition_cols(replacement, meta)
    writer = replacement.write.mode("append")
    if dir_cols:
        writer = writer.partitionBy(*dir_cols)
    # Spark's default for zoned timestamps is INT96 — a deprecated
    # physical type parquet keeps NO column statistics for, which
    # would silently void every timestamptz bound. Pin micros for
    # the write (and restore the session's setting after).
    sess = replacement.sparkSession
    key = "spark.sql.parquet.outputTimestampType"
    prev = sess.conf.get(key, None)
    sess.conf.set(key, "TIMESTAMP_MICROS")
    try:
        writer.parquet(data_dir)
    finally:
        if prev is None:
            sess.conf.unset(key)
        else:
            sess.conf.set(key, prev)
    return sorted(set(_list_parquet(data_dir)) - set(before))


def _commit_overwrite(
    loc: str, meta: dict, entries, candidates, untouched, new_files,
    operation: str = "overwrite",
) -> dict:
    """Commit a copy-on-write snapshot: ``candidates`` recorded
    DELETED, ``new_files`` ADDED, ``untouched`` carried as EXISTING —
    one compacted manifest (spec-legal), new manifest list, new
    metadata version. ``entries`` is the statement's walk of the head
    ``meta`` commits against. Shared by the row-level writer's
    copy-on-write shape (_rewrite: DELETE, UPDATE, MERGE), compaction
    (compact_files) and overwrite_table.

    Merge-on-read interplay: live position-delete files that still
    reference a SURVIVING (untouched) data file are carried forward
    in a content=1 manifest — their masked rows must stay masked.
    Delete files whose every referenced data file was rewritten are
    dropped (the rewrite read through them, so their effect is now
    physical); that is how compaction retires MoR overhead. The same
    rule by SEQUENCE for equality deletes: an equality-delete file is
    carried while any surviving data file is strictly older than it;
    rewritten files re-enter at the new commit's sequence, so carried
    equality deletes no longer apply to them (the rewrite read
    through the masks). EXISTING data files keep their ORIGINAL
    sequence numbers per-entry — bumping them would un-delete
    equality-masked rows."""
    snapshot_id, seq = _new_snapshot(meta)
    file_seqs = _file_seqs(entries)
    keep_deletes: list = []
    if untouched:
        untouched_uri = {_uri_path(p) for p in untouched}
        oldest_surviving = min(file_seqs.get(p, 0) for p in untouched)
        keep_deletes = [
            _carry(e)
            for e in entries
            if e.kind == "position" and _delete_refs(e.path) & untouched_uri
        ] + [
            _carry(e)
            for e in entries
            if e.kind == "equality" and e.seq > oldest_surviving
        ]
    data_entries = [
        # untouched/deleted files may predate the current partition
        # spec (spec evolution): fields absent from their paths record
        # None — never pruned, still planned. ADDED files inherit this
        # commit's sequence (null); EXISTING/DELETED keep their own.
        _data_entry(
            meta, p, status, snapshot_id,
            None if status == 1 else file_seqs.get(p, 0),
            missing_ok=status != 1,
        )
        for status, paths in ((0, untouched), (1, new_files), (2, candidates))
        for p in paths
    ]
    manifests = [
        _write_manifest(
            loc, meta, data_entries, snapshot_id, seq, added=len(new_files)
        )
    ]
    dm = _delete_manifest(loc, meta, keep_deletes, snapshot_id, seq=seq)
    if dm is not None:
        manifests.append(dm)
    summary = {
        "operation": operation,
        "deleted-data-files": str(len(candidates)),
        "added-data-files": str(len(new_files)),
    }
    return _commit_snapshot(
        loc, meta, snapshot_id, seq, manifests, summary,
        parent_id=meta["current-snapshot-id"],
    )


def read_iceberg(spark, loc: str, snapshot_id=None, filters=(), stats_out=None):
    """Iceberg scan -> Spark DataFrame: manifest-pruned file list
    into spark.read.parquet, residual filter re-applied inside Spark
    (it reaches the parquet scan as PushedFilters, so row-group
    pruning still applies on the surviving files). ``stats_out``
    (optional dict) receives {files_planned, files_total} so callers
    (fs_catalog SELECT views) can surface/assert the pruning."""
    meta = read_table_meta(loc)
    entries = _live_entries(loc, meta, snapshot_id)
    files = _prune(meta, entries, filters)
    if stats_out is not None:
        stats_out["files_planned"] = len(files)
        stats_out["files_total"] = sum(e.kind == "data" for e in entries)
    if not files:
        return _read_files(spark, loc, files, meta)
    # sequence numbers AT THE REQUESTED SNAPSHOT: a time-travel read
    # of files since compacted away must resolve its schema
    # generation and equality deletes from that snapshot's plan
    file_seqs = _file_seqs(entries)
    eq = _eq_deletes(entries)
    if eq:
        # an equality delete older than every planned file masks
        # nothing in this scan — skip reading it
        min_seq = min((file_seqs.get(p, 0) for p in files), default=0)
        kept = [e for e in eq if e[1] > min_seq]
        # and one whose KEY ranges provably miss every planned file's
        # bounds masks nothing either (null-count-gated; every guard
        # degrades to keep)
        kept = _scope_eq_deletes_by_bounds(meta, entries, kept, files)
        if stats_out is not None:
            stats_out["eq_delete_files_planned"] = len(kept)
            stats_out["eq_delete_files_total"] = len(eq)
        eq = kept
    df = _read_files(
        spark, loc, files, meta,
        deletes=_position_deletes(entries, files, stats_out),
        eq_deletes=eq or None,
        file_seqs=file_seqs,
    )
    if filters:
        df = df.filter(_filters_predicate(meta["schema"], filters))
    return df


# ---- MERGE INTO (upsert), schema evolution, maintenance ----


def merge_into(spark, loc: str, source_df, on_cols, update_cols=None,
               not_matched_by_source=None) -> dict:
    """MERGE INTO (upsert) as a copy-on-write overwrite snapshot:
    WHEN MATCHED on ``on_cols`` the target row's ``update_cols`` are
    replaced by the source's values; WHEN NOT MATCHED the source row
    is inserted (INSERT *, so ``source_df`` must carry every table
    column; _merge_source casts it to the table's types). Default
    ``update_cols`` = every non-key, non-partition column; partition
    columns cannot be updated (identity routing only, as in
    update_where). The plan is _merge's one full outer join.

    Scale shape: the rewrite set is BOUNDED BY MANIFEST PRUNING on
    the source's key range, so merging a day's increment into a
    100 TB table rewrites only the files whose key bounds overlap the
    increment. Reference parity: the reference routes MERGE-shaped
    DML to DuckDB over its full table download
    (IcebergConnection.py:107-177); here it is a real Iceberg
    overwrite commit.

    ``not_matched_by_source``: the full CDC mirror (Spark 3.4+ /
    Iceberg `WHEN NOT MATCHED BY SOURCE`) — target-only rows are
    either dropped (``"delete"``) or get a dict of {column: Column}
    assignments applied. This clause inspects EVERY live row, so the
    rewrite set becomes all live files — bounds pruning cannot apply
    (a vanished key can hide in any file); that cost is inherent to
    the semantics, the same in real engines."""
    return _merge(spark, loc, source_df, on_cols, update_cols,
                  not_matched_by_source)


def mor_merge_into(spark, loc: str, source_df, on_cols, update_cols=None,
                   not_matched_by_source=None) -> dict:
    """Merge-on-read MERGE (upsert): the same full outer join as
    merge_into, written as a delta — matched target rows are
    position-DELETED and their merged versions APPENDED together with
    the not-matched source rows, in one 'overwrite' snapshot with zero
    data files rewritten. Same contracts and checks as merge_into,
    except that the ON keys cannot be updated while partition
    sources may be (passed explicitly): merged rows are appended and
    re-routed. Merging a day's increment costs position deletes and
    appends proportional to the INCREMENT, not to the candidate
    files' bytes. ``not_matched_by_source`` ('delete' or {column:
    Column}): a vanished target row becomes a POSITION DELETE (and
    for the update form is re-appended with the assignments applied);
    every live file is a candidate, but the write still scales with
    the matched + vanished rows, not the table."""
    return _merge(spark, loc, source_df, on_cols, update_cols,
                  not_matched_by_source, mor=True)


def merge_delete(spark, loc: str, source_df, on_cols) -> dict:
    """MERGE ... WHEN MATCHED THEN DELETE (copy-on-write): target
    rows whose ``on_cols`` equal a source row's are removed; nothing
    is inserted. SQL equality semantics (a NULL key never matches —
    unlike the spec's null-safe EQUALITY-delete files). The keys are
    cast to the table's types and the rewrite set is bounds-pruned on
    their range by the same one-action _merge_source as merge_into;
    the plan is _merge's join with the distinct keys, target rows
    with a match dropped."""
    return _merge(spark, loc, source_df, on_cols, upsert=False)


def mor_merge_delete(spark, loc: str, source_df, on_cols) -> dict:
    """MERGE ... WHEN MATCHED THEN DELETE, merge-on-read: the matched
    rows of merge_delete's plan become POSITION deletes — zero data
    files rewritten, cost proportional to the matches."""
    return _merge(spark, loc, source_df, on_cols, mor=True, upsert=False)


def _merge(spark, loc: str, source_df, on_cols, update_cols=None,
           nmbs=None, mor: bool = False, upsert: bool = True) -> dict:
    """The one MERGE plan, in either write mode (_rewrite): a full
    outer join of the candidates' live rows with the source, the plan
    Spark's RewriteMergeIntoTable builds for a MERGE with a NOT
    MATCHED clause. A row on both sides is matched and takes the
    source's ``update_cols``; a source-only row is an insert; a
    target-only row passes through, or takes the NOT MATCHED BY SOURCE
    action ``nmbs``. Any target row matching a source key lives in a
    candidate file (bounds pruning is conservative), so a source-only
    row is exactly a not-matched one. SQL equality: a NULL key
    matches nothing, so a NULL-keyed source row is inserted and a
    NULL-keyed target row is never matched. A WHEN MATCHED THEN
    DELETE (``upsert=False``) left-joins the distinct source keys
    instead and deletes the matched rows."""
    from pyspark.sql import functions as F

    meta = read_table_meta(loc)
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    on_cols = list(on_cols)
    source, update_cols, filters = _merge_source(
        meta, source_df, on_cols, update_cols, nmbs, mor=mor, upsert=upsert)
    rest = [c for c in source.columns if c not in on_cols]
    if not upsert:
        source = source.distinct()

    def rows(live):
        # the target keeps its column names (NOT MATCHED BY SOURCE
        # assignments read them); the source's are renamed apart, and
        # each side carries a marker that is NULL where it is absent
        joined = live.withColumn("__t", F.lit(True)).join(source.select(
            *on_cols, *[F.col(c).alias(f"__s_{c}") for c in rest],
            F.lit(True).alias("__s"),
        ), on=on_cols, how="full" if upsert else "left")
        in_src, in_tgt = F.col("__s").isNotNull(), F.col("__t").isNotNull()
        if not upsert:
            return _RowPlan(joined, in_src, None, list(types))

        def value(c):
            # an update column takes the source's value on a matched or
            # inserted row, any other the target's on a matched or
            # passed-through row
            t, s = F.col(c), F.col(f"__s_{c}")
            v = (F.when(in_src, s).otherwise(t) if c in update_cols
                 else F.when(in_tgt, t).otherwise(s))
            if isinstance(nmbs, dict) and c in nmbs:
                v = F.when(in_src, v).otherwise(
                    nmbs[c].cast(ice_to_spark_type(types[c])))
            return v.alias(c)

        # the USING join coalesces the keys. Without NOT MATCHED BY
        # SOURCE a target-only row is untouched; with it every row
        # changes, and "delete" drops the target-only ones
        return _RowPlan(
            joined, in_src if nmbs is None else F.lit(True),
            in_src if nmbs == "delete" else F.lit(True),
            [F.col(c) if c in on_cols else value(c) for c in types],
            inserts=True,
        )

    return _rewrite(spark, loc, meta, filters, rows, mor)


# the key types whose min/max bounds-prune a MERGE's candidate files
_PRUNE_KEY_TYPES = ("int", "long", "float", "double", "string", "date")


def _merge_source(meta, source_df, on_cols, update_cols=None, nmbs=None,
                  mor=False, upsert=True):
    """The checks every MERGE makes before touching the table;
    returns (source, update_cols, filters). Every check that reads
    the source shares ONE Spark action.

    An upsert's source must carry every table column; a WHEN MATCHED
    THEN DELETE source (``upsert=False``) only the ON keys. The
    returned source is those columns cast by name to the table's
    types. Default ``update_cols`` = every non-key, non-partition
    column; copy-on-write refuses partition columns (rows would need
    re-routing), merge-on-read refuses the ON keys.

    The action is one aggregate (group by the ON keys, then a global
    reduce) over one SQL projection of the source, and it answers:
    - whether a non-NULL value fails its cast (strict_cast_sql; the
      offending row is fetched only then);
    - whether an ON key repeats. Each target row may match at most
      one source row: duplicate keys would silently multiply matched
      rows, so an upsert raises (a delete may repeat keys);
    - the first key's min and max, the bounds-prune ``filters`` for
      the candidate files. DATE keys convert to epoch days, the
      encoding plan_files stores date bounds in. A NOT MATCHED BY
      SOURCE clause makes every live file a candidate, so it gets
      none."""
    from pyspark.sql import functions as F

    part_sources = partition_source_cols(meta)
    ice_types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    cols = list(ice_types) if upsert else list(on_cols)
    missing = [c for c in cols if c not in source_df.columns]
    if missing:
        what = "table" if upsert else "ON"
        raise ValueError(f"MERGE source lacks {what} columns {missing}")
    if upsert:
        if update_cols is None:
            update_cols = [
                c for c in cols if c not in on_cols and c not in part_sources
            ]
        if mor and set(update_cols) & set(on_cols):
            raise ValueError("MERGE cannot update its ON key columns")
        parts = set(update_cols) & part_sources
        if not mor and parts:
            raise ValueError(f"cannot update partition columns {sorted(parts)}")
        if nmbs is not None:
            _check_nmbs(nmbs, on_cols, part_sources)
    exprs, bad = strict_cast_sql(
        [(c, c, ice_to_spark_type(ice_types[c])) for c in cols]
    )
    key = on_cols[0]
    prune = nmbs is None and ice_types.get(key) in _PRUNE_KEY_TYPES
    n, failed, lo, hi = (
        source_df.selectExpr(*exprs, f"{bad} AS __bad")
        .groupBy(*on_cols)
        .agg(F.count("*").alias("__n"), F.max("__bad").alias("__bad"))
        .agg(
            F.max("__n"),
            F.max("__bad"),
            *(
                [F.min(key), F.max(key)]
                if prune
                else [F.lit(None), F.lit(None)]
            ),
        )
        .first()
    )
    if failed:
        check_strict_cast(source_df.select(*cols), bad)
    if upsert and n is not None and n > 1:
        raise ValueError(
            "MERGE source has duplicate rows for the ON key(s) "
            f"{on_cols} — each target row may match at most one "
            "source row (cardinality violation)"
        )
    filters = []
    if prune and lo is not None:
        if ice_types[key] == "date":
            import datetime

            epoch = datetime.date(1970, 1, 1)
            lo, hi = (lo - epoch).days, (hi - epoch).days
        filters = [(key, ">=", lo), (key, "<=", hi)]
    return source_df.selectExpr(*exprs), update_cols, filters


def _check_nmbs(nmbs, on_cols, part_sources) -> None:
    """Validate a not_matched_by_source action: 'delete' or a dict
    of {column: Column} assignments that must not touch the ON keys
    or any partition source column."""
    if nmbs == "delete":
        return
    if not isinstance(nmbs, dict):
        raise ValueError(
            "not_matched_by_source must be 'delete' or a "
            f"{{column: Column}} dict, got {nmbs!r}"
        )
    bad = set(nmbs) & set(on_cols)
    if bad:
        raise ValueError(
            f"NOT MATCHED BY SOURCE cannot update ON keys {sorted(bad)}"
        )
    bad = set(nmbs) & set(part_sources)
    if bad:
        raise ValueError(
            "NOT MATCHED BY SOURCE cannot update partition columns "
            f"{sorted(bad)}"
        )


def set_sort_order(loc: str, cols) -> dict:
    """ALTER TABLE ... WRITE ORDERED BY (c1, c2): mint a new sort
    order (identity transform, asc, nulls-first — the spec defaults)
    and make it the table default — metadata-only, O(1). Existing
    files keep their layout; compact_files (OPTIMIZE) picks the
    order up as its clustering default, after which the rewritten
    files carry range-disjoint sort-key bounds and manifest pruning
    on the key skips whole files. Pass an empty list (SQL: WRITE
    UNORDERED) to reset to order 0. Reference parity: DESCRIBE shows
    all four facets incl. sort order (IcebergConnection.py:68-74)."""
    meta = read_table_meta(loc)
    orders = meta.setdefault(
        "sort-orders", [{"order-id": 0, "fields": []}]
    )
    if not cols:
        meta["default-sort-order-id"] = 0
    else:
        by_name = {f["name"]: f for f in meta["schema"]["fields"]}
        fields = []
        for c in cols:
            if c not in by_name:
                raise ValueError(f"unknown sort column {c!r}")
            if not _is_primitive(by_name[c]["type"]):
                raise ValueError(
                    f"cannot sort on {c!r} of type "
                    f"{by_name[c]['type']!r}"
                )
            fields.append(
                {
                    "transform": "identity",
                    "source-id": by_name[c]["id"],
                    "direction": "asc",
                    "null-order": "nulls-first",
                }
            )
        same = next(
            (
                o
                for o in orders
                if [f["source-id"] for f in o["fields"]]
                == [f["source-id"] for f in fields]
            ),
            None,
        )
        if same is None:
            oid = max(o["order-id"] for o in orders) + 1
            orders.append({"order-id": oid, "fields": fields})
        else:
            oid = same["order-id"]
        meta["default-sort-order-id"] = oid
    _commit_meta(loc, meta)
    return {
        "order-id": meta["default-sort-order-id"],
        "columns": list(cols),
    }


def default_sort_cols(meta: dict) -> list:
    """Column names of the table's default sort order ([] when
    unsorted or a sort source column was since dropped)."""
    oid = meta.get("default-sort-order-id", 0)
    order = next(
        (
            o
            for o in meta.get("sort-orders", [])
            if o["order-id"] == oid
        ),
        None,
    )
    if not order:
        return []
    by_id = {f["id"]: f["name"] for f in meta["schema"]["fields"]}
    cols = []
    for f in order["fields"]:
        name = by_id.get(f["source-id"])
        if name is None:
            return []  # dropped source: order no longer applicable
        cols.append(name)
    return cols


def set_table_property(loc: str, key: str, value: str) -> dict:
    """Metadata-only table property commit (the Iceberg ALTER TABLE
    SET TBLPROPERTIES path). fs_catalog honors
    ``write.delete.mode=merge-on-read`` to route SQL DELETE through
    position deletes — the same property the real engine reads."""
    meta = read_table_meta(loc)
    meta.setdefault("properties", {})[str(key)] = str(value)
    _commit_meta(loc, meta)
    return meta["properties"]


def add_column(loc: str, name: str, ice_type: str) -> dict:
    """Metadata-only schema evolution: append an optional column to
    the table schema in a new metadata version. No data file is
    touched — files written before the change simply lack the column
    and read back as typed nulls (_read_files); files written after
    carry it, with bounds collected for manifest pruning. This is
    the Iceberg property that makes ALTER TABLE on a 100 TB table an
    O(1) metadata commit instead of a full rewrite."""
    try:
        ice_to_spark_type(ice_type)  # validates
    except ValueError:
        raise ValueError(f"unsupported type {ice_type!r}") from None
    meta = read_table_meta(loc)
    if any(f["name"] == name for f in meta["schema"]["fields"]):
        raise ValueError(f"column {name!r} already exists")
    fid = meta["last-column-id"] + 1
    last = fid
    if isinstance(ice_type, dict) and ice_type.get("type") == "list":
        # the element gets its own fresh field id
        ice_type = dict(ice_type, **{"element-id": fid + 1})
        last = fid + 1
    field = {"id": fid, "name": name, "required": False, "type": ice_type}
    meta["schema"]["fields"].append(field)
    meta["schemas"] = [meta["schema"]]
    meta["last-column-id"] = last
    _commit_meta(loc, meta)
    return field


_PROMOTIONS = {("int", "long"), ("float", "double")}


def promote_column_type(loc: str, name: str, new_type: str) -> dict:
    """ALTER COLUMN TYPE — the spec's safe type promotions only
    (§Schema Evolution): int -> long, float -> double, and
    decimal(P,S) -> decimal(P',S) with P' > P (same scale). Metadata-
    only commit; no data file or manifest is rewritten. Old files
    resolve by field-id and Spark's mergeSchema widens their values
    losslessly; old manifest BOUNDS stay in their original 4-byte
    encoding and decode_bound detects the width — a pre-promotion
    file still prunes correctly (pinned in tests)."""
    meta = read_table_meta(loc)
    f = next(
        (x for x in meta["schema"]["fields"] if x["name"] == name),
        None,
    )
    if f is None:
        raise ValueError(f"column {name!r} does not exist")
    old_t, new_t = f["type"], new_type.strip().replace(" ", "")
    ok = (old_t, new_t) in _PROMOTIONS
    if (
        not ok
        and isinstance(old_t, str)
        and old_t.startswith("decimal(")
        and new_t.startswith("decimal(")
    ):
        mo, mn = _DECIMAL_RE.match(old_t), _DECIMAL_RE.match(new_t)
        ok = bool(
            mo
            and mn
            and int(mn.group(2)) == int(mo.group(2))  # same scale
            and int(mn.group(1)) > int(mo.group(1))  # wider precision
            and int(mn.group(1)) <= 38
        )
    if not ok:
        raise ValueError(
            f"unsupported type promotion {ice_type_str(old_t)} -> "
            f"{new_t} — spec allows int->long, float->double, "
            "decimal precision widening at the same scale"
        )
    f["type"] = new_t
    meta["schemas"] = [meta["schema"]]
    _commit_meta(loc, meta)
    return {"column": name, "from": old_t, "to": new_t}


def _log_schema_generation(meta: dict) -> None:
    """Snapshot the CURRENT schema into meta['schema-log'] before a
    rename/drop mutates it: files with sequence numbers <= the
    current last-sequence-number were written under it, and reads
    resolve their columns BY FIELD ID through it (_schema_at /
    _read_files)."""
    import copy

    meta.setdefault("schema-log", []).append(
        {
            "up-to-seq": int(meta.get("last-sequence-number", 0)),
            "schema": copy.deepcopy(meta["schema"]),
        }
    )


def rename_column(loc: str, old: str, new: str) -> dict:
    """Metadata-only RENAME COLUMN with field-ID resolution: the
    field keeps its id, so files written BEFORE the rename (which
    carry the old parquet column name) still populate the new name on
    read — the property that distinguishes Iceberg evolution from
    parquet-mergeSchema, where the rename would null out history.
    IDENTITY partition sources are rejected (the vendored hive-dir
    routing writes the COLUMN name into the path); a column that is
    only a TRANSFORM source (month(d), bucket(8, k)...) renames
    freely — the spec field keeps its own name and resolves the
    source by field-id, exactly like real Iceberg."""
    meta = read_table_meta(loc)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    if old not in by_name:
        raise ValueError(f"column {old!r} does not exist")
    if new in by_name:
        raise ValueError(f"column {new!r} already exists")
    identity_sources = {
        by_id_name
        for s in meta.get(
            "partition-specs",
            [{"spec-id": 0, "fields": meta["partition-spec"]}],
        )
        for e in s["fields"]
        if e["transform"] == "identity"
        for by_id_name in [
            next(
                (
                    f["name"]
                    for f in meta["schema"]["fields"]
                    if f["id"] == e["source-id"]
                ),
                None,
            )
        ]
        if by_id_name is not None
    }
    if old in identity_sources:
        raise ValueError(
            f"cannot rename identity-partition column {old!r}"
        )
    _log_schema_generation(meta)
    by_name[old]["name"] = new
    meta["schemas"] = [meta["schema"]]
    _commit_meta(loc, meta)
    return by_name[old]


def drop_column(loc: str, name: str) -> dict:
    """Metadata-only DROP COLUMN: the field id RETIRES with the
    column, so a later ADD COLUMN under the same name gets a fresh id
    and the dropped files' stale values can never resurrect into it
    (the field-ID test's second half). Partition-source columns are
    rejected."""
    meta = read_table_meta(loc)
    fields = meta["schema"]["fields"]
    by_name = {f["name"]: f for f in fields}
    if name not in by_name:
        raise ValueError(f"column {name!r} does not exist")
    if name in partition_source_cols(meta):
        raise ValueError(f"cannot drop partition column {name!r}")
    if len(fields) == 1:
        raise ValueError("cannot drop the table's only column")
    # a LIVE equality-delete file matches on this field id: dropping
    # the column would make its masks unevaluatable (the reader
    # resolves equality_ids through the current schema) — refuse
    # loudly; compact or REWRITE DELETES first
    fid = by_name[name]["id"]
    eq = _eq_deletes(_live_entries(loc, meta, kind="equality"))
    if any(fid in ids for _, _, ids in eq):
        raise ValueError(
            f"cannot drop column {name!r}: live equality-delete "
            "files match on it — compact the table first"
        )
    _log_schema_generation(meta)
    dropped = by_name[name]
    meta["schema"]["fields"] = [f for f in fields if f["name"] != name]
    meta["schemas"] = [meta["schema"]]
    _commit_meta(loc, meta)
    return dropped


def add_partition_field(loc: str, part_col) -> dict:
    """Metadata-only PARTITION-SPEC EVOLUTION (spec §Partition
    Evolution): append ``part_col`` (same shorthand as create_table —
    a column name for identity, or ``(col, transform, [N])``) to a
    NEW spec with a fresh spec-id and make it the default. No data
    file is touched: files already written keep planning under the
    spec-id their manifest was stamped with (plan_files evaluates
    each manifest under ITS spec), while new writes route and prune
    under the new spec. This is how a table that starts unpartitioned
    becomes day-partitioned at 100 TB with an O(1) commit — the
    single most common lake-maintenance move. Reference contrast:
    README.md:117 lists partitioned CREATE as roadmap; REST-catalog
    tables evolve specs server-side (IcebergConnection.py:107)."""
    meta = read_table_meta(loc)
    by_name = {f["name"]: f for f in meta["schema"]["fields"]}
    fid = int(meta.get("last-partition-id", 999)) + 1
    field = _build_spec_field(by_name, part_col, fid)
    cur = meta["partition-spec"]
    if any(e["name"] == field["name"] for e in cur):
        raise ValueError(
            f"partition field {field['name']!r} already exists"
        )
    specs = meta.setdefault(
        "partition-specs", [{"spec-id": 0, "fields": cur}]
    )
    # a name that appeared in ANY historical spec may only come back
    # with the IDENTICAL transform+source: old hive dirs keep the old
    # name, and a CoW re-stamp would otherwise parse bucket[4] values
    # under a bucket[8] spec — silent mis-pruning
    for s in specs:
        for e in s["fields"]:
            if e["name"] == field["name"] and (
                e["transform"] != field["transform"]
                or e["source-id"] != field["source-id"]
            ):
                raise ValueError(
                    f"partition field name {field['name']!r} was used "
                    f"by spec {s['spec-id']} with transform "
                    f"{e['transform']!r}; pick a different source "
                    "column or transform width"
                )
    new_fields = cur + [field]
    spec_id = max(s["spec-id"] for s in specs) + 1
    specs.append({"spec-id": spec_id, "fields": new_fields})
    meta["default-spec-id"] = spec_id
    meta["partition-spec"] = new_fields
    meta["last-partition-id"] = fid
    _commit_meta(loc, meta)
    return {"spec-id": spec_id, "fields": new_fields}


def drop_partition_field(loc: str, name: str) -> dict:
    """Metadata-only DROP PARTITION FIELD: a new default spec without
    the field (surviving fields keep their field-ids). Old files stay
    planned — and pruned — under their original spec; new writes stop
    routing on the dropped field. ``name`` is the PARTITION FIELD
    name (e.g. ``o_orderdate_day``), matching what DESCRIBE shows."""
    meta = read_table_meta(loc)
    cur = meta["partition-spec"]
    if not any(e["name"] == name for e in cur):
        raise ValueError(f"partition field {name!r} does not exist")
    new_fields = [e for e in cur if e["name"] != name]
    specs = meta.setdefault(
        "partition-specs", [{"spec-id": 0, "fields": cur}]
    )
    spec_id = max(s["spec-id"] for s in specs) + 1
    specs.append({"spec-id": spec_id, "fields": new_fields})
    meta["default-spec-id"] = spec_id
    meta["partition-spec"] = new_fields
    _commit_meta(loc, meta)
    return {"spec-id": spec_id, "fields": new_fields}


def compact_files(
    spark,
    loc: str,
    sort_by: str | None = None,
    n_slices: int = 1,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-files compaction (the RewriteDataFiles maintenance
    action): read every live data file, repartition so each identity
    partition value lands in exactly one task (=> one output file per
    partition), and commit a 'replace' snapshot — old files DELETED,
    compacted files ADDED. Row content is untouched, so time travel
    to pre-compaction snapshots still reads the original files until
    expire_snapshots reclaims them.

    Unpartitioned tables are sliced by BYTES, not coalesced to one
    file: output file count = ceil(live input
    bytes / ``target_file_bytes``), sizes read driver-side from the
    file listing exactly as sources/files.compact_parquet does — a
    multi-TB unpartitioned table compacts to bounded files instead of
    one unwritable blob. Partitioned tables get one file per
    partition; per-partition byte-slicing is the OPTIMIZE..SORT BY
    path (``n_slices``), which also clusters for pruning.

    ``sort_by`` adds the OPTIMIZE..SORT BY shape: rows are
    range-clustered on (partition cols, sort_by) into ``n_slices``
    range slices, so the rewritten files carry DISJOINT sort-key
    bounds within each partition — after which manifest-level bounds
    pruning on the sort key skips whole files (at 100 TB the
    difference between touching one slice and scanning the
    partition). Range boundaries come from Spark's range-partition
    sampling; no driver-side data."""
    import math

    from pyspark.sql import functions as F

    meta = read_table_meta(loc)
    spec = meta["partition-spec"]
    if sort_by is None:
        # OPTIMIZE without SORT BY honors the table's default sort
        # order (ALTER TABLE ... WRITE ORDERED BY)
        sort_by = default_sort_cols(meta) or None
    if isinstance(sort_by, str):
        sort_by = [sort_by]
    entries = _live_entries(loc, meta)
    live = _prune(meta, entries)
    if not live:
        raise ValueError("nothing to compact: table has no live files")
    # compaction MATERIALIZES merge-on-read deletes: the rewrite reads
    # through them, every data file is replaced, and no delete file
    # survives into the new snapshot — the maintenance action that
    # caps MoR read overhead
    df = _read_live(spark, loc, meta, live, entries)
    df, dir_cols = _with_partition_cols(df, meta)
    if sort_by is not None:
        keys = [F.col(c) for c in (*dir_cols, *sort_by)]
        # partition-value count straight off the manifest metadata —
        # no Spark job, no driver-side row data. missing_ok: files
        # written under an OLDER partition spec (spec evolution) lack
        # the current fields in their paths; they count toward one
        # (None-valued) group, which only widens the slice count.
        n_parts = max(1, len({
            tuple(
                _partition_from_path(
                    p, spec, meta["schema"], missing_ok=True
                ).items()
            )
            for p in live
        })) if dir_cols else 1
        df = df.repartitionByRange(
            n_parts * n_slices, *keys
        ).sortWithinPartitions(*keys)
    elif dir_cols:
        df = df.repartition(*dir_cols)
    else:
        total_bytes = sum(os.path.getsize(p) for p in live)
        n_out = max(1, math.ceil(total_bytes / target_file_bytes))
        df = df.repartition(n_out)
    new_files = _write_replacement(spark, loc, df, meta)
    return _commit_overwrite(
        loc, meta, entries, live, [], new_files, operation="replace"
    )


def overwrite_table(spark, loc: str, df=None) -> dict:
    """Replace the table's ENTIRE contents in one overwrite snapshot —
    the INSERT OVERWRITE / TRUNCATE primitive: every live data file
    is recorded DELETED, ``df``'s rows (if any; None = TRUNCATE) are
    written and ADDED, and no delete file carries forward (nothing
    survives for a mask to apply to). Time travel to the
    pre-overwrite snapshot stays intact until expiry — the property
    that makes INSERT OVERWRITE safe on a lake where a bad batch must
    be revertible by snapshot rollback."""
    meta = read_table_meta(loc)
    entries = _live_entries(loc, meta)
    new_files = (
        _write_replacement(spark, loc, df, meta)
        if df is not None
        else []
    )
    return _commit_overwrite(
        loc, meta, entries, _prune(meta, entries), [], new_files,
        operation="overwrite",
    )


def rewrite_position_deletes(
    spark, loc: str, target_file_bytes: int = 64 * 1024 * 1024
) -> dict:
    """Compact accumulated position-delete files WITHOUT rewriting
    any data file — the RewritePositionDeleteFiles maintenance action
    real engines ship beside full compaction. Every MoR commit adds
    >=1 delete file; before this action the only way to shed them was
    compact_files (a full data rewrite). Here: read all live delete
    files, drop rows referencing data files that are no longer live
    (dead masks from CoW rewrites), dedup, and write the union back
    as ceil(input bytes / target_file_bytes) spec-sorted files. The
    'replace' commit carries every DATA manifest verbatim — data-file
    paths are untouched, time travel to pre-rewrite snapshots still
    reads the original delete files — and swaps the content=1
    manifests for one fresh one.

    At 100 TB with heavy MoR churn this is the read-amplification
    cap: scan cost returns to one small anti-join input instead of
    hundreds of sliver files, at the cost of a delete-only rewrite
    (no data bytes moved)."""
    import math

    from pyspark.sql import functions as F

    meta = read_table_meta(loc)
    entries = _live_entries(loc, meta)
    old = _position_deletes(entries)
    if not old:
        return {
            "summary": {
                "operation": "replace",
                "rewritten-delete-files": "0",
                "added-delete-files": "0",
            }
        }
    live = _prune(meta, entries)
    rows = spark.read.parquet(*old).select("file_path", "pos")
    # normalize the URI form _metadata.file_path stored
    # ('file:///x' / 'file:/x' -> '/x') to compare with manifest paths
    norm = F.regexp_replace(F.col("file_path"), "^file:/+", "/")
    live_df = F.broadcast(
        spark.createDataFrame([(_uri_path(p),) for p in live], "lp string")
    )
    rows = rows.join(
        live_df, norm == F.col("lp"), "left_semi"
    ).dropDuplicates(["file_path", "pos"])
    n_out = max(
        1,
        math.ceil(sum(os.path.getsize(p) for p in old) / target_file_bytes),
    )
    new_files, n_rows = _write_position_deletes(
        spark,
        loc,
        rows.select(
            F.col("file_path").alias("__fp"), F.col("pos").alias("__pos")
        ),
        n_files=n_out,
    )
    return _commit_mor(
        loc,
        meta,
        new_files,
        n_rows,
        [],
        "replace",
        carry_delete_manifests=False,
        extra_summary={"rewritten-delete-files": str(len(old))},
    )


def _eq_candidate_files(meta, entries, eq, files, file_seqs):
    """Data files SOME equality delete can possibly mask: strictly
    older than that delete AND not provably key-range-disjoint from
    it (_eq_delete_misses over the file's own range). Reading every
    file older than the newest delete would make one fresh eq
    delete's candidate set the whole table."""
    types = {str(f["id"]): f["type"] for f in meta["schema"]["fields"]}
    by_path = {e.path: e.file for e in entries}
    fids = {str(i) for _, _, ids in eq for i in ids}
    out = []
    for p in files:
        rng = _key_range(types, [by_path.get(p, {})], fids)
        if any(
            file_seqs.get(p, 0) < dseq
            and not _eq_delete_misses(types, by_path.get(dpath, {}), ids, rng)
            for dpath, dseq, ids in eq
        ):
            out.append(p)
    return out


def convert_equality_deletes(spark, loc: str, stats_out=None) -> dict:
    """Convert accumulated EQUALITY deletes into POSITION deletes
    WITHOUT touching any data file — the convert-equality-to-position
    maintenance action real engines ship for CDC tables: each
    equality-delete file's masks are resolved against the data files
    it currently applies to (null-safe key match, sequence strictly
    older — the exact read-side semantics, via _apply_eq_deletes in
    semi mode) and materialized as position deletes; the commit then
    lists ONLY position deletes. A long-running CDC stream
    accumulates one anti-join per key-set per batch; after conversion
    the read side collapses into the already-scan-scoped
    position-delete path (path-bounds pruning, one broadcast
    anti-join) with zero data bytes moved — full compact_files is no
    longer the only way off the eq-delete chain.

    Only data files STRICTLY OLDER than some equality delete are
    read (newer files cannot be masked); existing position deletes
    are applied first so already-masked rows are not re-emitted, and
    are carried forward with their original sequence numbers."""
    meta = read_table_meta(loc)
    entries = _live_entries(loc, meta)
    eq = _eq_deletes(entries)
    if not eq:
        return {
            "summary": {
                "operation": "replace",
                "converted-equality-delete-files": "0",
                "added-delete-files": "0",
            }
        }
    files = _prune(meta, entries)
    file_seqs = _file_seqs(entries)
    cand = _eq_candidate_files(meta, entries, eq, files, file_seqs)
    if stats_out is not None:
        stats_out["files_scanned"] = len(cand)
        stats_out["files_total"] = len(files)
    new_files: list[str] = []
    n_rows = 0
    if cand:
        df = _read_files(
            spark,
            loc,
            cand,
            meta,
            deletes=_position_deletes(entries, cand),
            file_seqs=file_seqs,
            keep_meta_cols=True,
        )
        masked = _apply_eq_deletes(
            spark,
            df,
            meta["schema"],
            eq,
            {p: file_seqs.get(p, 0) for p in cand},
            how="left_semi",
        ).dropDuplicates(["__fp", "__pos"])
        new_files, n_rows = _write_position_deletes(spark, loc, masked)
    specs = [
        _carry(e) for e in entries if e.kind == "position"
    ] + list(new_files)
    return _commit_mor(
        loc,
        meta,
        specs,
        n_rows,
        [],
        "replace",
        carry_delete_manifests=False,
        requeue_equality_deletes=False,
        extra_summary={
            "converted-equality-delete-files": str(len(eq)),
            # the NEW position-delete files only (the specs list also
            # carries forward the pre-existing position deletes)
            "added-delete-files": str(len(new_files)),
        },
    )


def create_ref(loc: str, name: str, ref_type: str = "tag",
               snapshot_id=None) -> dict:
    """Create a NAMED SNAPSHOT REF (spec §Snapshot References) — a
    tag or branch entry in table metadata pointing at a snapshot
    (default: current). Refs make the audit/WAP workflow expressible:
    tag a validated snapshot, keep writing, and `VERSION AS OF
    'name'` keeps reading the tagged state; expire_snapshots NEVER
    reclaims a snapshot a ref pins (per-ref retention). 'main' is
    reserved (the implicit branch at the table head)."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref type must be tag or branch, got {ref_type!r}")
    if name == "main":
        raise ValueError("'main' is the implicit head branch")
    meta = read_table_meta(loc)
    refs = meta.setdefault("refs", {})
    if name in refs:
        raise ValueError(f"ref {name!r} already exists")
    sid = _resolve_snapshot_ref(meta, snapshot_id)
    if sid is None:
        sid = meta["current-snapshot-id"]
    if sid == -1 or not any(
        s["snapshot-id"] == sid for s in meta["snapshots"]
    ):
        raise ValueError(f"snapshot {sid} not in {loc}")
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    _commit_meta(loc, meta)
    return {"name": name, **refs[name]}


def fast_forward(loc: str, target: str, source: str) -> dict:
    """Fast-forward ``target`` (a branch name, or 'main' for the
    table head) to ``source``'s snapshot — the publish half of
    write-audit-publish. Only a true fast-forward commits: the
    target's current head must be an ANCESTOR of the source head
    (walked over parent-snapshot-id), otherwise the branches have
    diverged and the caller must rebase/rewrite. One metadata
    commit; zero data or manifest bytes move."""
    meta = read_table_meta(loc)
    refs = meta.get("refs") or {}
    if source not in refs:
        raise ValueError(f"ref {source!r} does not exist")
    src_id = refs[source]["snapshot-id"]
    if target == "main":
        tgt_id = meta["current-snapshot-id"]
    else:
        r = refs.get(target)
        if r is None:
            raise ValueError(f"branch {target!r} does not exist")
        if r["type"] != "branch":
            raise ValueError(f"ref {target!r} is a tag — immutable")
        tgt_id = r["snapshot-id"]
    if src_id == tgt_id:
        return {"target": target, "snapshot-id": src_id, "advanced": 0}
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    # walk source's ancestry back to the target head, collecting the
    # published path (oldest-first) for the snapshot log
    path = []
    cur = src_id
    while cur is not None and cur != tgt_id:
        s = by_id.get(cur)
        if s is None:
            break
        path.append(s)
        cur = s.get("parent-snapshot-id")
    if cur != tgt_id and not (tgt_id == -1 and cur is None):
        raise ValueError(
            f"{target!r} is not an ancestor of {source!r} — "
            "not a fast-forward"
        )
    now_ms = int(time.time() * 1000)
    if target == "main":
        meta["current-snapshot-id"] = src_id
        for s in reversed(path):
            meta["snapshot-log"].append(
                {"timestamp-ms": now_ms, "snapshot-id": s["snapshot-id"]}
            )
    else:
        refs[target]["snapshot-id"] = src_id
    _commit_meta(loc, meta, now_ms)
    return {
        "target": target,
        "snapshot-id": src_id,
        "advanced": len(path),
    }


def drop_ref(loc: str, name: str) -> dict:
    """Drop a named ref; its pinned snapshot becomes expirable."""
    meta = read_table_meta(loc)
    refs = meta.get("refs") or {}
    if name not in refs:
        raise ValueError(f"ref {name!r} does not exist")
    dropped = refs.pop(name)
    _commit_meta(loc, meta)
    return {"name": name, **dropped}


def expire_snapshots(loc: str, keep_last: int = 1) -> dict:
    """Expire all but the last ``keep_last`` snapshots, then
    physically delete what ONLY the expired snapshots referenced:
    their data and delete files, manifests and manifest lists that no
    kept snapshot reaches through a live entry (Iceberg's
    ExpireSnapshots rule — nothing is deleted from a directory
    listing). The current snapshot is always kept, and so is every
    snapshot pinned by a named ref (tag/branch) — ref retention per
    the spec: a tagged audit state stays time-travelable until the
    ref is dropped. The metadata commit lands BEFORE any file is
    deleted, so a writer that commits concurrently makes this raise
    CommitFailedError with every file still in place."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = read_table_meta(loc)
    snaps = meta["snapshots"]
    ref_ids = {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    keep_tail = snaps[-keep_last:]
    # the table head is ALWAYS kept explicitly: with branch writes
    # the snapshots list is commit-ordered across ALL branches, so
    # the tail may be a branch snapshot, not the main head
    keep = [
        s
        for s in snaps
        if s in keep_tail
        or s["snapshot-id"] in ref_ids
        or s["snapshot-id"] == meta["current-snapshot-id"]
    ]
    if len(snaps) <= len(keep):
        return {"removed_snapshots": 0, "removed_files": 0}
    kept_ids = {s["snapshot-id"] for s in keep}
    expired = [s for s in snaps if s["snapshot-id"] not in kept_ids]

    def referenced(group) -> set:
        # manifest lists, manifests, and the files of live entries
        out: set = set()
        for s in group:
            sid = s["snapshot-id"]
            out.add(s["manifest-list"])
            out.update(
                m["manifest_path"]
                for m in _snapshot_manifests(loc, meta, sid)
            )
            out.update(e.path for e in _live_entries(loc, meta, sid))
        return out

    doomed = referenced(expired) - referenced(keep)
    meta["snapshots"] = keep
    meta["snapshot-log"] = [
        e for e in meta["snapshot-log"] if e["snapshot-id"] in kept_ids
    ]
    _commit_meta(loc, meta)
    removed = 0
    for path in sorted(doomed):
        try:
            os.remove(path)
        except FileNotFoundError:
            continue
        removed += 1
    return {"removed_snapshots": len(expired), "removed_files": removed}


def read_incremental(
    spark, loc: str, from_snapshot_id: int, to_snapshot_id: int | None = None
):
    """Incremental append scan (Iceberg's incremental read API): the
    rows ADDED by snapshots AFTER ``from_snapshot_id`` (exclusive) up
    to ``to_snapshot_id`` (inclusive, default current). Resolves each
    in-range snapshot's manifest list and keeps only manifest entries
    with status ADDED stamped by that snapshot — existing files are
    never re-read, which is what makes a periodic 100 TB-table sync
    cost proportional to the increment, not the table. Matches the
    engine contract: only 'append' snapshots are valid in the range
    (an overwrite would need row-level diffing — a changelog scan);
    anything else raises ValueError. Either endpoint may be a named
    ref ('tag'/'branch'/'main') — the CDC-consumer idiom: read the
    increment between two tagged audit points."""
    meta = read_table_meta(loc)
    snaps = meta["snapshots"]
    from_snapshot_id = _resolve_snapshot_ref(meta, from_snapshot_id)
    to_snapshot_id = _resolve_snapshot_ref(meta, to_snapshot_id)
    ids = [s["snapshot-id"] for s in snaps]
    if from_snapshot_id not in ids:
        raise ValueError(f"snapshot {from_snapshot_id} not in {loc}")
    if to_snapshot_id is None:
        to_snapshot_id = meta["current-snapshot-id"]
    if to_snapshot_id not in ids:
        raise ValueError(f"snapshot {to_snapshot_id} not in {loc}")
    lo, hi = ids.index(from_snapshot_id), ids.index(to_snapshot_id)
    if hi < lo:
        raise ValueError("to_snapshot precedes from_snapshot")
    added: list = []
    for s in snaps[lo + 1 : hi + 1]:
        if s["summary"].get("operation") != "append":
            raise ValueError(
                f"incremental scan crosses non-append snapshot "
                f"{s['snapshot-id']} ({s['summary'].get('operation')})"
            )
        added += [
            e
            for e in _live_entries(loc, meta, s["snapshot-id"], kind="data")
            if e.status == 1 and e.snapshot_id == s["snapshot-id"]
        ]
    files = [e.path for e in added]
    # each file's sequence number comes from ITS ADDING SNAPSHOT, not
    # the current snapshot's plan: a later compaction rewrites files
    # out of the current manifests, and resolving a historical file
    # as sequence 0 would read it under the wrong schema generation
    # (pre-rename names -> silently NULLed columns)
    return _read_files(
        spark, loc, files, meta, file_seqs=_file_seqs(added)
    )
