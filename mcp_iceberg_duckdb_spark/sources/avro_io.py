"""Minimal pure-python Apache Avro object-container codec — the
metadata transport of the Iceberg table format (manifest lists and
manifest files are Avro; the container has no Avro/PyIceberg/
fastavro), built from the public Avro 1.11 specification:

- binary encoding: zigzag-varint int/long, little-endian IEEE
  float/double, length-prefixed bytes/string, records in field
  order, arrays/maps as count-prefixed blocks (negative count =
  block-size-prefixed form), unions as branch index + value, enum as
  symbol index, fixed as raw bytes.
- object container files: magic ``Obj\\x01``, file-metadata map
  carrying avro.schema + avro.codec, 16-byte sync marker, then
  blocks of (record count, byte length, payload, sync). Codecs:
  null and deflate (raw zlib per the spec).

The READER is schema-driven from the schema embedded in the file
header, so it reads containers written by any conforming
implementation (including real Iceberg manifests); the WRITER emits
the canonical encoding those implementations read back. Reference
behavior parity target: IcebergConnection.py's PyIceberg scan path
(reference reads manifests through the Avro library; this repo
vendors the spec instead — same format, no dependency).
"""

from __future__ import annotations

import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"


# ---- zigzag varint (Avro spec "Primitive Types: int, long") ----


def _write_long(out: bytearray, v: int) -> None:
    zz = v * 2 if v >= 0 else -v * 2 - 1
    while True:
        b = zz & 0x7F
        zz >>= 7
        if zz:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise ValueError("truncated Avro varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 70:
            raise ValueError("Avro varint too long")
    return (acc >> 1) ^ -(acc & 1)


# ---- schema-driven value codec ----


def _normalize(schema):
    """Resolve string-form primitive schemas to dicts with 'type'."""
    if isinstance(schema, str):
        return {"type": schema}
    return schema


def _write_value(out: bytearray, schema, value, named) -> None:
    schema = _resolve_named(schema, named)
    if isinstance(schema, list):  # union: pick the branch
        for idx, branch in enumerate(schema):
            if _matches(branch, value, named):
                _write_long(out, idx)
                _write_value(out, branch, value, named)
                return
        raise ValueError(f"value {value!r} matches no union branch")
    s = _normalize(schema)
    t = s["type"]
    if t == "null":
        if value is not None:
            raise ValueError("non-null value for null schema")
    elif t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        _write_long(out, int(value))
    elif t == "float":
        out += struct.pack("<f", float(value))
    elif t == "double":
        out += struct.pack("<d", float(value))
    elif t == "bytes":
        raw = bytes(value)
        _write_long(out, len(raw))
        out += raw
    elif t == "string":
        raw = str(value).encode("utf-8")
        _write_long(out, len(raw))
        out += raw
    elif t == "fixed":
        raw = bytes(value)
        if len(raw) != s["size"]:
            raise ValueError("fixed size mismatch")
        out += raw
    elif t == "enum":
        _write_long(out, s["symbols"].index(value))
    elif t == "record":
        _register_named(s, named)
        for f in s["fields"]:
            if f["name"] in value:
                fv = value[f["name"]]
            elif "default" in f:
                fv = f["default"]
            else:
                raise ValueError(f"missing record field {f['name']}")
            _write_value(out, f["type"], fv, named)
    elif t == "array":
        items = list(value)
        if items:
            _write_long(out, len(items))
            for item in items:
                _write_value(out, s["items"], item, named)
        _write_long(out, 0)
    elif t == "map":
        entries = dict(value)
        if entries:
            _write_long(out, len(entries))
            for k, v in entries.items():
                _write_value(out, "string", k, named)
                _write_value(out, s["values"], v, named)
        _write_long(out, 0)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


def _matches(branch, value, named) -> bool:
    branch = _resolve_named(branch, named)
    t = _normalize(branch)["type"]
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if t == "string":
        return isinstance(value, str)
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if t == "record":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, (list, tuple))
    if t == "map":
        return isinstance(value, dict)
    if t == "enum":
        return isinstance(value, str)
    return False


def _register_named(s, named) -> None:
    if isinstance(s, dict) and "name" in s:
        named[s["name"]] = s


def _resolve_named(schema, named):
    """A bare string that is not a primitive is a named-type
    reference (records may reference earlier record definitions)."""
    if isinstance(schema, str) and schema not in (
        "null", "boolean", "int", "long", "float", "double",
        "bytes", "string",
    ):
        if schema not in named:
            raise ValueError(f"unresolved named type {schema!r}")
        return named[schema]
    return schema


def _read_value(buf: io.BytesIO, schema, named):
    schema = _resolve_named(schema, named)
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        if not (0 <= idx < len(schema)):
            raise ValueError("union branch index out of range")
        return _read_value(buf, schema[idx], named)
    s = _normalize(schema)
    t = s["type"]
    if t == "null":
        return None
    if t == "boolean":
        raw = buf.read(1)
        if not raw:
            raise ValueError("truncated Avro boolean")
        return raw[0] != 0
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t in ("bytes", "string"):
        n = _read_long(buf)
        if n < 0:
            raise ValueError("negative length")
        raw = buf.read(n)
        if len(raw) != n:
            raise ValueError("truncated Avro bytes/string")
        return raw.decode("utf-8") if t == "string" else raw
    if t == "fixed":
        _register_named(s, named)
        raw = buf.read(s["size"])
        if len(raw) != s["size"]:
            raise ValueError("truncated Avro fixed")
        return raw
    if t == "enum":
        _register_named(s, named)
        return s["symbols"][_read_long(buf)]
    if t == "record":
        _register_named(s, named)
        return {
            f["name"]: _read_value(buf, f["type"], named)
            for f in s["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block-size-prefixed form
                n = -n
                _read_long(buf)  # byte size, unused when decoding all
            for _ in range(n):
                out.append(_read_value(buf, s["items"], named))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = _read_value(buf, "string", named)
                out[k] = _read_value(buf, s["values"], named)
    raise ValueError(f"unsupported Avro type {t!r}")


# ---- object container files ----

_META_SCHEMA = {"type": "map", "values": "bytes"}
_SYNC = bytes(
    [
        0x53, 0x50, 0x41, 0x52, 0x4B, 0x47, 0x52, 0x41,
        0x46, 0x54, 0x41, 0x56, 0x52, 0x4F, 0x31, 0x36,
    ]
)  # fixed 16-byte sync marker (any value is spec-legal)


def write_container(schema, records, codec: str = "deflate") -> bytes:
    """Serialize records into one Avro object-container file."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    # compact separators: every manifest and manifest list repeats
    # its schema in the header, the bulk of a small commit's metadata
    schema_json = json.dumps(schema, separators=(",", ":"))
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": schema_json.encode(),
        "avro.codec": codec.encode(),
    }
    _write_value(out, _META_SCHEMA, meta, {})
    out += _SYNC
    if records:
        body = bytearray()
        named: dict = {}
        for rec in records:
            _write_value(body, schema, rec, named)
        payload = bytes(body)
        if codec == "deflate":  # raw deflate (no zlib header), per spec
            payload = zlib.compress(payload)[2:-4]
        _write_long(out, len(records))
        _write_long(out, len(payload))
        out += payload
        out += _SYNC
    return bytes(out)


def read_container(data: bytes):
    """Parse an Avro object-container file -> (schema, records)."""
    buf = io.BytesIO(bytes(data))
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta = _read_value(buf, _META_SCHEMA, {})
    try:
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
    except (KeyError, json.JSONDecodeError) as ex:
        raise ValueError(f"bad Avro container header: {ex}") from ex
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = buf.read(16)
    if len(sync) != 16:
        raise ValueError("truncated Avro container header")
    records = []
    while True:
        probe = buf.read(1)
        if not probe:
            break
        buf.seek(-1, io.SEEK_CUR)
        n = _read_long(buf)
        size = _read_long(buf)
        payload = buf.read(size)
        if len(payload) != size:
            raise ValueError("truncated Avro block")
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        block = io.BytesIO(payload)
        named: dict = {}
        for _ in range(n):
            records.append(_read_value(block, schema, named))
        if buf.read(16) != sync:
            raise ValueError("Avro block sync marker mismatch")
    return schema, records
