"""Avro Object Container File source/sink in pure stdlib — no
spark-avro jar, no avro-python package (both absent in this
environment, probed 2026-08-15).

The Avro 1.x OCF layout and binary encoding are a public spec
(header = magic ``Obj\\x01`` + string→bytes metadata map carrying the
writer schema JSON and codec + 16-byte sync marker; then data blocks
of ``count, byte-size, payload, sync``; values encoded with
zigzag-varint longs, length-prefixed strings/bytes, fields in record
order, unions as ``index, value``). The subset here — flat record
schemas over the primitive types plus ``["null", T]`` nullable unions,
``null``/``deflate`` codecs — covers the interchange shape analytics
pipelines actually move (row files out of Kafka/connect dumps).

Spark-shaped exactly like the other single-file formats:

- READ and WRITE go through :mod:`pyprima_spark.sources.files`: files
  are read per FILE (block-level splitting WITHIN one file is not
  attempted — a 100 TB Avro drop arrives as many files) and written as
  one file from one task, to a path or URI. The sync marker derives
  from the schema md5, keeping byte-identical runs byte-identical.

The reader VERIFIES: magic, codec membership, per-block sync markers,
and trailing-byte exhaustion — truncated or spliced files raise
instead of decoding wrong.
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

_MAGIC = b"Obj\x01"

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


# --- binary primitives ------------------------------------------------------


def _write_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


class _Reader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("truncated Avro payload")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            if self.pos >= len(self.data):
                raise ValueError("truncated varint in Avro payload")
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("malformed varint in Avro payload")
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())


# --- value codecs per schema type -------------------------------------------


def _encode_value(out: bytearray, typ, value) -> None:
    if isinstance(typ, list):  # ["null", T]
        if value is None:
            _write_long(out, typ.index("null"))
            return
        idx = 1 if typ[0] == "null" else 0
        _write_long(out, idx)
        _encode_value(out, typ[idx], value)
        return
    if typ == "null":
        return
    if typ == "boolean":
        out.append(1 if value else 0)
    elif typ in ("int", "long"):
        _write_long(out, int(value))
    elif typ == "float":
        out += struct.pack("<f", float(value))
    elif typ == "double":
        out += struct.pack("<d", float(value))
    elif typ == "bytes":
        raw = bytes(value)
        _write_long(out, len(raw))
        out += raw
    elif typ == "string":
        raw = str(value).encode("utf-8")
        _write_long(out, len(raw))
        out += raw
    else:
        raise ValueError(f"unsupported Avro type {typ!r}")


def _decode_value(r: _Reader, typ):
    if isinstance(typ, list):
        idx = r.read_long()
        if not 0 <= idx < len(typ):
            raise ValueError("union index out of range")
        return _decode_value(r, typ[idx])
    if typ == "null":
        return None
    if typ == "boolean":
        return r.read(1) != b"\x00"
    if typ in ("int", "long"):
        return r.read_long()
    if typ == "float":
        return struct.unpack("<f", r.read(4))[0]
    if typ == "double":
        return struct.unpack("<d", r.read(8))[0]
    if typ == "bytes":
        return r.read_bytes()
    if typ == "string":
        return r.read_bytes().decode("utf-8")
    raise ValueError(f"unsupported Avro type {typ!r}")


def _field_types(schema: dict) -> list[tuple[str, object]]:
    if schema.get("type") != "record":
        raise ValueError("only record schemas supported")
    out = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            # exactly the two-branch nullable union ["null", primitive] —
            # wider unions would make _encode_value's fixed branch pick
            # silently coerce across types (review r7 finding)
            if (
                len(t) != 2
                or t[0] != "null"
                or not isinstance(t[1], str)
                or t[1] not in _PRIMITIVES
            ):
                raise ValueError(f"unsupported field type {t!r}")
        elif not (isinstance(t, str) and t in _PRIMITIVES):
            raise ValueError(f"unsupported field type {t!r}")
        out.append((f["name"], t))
    return out


# --- OCF encode/decode -------------------------------------------------------


def encode_avro_ocf(
    rows: list[dict],
    schema: dict,
    codec: str = "null",
    block_rows: int = 1000,
) -> bytes:
    """Encode dict rows as OCF bytes under a flat record ``schema``."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    fields = _field_types(schema)
    schema_json = json.dumps(schema, sort_keys=True).encode("utf-8")
    sync = hashlib.md5(b"pyprima:" + schema_json).digest()

    out = bytearray(_MAGIC)
    meta = {"avro.schema": schema_json, "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        kk = k.encode()
        _write_long(out, len(kk))
        out += kk
        _write_long(out, len(v))
        out += v
    _write_long(out, 0)  # end of metadata map
    out += sync

    for start in range(0, len(rows), block_rows):
        chunk = rows[start : start + block_rows]
        body = bytearray()
        for row in chunk:
            for name, typ in fields:
                _encode_value(body, typ, row.get(name))
        payload = bytes(body)
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw deflate
        _write_long(out, len(chunk))
        _write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def decode_avro_ocf(payload: bytes) -> tuple[dict, list[dict]]:
    """Verifying OCF parser: returns (writer schema, rows)."""
    if payload[:4] != _MAGIC:
        raise ValueError("not an Avro OCF (bad magic)")
    r = _Reader(payload, 4)
    meta: dict[str, bytes] = {}
    while True:
        count = r.read_long()
        if count == 0:
            break
        if count < 0:
            r.read_long()  # block byte size, unused
            count = -count
        for _ in range(count):
            k = r.read_bytes().decode("utf-8")
            meta[k] = r.read_bytes()
    sync = r.read(16)
    if "avro.schema" not in meta:
        raise ValueError("Avro OCF header missing avro.schema metadata")
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    fields = _field_types(schema)

    rows: list[dict] = []
    while r.pos < len(r.data):
        n = r.read_long()
        size = r.read_long()
        if n < 0 or size < 0:
            raise ValueError("malformed Avro block header")
        body = r.read(size)
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        if r.read(16) != sync:
            raise ValueError("Avro block sync marker mismatch")
        br = _Reader(body)
        for _ in range(n):
            rows.append({name: _decode_value(br, typ) for name, typ in fields})
        if br.pos != len(body):
            raise ValueError("trailing bytes in Avro block")
    return schema, rows


# --- Spark legs --------------------------------------------------------------

_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "binary": "bytes",
    "string": "string",
}


def _avro_schema_for(df: "DataFrame", name: str = "row") -> dict:
    fields = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t == "bigint":
            t = "long"
        elif t == "int":
            t = "integer"
        avro_t = _SPARK_TO_AVRO.get(t)
        if avro_t is None:
            raise ValueError(f"unsupported Spark type {t} for Avro export")
        fields.append(
            {"name": f.name, "type": ["null", avro_t] if f.nullable else avro_t}
        )
    return {"type": "record", "name": name, "fields": fields}


def write_avro_file(
    df: "DataFrame",
    path: str,
    codec: str = "deflate",
    order_by: "list[str] | None" = None,
) -> "DataFrame":
    """Write ``df`` as ONE Avro OCF through
    :func:`files.write_single_file`, rows sorted by ``order_by``
    (default: all columns); ``path`` may be a URI. Returns a 1-row
    manifest (path, n_rows, n_bytes).

    Float columns: pandas cannot tell a Spark NULL from NaN (both
    arrive as NaN through Arrow), so nullable float/double fields write
    Avro null for NaN, and non-nullable ones keep NaN as a real IEEE
    NaN."""
    import pandas as pd

    from pyprima_spark.sources import files

    schema = _avro_schema_for(df)
    cols = list(df.columns)
    keep_nan = {
        f.name for f in df.schema.fields
        if f.dataType.simpleString() in ("float", "double") and not f.nullable
    }

    def encode(pdf):
        for c in cols:
            if c not in keep_nan:
                pdf[c] = pdf[c].where(pd.notna(pdf[c]), None)
        rows = [dict(zip(cols, vals)) for vals in zip(*[pdf[c] for c in cols])]
        payload = encode_avro_ocf(rows, schema, codec=codec)
        return {path: payload}, [
            {"path": path, "n_rows": len(rows), "n_bytes": len(payload)}
        ]

    return files.write_single_file(
        df, encode, "path string, n_rows long, n_bytes long", order_by or cols
    )


def read_avro(
    spark: "SparkSession",
    path_glob: str,
    schema: str,
    ext_filter: str | None = "*.avro",
) -> "DataFrame":
    """Read Avro OCF files through :func:`files.read_files`: fields map
    to the requested Spark ``schema`` DDL by NAME (missing fields →
    null). Pass ``ext_filter=None`` to read every file the glob
    matches; non-OCF payloads then fail :func:`decode_avro_ocf`'s magic
    check loudly rather than being dropped."""
    from pyprima_spark.sources import files

    return files.read_files(
        spark, path_glob, ext_filter, schema,
        lambda payload: decode_avro_ocf(payload)[1],
    )
