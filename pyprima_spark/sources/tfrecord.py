"""TFRecord source/sink in pure stdlib — no tensorflow, no crc32c
package, no protobuf runtime (all absent in this environment, probed
2026-08-16).

Both layers are public specs, re-implemented from them:

- TFRecord framing (TensorFlow's record container): each record is
  ``u64-LE length, u32-LE masked CRC-32C of those 8 length bytes,
  payload, u32-LE masked CRC-32C of the payload``.  CRC-32C is the
  Castagnoli polynomial (reflected form 0x82F63B78, init/xorout
  0xFFFFFFFF); the mask is ``((crc >> 15) | (crc << 17)) + 0xa282ead8``
  mod 2^32.
- ``tf.train.Example`` is a protobuf message (example.proto /
  feature.proto): ``Example{1: Features}``, ``Features{1: map<string,
  Feature>}`` (a protobuf map = repeated entry message with ``1: key,
  2: value``), ``Feature`` a oneof of ``1: BytesList / 2: FloatList /
  3: Int64List``, each list ``{1: repeated value}`` with float/int64
  packed by default.  The decoder accepts BOTH packed and unpacked
  repeated encodings, as the protobuf spec requires of every parser;
  it REFUSES (ValueError) fields outside this subset rather than
  skipping them — same verifying-decoder contract as the JPEG/Avro
  legs (operators/jpeg.py, sources/avro_ocf.py).

Spark-shaped like every byte format, through
:mod:`pyprima_spark.sources.files`:

- READ is distributed per FILE.  Record-level splitting WITHIN one
  file is not attempted — TFRecord shards are many files by
  construction (``name-00017-of-00256``), which is also the 100 TB
  layout.
- WRITE is one file from one task (:func:`write_tfrecord_file`) or one
  file per hash shard (:func:`write_tfrecord_shards`), to paths or
  URIs.  Feature names are encoded sorted, so equal inputs produce
  byte-identical files.

The reader VERIFIES both CRCs of every record and trailing-byte
exhaustion — truncated, bit-flipped or spliced files raise instead of
decoding wrong.  FloatList is IEEE float32 BY SPEC: doubles round-trip
at f32 precision (documented on :func:`write_tfrecord_file`).

Reference parity: the reference (pyPRIMA) has no TFRecord surface;
this closes the training-data interchange gap next to the Avro leg
(SURVEY §2 non-SQL surfaces).
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

# --- CRC-32C (Castagnoli, reflected) -----------------------------------------

_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = _CRC32C_TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | ((c << 17) & 0xFFFFFFFF)) + 0xA282EAD8) & 0xFFFFFFFF


# --- record framing -----------------------------------------------------------


def encode_tfrecord_file(payloads: "list[bytes]") -> bytes:
    out = bytearray()
    for p in payloads:
        header = struct.pack("<Q", len(p))
        out += header
        out += struct.pack("<I", _masked_crc(header))
        out += p
        out += struct.pack("<I", _masked_crc(p))
    return bytes(out)


def decode_tfrecord_file(data: bytes) -> "list[bytes]":
    """Split a TFRecord file into its raw record payloads, verifying
    both masked CRCs of every record and that the file ends exactly on
    a record boundary."""
    out: list[bytes] = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 12 > n:
            raise ValueError("truncated TFRecord header")
        header = data[pos : pos + 8]
        (length,) = struct.unpack("<Q", header)
        (hcrc,) = struct.unpack("<I", data[pos + 8 : pos + 12])
        if hcrc != _masked_crc(header):
            raise ValueError("TFRecord length CRC mismatch")
        pos += 12
        if pos + length + 4 > n:
            raise ValueError("truncated TFRecord payload")
        payload = data[pos : pos + length]
        (pcrc,) = struct.unpack("<I", data[pos + length : pos + length + 4])
        if pcrc != _masked_crc(payload):
            raise ValueError("TFRecord payload CRC mismatch")
        out.append(payload)
        pos += length + 4
    return out


# --- protobuf wire primitives --------------------------------------------------

_KINDS = ("bytes", "float", "int64")
_KIND_FIELD = {"bytes": 1, "float": 2, "int64": 3}
_FIELD_KIND = {v: k for k, v in _KIND_FIELD.items()}


def _w_varint(out: bytearray, n: int) -> None:
    if n < 0:
        n += 1 << 64  # int64 negatives: 10-byte two's-complement varint
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _w_tag(out: bytearray, field: int, wire: int) -> None:
    _w_varint(out, (field << 3) | wire)


def _w_bytes_field(out: bytearray, field: int, payload: bytes) -> None:
    _w_tag(out, field, 2)
    _w_varint(out, len(payload))
    out += payload


class _PbReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def done(self) -> bool:
        return self.pos >= len(self.data)

    def varint(self) -> int:
        acc = 0
        shift = 0
        while True:
            if self.pos >= len(self.data):
                raise ValueError("truncated varint in Example payload")
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise ValueError("malformed varint in Example payload")
        # a 10-byte varint's final byte carries bits past 63: protobuf
        # semantics truncate to the low 64 bits (so FF*9,7F == -1),
        # never yield an out-of-int64 integer
        return acc & 0xFFFFFFFFFFFFFFFF

    def tag(self) -> "tuple[int, int]":
        t = self.varint()
        return t >> 3, t & 7

    def chunk(self) -> bytes:
        ln = self.varint()
        if self.pos + ln > len(self.data):
            raise ValueError("truncated length-delimited field in Example")
        out = self.data[self.pos : self.pos + ln]
        self.pos += ln
        return out

    def fixed32(self) -> bytes:
        if self.pos + 4 > len(self.data):
            raise ValueError("truncated fixed32 in Example payload")
        out = self.data[self.pos : self.pos + 4]
        self.pos += 4
        return out


def _to_i64(n: int) -> int:
    return n - (1 << 64) if n >= 1 << 63 else n


def _pack_f32(v: float) -> bytes:
    """Pack as IEEE float32; out-of-f32-range magnitudes become ±inf
    (the float32 cast the docstrings promise) instead of crashing the
    write task with OverflowError."""
    import math

    try:
        return struct.pack("<f", v)
    except OverflowError:
        return struct.pack("<f", math.copysign(math.inf, v))


# --- tf.train.Example ----------------------------------------------------------


def encode_example(features: "dict[str, tuple[str, list]]") -> bytes:
    """Encode ``{name: (kind, values)}`` — kind one of ``bytes`` /
    ``float`` / ``int64`` — as a tf.train.Example message.  Features
    encode sorted by name (determinism); float values encode as IEEE
    float32, int64 as (possibly 10-byte) varints, both packed."""
    feats = bytearray()
    for name, (kind, values) in sorted(features.items()):
        if kind not in _KINDS:
            raise ValueError(f"unsupported feature kind: {kind!r}")
        lst = bytearray()  # BytesList / FloatList / Int64List message
        if kind == "bytes":
            for v in values:
                _w_bytes_field(lst, 1, bytes(v))
        elif kind == "float":
            if values:
                _w_bytes_field(
                    lst, 1, b"".join(_pack_f32(v) for v in values)
                )
        else:
            if values:
                packed = bytearray()
                for v in values:
                    _w_varint(packed, int(v))
                _w_bytes_field(lst, 1, bytes(packed))
        feature = bytearray()
        _w_bytes_field(feature, _KIND_FIELD[kind], bytes(lst))
        entry = bytearray()  # map<string, Feature> entry
        _w_bytes_field(entry, 1, name.encode("utf-8"))
        _w_bytes_field(entry, 2, bytes(feature))
        _w_bytes_field(feats, 1, bytes(entry))
    out = bytearray()
    _w_bytes_field(out, 1, bytes(feats))  # Example{1: Features}
    return bytes(out)


def _decode_list(kind: str, buf: bytes) -> list:
    r = _PbReader(buf)
    values: list = []
    while not r.done():
        field, wire = r.tag()
        if field != 1:
            raise ValueError(f"unexpected field {field} in {kind} list")
        if kind == "bytes":
            if wire != 2:
                raise ValueError("BytesList value must be length-delimited")
            values.append(r.chunk())
        elif kind == "float":
            if wire == 2:  # packed
                chunk = r.chunk()
                if len(chunk) % 4:
                    raise ValueError("packed FloatList not a multiple of 4")
                values.extend(
                    struct.unpack(f"<{len(chunk) // 4}f", chunk)
                )
            elif wire == 5:  # unpacked
                values.append(struct.unpack("<f", r.fixed32())[0])
            else:
                raise ValueError("FloatList value has wrong wire type")
        else:
            if wire == 2:  # packed
                pr = _PbReader(r.chunk())
                while not pr.done():
                    values.append(_to_i64(pr.varint()))
            elif wire == 0:  # unpacked
                values.append(_to_i64(r.varint()))
            else:
                raise ValueError("Int64List value has wrong wire type")
    return values


def _decode_feature(buf: bytes) -> "tuple[str, list]":
    r = _PbReader(buf)
    kind = None
    values: list = []
    while not r.done():
        field, wire = r.tag()
        if field not in _FIELD_KIND or wire != 2:
            raise ValueError(f"field {field} outside the Feature subset")
        new_kind = _FIELD_KIND[field]
        chunk_values = _decode_list(new_kind, r.chunk())
        if new_kind == kind:
            # repeated occurrences of the SAME embedded message field
            # MERGE per the protobuf spec (lists concatenate)
            values.extend(chunk_values)
        else:
            # a different oneof member clears the previous one
            kind = new_kind
            values = chunk_values
    if kind is None:  # empty Feature message: no kind set
        return "bytes", []
    return kind, values


def decode_example(payload: bytes) -> "dict[str, tuple[str, list]]":
    """Parse a tf.train.Example into ``{name: (kind, values)}``.
    Raises ValueError on anything outside the Example/Features/Feature
    subset, on truncation, and on malformed varints."""
    r = _PbReader(payload)
    features: dict[str, tuple[str, list]] = {}
    while not r.done():
        field, wire = r.tag()
        if field != 1 or wire != 2:
            raise ValueError(f"field {field} outside the Example subset")
        fr = _PbReader(r.chunk())
        while not fr.done():
            efield, ewire = fr.tag()
            if efield != 1 or ewire != 2:
                raise ValueError(
                    f"field {efield} outside the Features subset"
                )
            er = _PbReader(fr.chunk())
            name = None
            feat_bytes = bytearray()
            while not er.done():
                mfield, mwire = er.tag()
                if mwire != 2 or mfield not in (1, 2):
                    raise ValueError(
                        f"field {mfield} outside the map-entry subset"
                    )
                if mfield == 1:
                    name = er.chunk().decode("utf-8")
                else:
                    # repeated embedded-message occurrences MERGE: a
                    # protobuf merge of two serializations is their
                    # concatenation, so accumulate and parse once
                    feat_bytes += er.chunk()
            if name is None:
                raise ValueError("Features map entry without a key")
            features[name] = _decode_feature(bytes(feat_bytes))
    return features


# --- Spark sink -----------------------------------------------------------------


def _feature_frame(df: "DataFrame"):
    """Map ``df``'s columns to Example features. Returns the frame to
    write — booleans cast to bigint, since an Int64List holds them as
    0/1 — and column -> (feature kind, is_list). Raises on types with no
    Example representation."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DoubleType,
        FloatType,
        IntegralType,
        StringType,
    )

    def kind_of(dt) -> str:
        if isinstance(dt, (IntegralType, BooleanType)):
            return "int64"
        if isinstance(dt, (FloatType, DoubleType)):
            return "float"
        if isinstance(dt, (StringType, BinaryType)):
            return "bytes"
        raise ValueError(f"unsupported TFRecord feature type: {dt.simpleString()}")

    plan: dict[str, tuple[str, bool]] = {}
    cols = []
    for f in df.schema.fields:
        is_list = isinstance(f.dataType, ArrayType)
        dt = f.dataType.elementType if is_list else f.dataType
        plan[f.name] = (kind_of(dt), is_list)
        col = F.col(f.name)
        if isinstance(dt, BooleanType):
            col = col.cast("array<bigint>" if is_list else "bigint").alias(f.name)
        cols.append(col)
    return df.select(*cols), plan


def _feature_values(name: str, kind: str, is_list: bool, v):
    """One cell -> the Example value list (None = omit the feature).
    Null ELEMENTS inside an array refuse loudly with the column name —
    tf.train lists have no null slot."""
    import pandas as pd

    if v is None or v is pd.NA or (not is_list and pd.isna(v)):
        return None
    vals = list(v) if is_list else [v]
    if any(x is None or x is pd.NA for x in vals):
        raise ValueError(
            f"null element inside array feature {name!r}: tf.train "
            "lists cannot hold nulls (drop or impute before writing)"
        )
    if kind == "int64":
        return [int(x) for x in vals]
    if kind == "float":
        return [float(x) for x in vals]
    return [
        x.encode("utf-8") if isinstance(x, str) else bytes(x) for x in vals
    ]


def _encode_examples(pdf, plan) -> "tuple[bytes, int]":
    """Encode each row of a pandas frame as a tf.train.Example; returns
    the TFRecord file bytes and the record count (shared by both
    sinks)."""
    cols = list(pdf.columns)
    payloads = []
    for vals in zip(*[pdf[c] for c in cols]):
        feats = {}
        for c, v in zip(cols, vals):
            kind, is_list = plan[c]
            values = _feature_values(c, kind, is_list, v)
            if values is not None:
                feats[c] = (kind, values)
        payloads.append(encode_example(feats))
    return encode_tfrecord_file(payloads), len(payloads)


def write_tfrecord_file(
    df: "DataFrame",
    path: str,
    order_by: "list[str] | None" = None,
) -> "DataFrame":
    """Write ``df`` as ONE TFRecord file of tf.train.Example records
    (:func:`files.write_single_file`; ``path`` may be a URI), rows
    sorted by ``order_by`` (default: all columns).  Returns a 1-row
    manifest (path, n_rows, n_bytes).

    Column mapping: integral/boolean → Int64List, float/double →
    FloatList (IEEE float32 BY SPEC — doubles round-trip at f32
    precision), string (utf-8) and binary → BytesList; array<T> of
    those element types → the multi-valued list.  NULL scalars and
    NULL arrays OMIT the feature for that row (the tf.train absent-
    feature convention); the reader returns them as null.  Scalar
    float NaN is CONFLATED with null (both arrive as NaN through
    Arrow — same documented limit as the Avro sink)."""
    from pyprima_spark.sources import files

    frame, plan = _feature_frame(df)

    def encode(pdf):
        payload, n = _encode_examples(pdf, plan)
        return {path: payload}, [{"path": path, "n_rows": n, "n_bytes": len(payload)}]

    return files.write_single_file(
        frame, encode, "path string, n_rows long, n_bytes long",
        order_by or list(df.columns),
    )


def write_tfrecord_shards(
    df: "DataFrame",
    out_dir: str,
    n_shards: int,
    shard_by: "list[str] | None" = None,
    order_by: "list[str] | None" = None,
) -> "DataFrame":
    """Write ``df`` as ``n_shards`` TFRecord files through
    :func:`files.write_shards` — the DISTRIBUTED write path (one file
    per task, no coalesce(1) bottleneck): this is the layout a 100 TB
    export actually has, and the one :func:`read_tfrecord`
    parallelizes over on the way back.

    Rows hash-partition on ``shard_by`` (default: all columns) and sort
    by ``order_by`` (default: ``shard_by``) WITHIN each shard, so equal
    inputs produce byte-identical shard files regardless of upstream
    partitioning.  Files are named ``part-SSSSS-of-NNNNN.tfrecord``
    under ``out_dir`` (a path or URI; parents created via fsio).
    Returns the per-shard manifest (shard, path, n_rows, n_bytes) — one
    row per shard, including empty shards (written as zero-record files
    so the shard count is always exactly ``n_shards``)."""
    from pyprima_spark.sources import files, fsio

    frame, plan = _feature_frame(df)
    shard_cols = shard_by or list(df.columns)

    def encode(shard, pdf):
        path = fsio.join(out_dir, f"part-{shard:05d}-of-{n_shards:05d}.tfrecord")
        payload, n = _encode_examples(pdf, plan)
        return {path: payload}, [
            {"shard": shard, "path": path, "n_rows": n, "n_bytes": len(payload)}
        ]

    manifest = files.write_shards(
        frame, n_shards, shard_cols, encode,
        "shard long, path string, n_rows long, n_bytes long",
        order_by or shard_cols,
    )
    fsio.makedirs(out_dir)
    return manifest


# --- Spark source ----------------------------------------------------------------


def _convert_scalar(field_name: str, dt, kind: str, v):
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DoubleType,
        FloatType,
        IntegralType,
        StringType,
    )

    if isinstance(dt, (IntegralType, BooleanType)):
        if kind != "int64":
            raise ValueError(
                f"feature {field_name!r} is {kind}, requested integer"
            )
        return bool(v) if isinstance(dt, BooleanType) else int(v)
    if isinstance(dt, (FloatType, DoubleType)):
        if kind != "float":
            raise ValueError(
                f"feature {field_name!r} is {kind}, requested float"
            )
        return float(v)
    if isinstance(dt, StringType):
        if kind != "bytes":
            raise ValueError(
                f"feature {field_name!r} is {kind}, requested string"
            )
        return bytes(v).decode("utf-8")
    if isinstance(dt, BinaryType):
        if kind != "bytes":
            raise ValueError(
                f"feature {field_name!r} is {kind}, requested binary"
            )
        return bytes(v)
    raise ValueError(f"unsupported read type: {dt.simpleString()}")


def _convert_feature(field_name: str, dt, feat: "tuple[str, list] | None"):
    """Map a decoded (kind, values) feature to the requested Spark
    type: scalar fields take the first value (null when absent/empty),
    array fields the whole list; kind mismatches raise."""
    from pyspark.sql.types import ArrayType

    if isinstance(dt, ArrayType):
        if feat is None:
            return None
        kind, values = feat
        elem = dt.elementType
        return [_convert_scalar(field_name, elem, kind, v) for v in values]
    if feat is None or not feat[1]:
        return None
    kind, values = feat
    return _convert_scalar(field_name, dt, kind, values[0])


def read_tfrecord(
    spark: "SparkSession",
    path_glob: str,
    schema: str,
    ext_filter: "str | None" = "*.tfrecord",
) -> "DataFrame":
    """Read TFRecord files of tf.train.Example records through
    :func:`files.read_files`: each file parses CRC-verified on an
    executor, and features map to the requested Spark ``schema`` DDL
    by NAME.

    Scalar fields take the feature's first value (null when the
    feature is absent or empty); array fields take the whole list.
    A feature whose stored kind contradicts the requested column type
    raises (verifying-reader contract) rather than coercing silently.
    ``ext_filter`` mirrors read_avro: pass ``None`` to read every file
    the glob matches — non-TFRecord payloads then fail the CRC check
    loudly instead of being silently dropped."""
    from pyspark.sql.types import StructType

    from pyprima_spark.sources import files

    fields = StructType.fromDDL(schema).fields

    def decode(payload):
        for rec in decode_tfrecord_file(payload):
            feats = decode_example(rec)
            yield {
                f.name: _convert_feature(f.name, f.dataType, feats.get(f.name))
                for f in fields
            }

    return files.read_files(spark, path_glob, ext_filter, schema, decode)
