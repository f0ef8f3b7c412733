"""WARC (Web ARChive, ISO 28500) source/sink in pure stdlib — the
ingest format of web-crawl corpora (Common Crawl ships WARC), re-
implemented from the public spec; no warcio package (absent in this
environment, probed 2026-08-16).

Format (WARC/1.0): each record is a header block of CRLF-terminated
lines — ``WARC/1.0``, then ``Name: value`` fields — a blank CRLF line,
``Content-Length`` octets of content block, and a CRLF CRLF record
terminator.  Mandatory fields per spec: WARC-Record-ID, Content-Length,
WARC-Date, WARC-Type.  In the ``.warc.gz`` convention each record is
its OWN gzip member and members are concatenated, which is what makes
byte-range seeks into a crawl archive possible; the stdlib ``zlib``
inflates concatenated members one at a time (``gzip.decompress`` alone
stops after member boundaries only with re-feeding, so the reader
walks members explicitly).

The reader VERIFIES: the WARC/ version marker, presence of the four
mandatory fields, exact Content-Length framing, and the CRLFCRLF
record terminator — truncated or mis-framed archives raise instead of
resyncing silently (same verifying-parser contract as the Avro/
TFRecord/JPEG legs).

Spark-shaped like the other byte formats, through
:mod:`pyprima_spark.sources.files`: READ is distributed per FILE
(crawl archives are many files by construction — Common Crawl segments
are ~1 GB each); WRITE is one file from one task or one file per hash
shard, records sorted by record id for byte-identical reruns.

``split_http_response`` separates the HTTP header block from the body
of ``response`` records (WARC stores the raw HTTP exchange), the first
step of every crawl-to-text pipeline.

Reference parity: the reference (pyPRIMA) has no crawl-ingest surface;
this closes the web-corpus leg next to TFRecord (SURVEY §2 non-SQL
surfaces).
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

_MANDATORY = ("WARC-Record-ID", "Content-Length", "WARC-Date", "WARC-Type")


# --- record codec -------------------------------------------------------------


def encode_warc_record(headers: "dict[str, str]", content: bytes) -> bytes:
    """One uncompressed WARC/1.0 record. ``Content-Length`` is derived;
    the other three mandatory fields must be present."""
    for k in _MANDATORY:
        if k != "Content-Length" and k not in headers:
            raise ValueError(f"missing mandatory WARC field: {k}")
    out = bytearray(b"WARC/1.0\r\n")
    fields = dict(headers)
    fields["Content-Length"] = str(len(content))
    for k, v in fields.items():
        if "\r" in v or "\n" in v:
            raise ValueError(f"WARC field {k!r} value contains CR/LF")
        out += f"{k}: {v}\r\n".encode("utf-8")
    out += b"\r\n"
    out += content
    out += b"\r\n\r\n"
    return bytes(out)


def _parse_record(data: bytes, pos: int) -> "tuple[dict[str, str], bytes, int]":
    hdr_end = data.find(b"\r\n\r\n", pos)
    if hdr_end < 0:
        raise ValueError("truncated WARC header block")
    lines = data[pos:hdr_end].split(b"\r\n")
    if not lines or not lines[0].startswith(b"WARC/"):
        raise ValueError("missing WARC/ version marker")
    headers: dict[str, str] = {}
    last_key = None
    for ln in lines[1:]:
        if ln[:1] in (b" ", b"\t"):  # spec: folded continuation line
            if last_key is None:
                raise ValueError("WARC continuation line before any field")
            # header VALUES decode leniently: real crawls carry
            # Latin-1/raw bytes in URIs, and parsing is per-file — a
            # strict decode would make one bad header unreadable for
            # the whole archive (ADVICE r8). Content bytes stay exact.
            headers[last_key] += " " + ln.strip().decode(
                "utf-8", errors="replace"
            )
            continue
        name, sep, value = ln.partition(b":")
        if not sep:
            raise ValueError(f"malformed WARC header line: {ln[:40]!r}")
        last_key = name.strip().decode("utf-8", errors="replace")
        headers[last_key] = value.strip().decode("utf-8", errors="replace")
    for k in _MANDATORY:
        if k not in headers:
            raise ValueError(f"missing mandatory WARC field: {k}")
    length = int(headers["Content-Length"])
    body_start = hdr_end + 4
    body_end = body_start + length
    if body_end + 4 > len(data):
        raise ValueError("truncated WARC content block")
    if data[body_end : body_end + 4] != b"\r\n\r\n":
        raise ValueError("WARC record terminator missing (bad framing)")
    return headers, data[body_start:body_end], body_end + 4


def decode_warc_file(payload: bytes) -> "list[tuple[dict[str, str], bytes]]":
    """Parse a .warc or .warc.gz payload into (headers, content) pairs.

    Gzip inputs are walked one MEMBER at a time (the per-record-member
    convention); a member may still contain several records, so the
    inflated stream is parsed record-by-record either way.  Trailing
    bytes that are not a further record raise."""
    if payload[:2] == b"\x1f\x8b":
        chunks = []
        pos = 0
        while pos < len(payload):
            d = zlib.decompressobj(wbits=31)
            try:
                chunks.append(d.decompress(payload[pos:]))
                chunks.append(d.flush())
            except zlib.error as e:
                raise ValueError(
                    f"corrupt gzip member in WARC archive: {e}"
                ) from e
            consumed = len(payload) - pos - len(d.unused_data)
            if consumed <= 0:
                raise ValueError("corrupt gzip member in WARC archive")
            pos += consumed
        data = b"".join(chunks)
    else:
        data = payload
    out = []
    pos = 0
    while pos < len(data):
        headers, content, pos = _parse_record(data, pos)
        out.append((headers, content))
    return out


def split_http_response(content: bytes) -> "tuple[str, bytes]":
    """Split a WARC ``response`` record's content into (http_headers
    string, body bytes). WARC stores the raw HTTP exchange: headers up
    to the first blank line, body after."""
    sep = content.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("no HTTP header/body separator in response record")
    return content[:sep].decode("utf-8", errors="replace"), content[sep + 4 :]


# --- Spark legs -----------------------------------------------------------------

_READ_SCHEMA = (
    "record_id string, warc_type string, target_uri string, warc_date string,"
    " content_type string, content binary"
)
_COLUMNS = [
    "record_id",
    "warc_type",
    "target_uri",
    "warc_date",
    "content_type",
    "content",
]


def _records(payload: bytes):
    for headers, content in decode_warc_file(payload):
        yield {
            "record_id": headers["WARC-Record-ID"],
            "warc_type": headers["WARC-Type"],
            "target_uri": headers.get("WARC-Target-URI"),
            "warc_date": headers["WARC-Date"],
            "content_type": headers.get("Content-Type"),
            "content": content,
        }


def read_warc(
    spark: "SparkSession",
    path_glob: str,
    ext_filter: "str | None" = "*.warc*",
) -> "DataFrame":
    """Read WARC archives through :func:`files.read_files` (each
    archive parses verified on an executor). Returns (record_id,
    warc_type, target_uri, warc_date, content_type, content) — one row
    per record.  ``ext_filter`` as in read_avro: pass ``None`` to read
    every file the glob matches; non-WARC payloads then fail the
    version-marker check loudly."""
    from pyprima_spark.sources import files

    return files.read_files(spark, path_glob, ext_filter, _READ_SCHEMA, _records)


def _records_df(df: "DataFrame", sink: str) -> "DataFrame":
    missing = [c for c in _COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"{sink} needs columns {missing}")
    return df.select(*_COLUMNS)


def _encode_records(pdf, compress: bool) -> bytes:
    """Encode a (record_id, warc_type, target_uri, warc_date,
    content_type, content) pandas frame as WARC bytes, each record its
    own gzip member (mtime 0) when ``compress``. Shared by the
    single-file and sharded sinks."""
    blob = bytearray()
    for _, row in pdf.iterrows():
        headers = {
            "WARC-Record-ID": str(row["record_id"]),
            "WARC-Type": str(row["warc_type"]),
            "WARC-Date": str(row["warc_date"]),
        }
        if row["target_uri"] is not None:
            headers["WARC-Target-URI"] = str(row["target_uri"])
        if row["content_type"] is not None:
            headers["Content-Type"] = str(row["content_type"])
        rec = encode_warc_record(headers, bytes(row["content"]))
        if compress:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            blob += buf.getvalue()
        else:
            blob += rec
    return bytes(blob)


def write_warc_file(
    df: "DataFrame",
    path: str,
    compress: bool = True,
) -> "DataFrame":
    """Write ``df`` — columns (record_id, warc_type, target_uri,
    warc_date, content_type, content) — as ONE .warc(.gz) from a
    single executor task (:func:`files.write_single_file`; ``path`` may
    be a URI).  With ``compress`` each record becomes its own gzip
    member (mtime pinned to 0 so equal inputs are byte-identical).
    Records sort by record_id.  Returns a 1-row manifest (path,
    n_records, n_bytes)."""
    from pyprima_spark.sources import files

    def encode(pdf):
        payload = _encode_records(pdf, compress)
        return {path: payload}, [
            {"path": path, "n_records": len(pdf), "n_bytes": len(payload)}
        ]

    return files.write_single_file(
        _records_df(df, "write_warc_file"), encode,
        "path string, n_records long, n_bytes long", ["record_id"],
    )


def write_warc_shards(
    df: "DataFrame",
    out_dir: str,
    n_shards: int,
    compress: bool = True,
) -> "DataFrame":
    """Write ``df`` as ``n_shards`` WARC segment files through
    :func:`files.write_shards` — the DISTRIBUTED crawl layout (Common
    Crawl ships many ~1 GB segments; one file per task, no coalesce(1)
    bottleneck).

    Records hash-partition on record_id (data-derived, so file
    contents are byte-identical regardless of upstream partitioning)
    and sort within each segment.  Files are named
    ``seg-SSSSS-of-NNNNN.warc[.gz]`` under ``out_dir``; empty shards
    write zero-record files so the segment count is always exactly
    ``n_shards``.  Returns the per-segment manifest
    (shard, path, n_records, n_bytes)."""
    from pyprima_spark.sources import files, fsio

    ext = "warc.gz" if compress else "warc"

    def encode(shard, pdf):
        path = fsio.join(out_dir, f"seg-{shard:05d}-of-{n_shards:05d}.{ext}")
        payload = _encode_records(pdf, compress)
        return {path: payload}, [
            {
                "shard": shard,
                "path": path,
                "n_records": len(pdf),
                "n_bytes": len(payload),
            }
        ]

    manifest = files.write_shards(
        _records_df(df, "write_warc_shards"), n_shards, ["record_id"], encode,
        "shard long, path string, n_records long, n_bytes long", ["record_id"],
    )
    fsio.makedirs(out_dir)
    return manifest
