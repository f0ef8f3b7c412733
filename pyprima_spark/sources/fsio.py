"""Executor-safe filesystem routing for the byte-format files.

The byte formats (GeoTIFF tiles, shapefile, xlsx, Avro, TFRecord, WARC,
fixed-width) write from whichever executor holds the rows. A builtin
``open()`` there is correct in local[k] (driver and executors share a
disk) but broken on a real multi-node cluster, where an executor-local
``/tmp`` path is invisible to every other node and to the manifest's
consumers. Their one writer, :mod:`pyprima_spark.sources.files`, hands
every encoded payload to :func:`write_bytes` (the only caller); the
ZIP export streams through :func:`open_output`.

This module routes those payloads through **PyArrow's FileSystem API**
(``pyarrow.fs``), which is

* executor-safe: pure C++/Python, no py4j gateway needed inside a
  Pandas UDF (the JVM-side Hadoop FS handle is driver-only, so the
  classic ``spark._jvm.FileSystem`` route cannot run where the bytes
  are);
* URI-routed: ``file://`` → LocalFileSystem, ``hdfs://`` → HadoopFS
  (via libhdfs when present), ``s3://`` → S3FS (when pyarrow is built
  with it); a bare path stays on the local filesystem, preserving the
  old behaviour for local/shared mounts;
* the same layer Spark's own Arrow-based readers use, so the writers
  inherit whatever object-store support the deployment's pyarrow
  carries without this repo naming any vendor.

Scale shape: every helper moves ONE already-encoded payload (a tile, a
workbook, an archive) — bounded, format-sized objects. Corpus-scale
data never rides this path; it belongs in parquet via the native
writers.

Reference parity: pyPRIMA writes the same artifacts with plain local
paths from a single process (spatial_functions.py:190 array2raster,
config.py:778 workbook paths); the URI routing is the multi-node
generalisation.
"""

from __future__ import annotations

import re

_URI_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def _resolve(path: str):
    """Return (filesystem, fs-internal path) for a path or URI."""
    import pyarrow.fs as pafs

    if _URI_RE.match(path):
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join would not mangle a file://
    base today, but keep scheme handling in one place)."""
    out = base.rstrip("/")
    for part in parts:
        out += "/" + part.strip("/")
    return out


def makedirs(path: str) -> None:
    fs, p = _resolve(path)
    fs.create_dir(p, recursive=True)


def write_bytes(path: str, payload: bytes) -> None:
    """Write one encoded payload to a path or URI (overwrite).

    ``compression=None`` is load-bearing: pyarrow's default
    ``'detect'`` would transparently RE-compress payloads written to
    ``.gz``/``.bz2`` paths — the format writers hand fsio fully
    encoded bytes (a ``.warc.gz`` already contains its gzip members),
    so a detect layer double-compresses and every non-fsio reader
    (Spark binaryFile, gzip CLI) sees garbage."""
    fs, p = _resolve(path)
    with fs.open_output_stream(p, compression=None) as fh:
        fh.write(payload)


def open_output(path: str):
    """Open a writable (non-seekable) stream to a path or URI — for
    format writers that can stream incrementally (ZIP with data
    descriptors) instead of buffering the whole artifact in memory.
    ``compression=None`` as in :func:`write_bytes`."""
    fs, p = _resolve(path)
    return fs.open_output_stream(p, compression=None)


def remove_dir(path: str) -> None:
    """Delete a directory and everything under it."""
    fs, p = _resolve(path)
    fs.delete_dir(p)


def read_bytes(path: str) -> bytes:
    """Read raw bytes (``compression=None``: never transparently
    inflate — the verifying format parsers own decompression)."""
    fs, p = _resolve(path)
    with fs.open_input_stream(p, compression=None) as fh:
        return fh.read()


def scratch_dir(spark, prefix: str) -> str:
    """A scratch directory every executor can reach.

    Honours ``spark.pyprima.scratchDir`` (a path or URI — on a real
    cluster point it at a shared/HDFS/object-store location); falls
    back to a driver-local ``tempfile.mkdtemp``, which is correct in
    local[k] where driver and executors share a disk (the tested env).
    The returned directory is created and unique per call."""
    import tempfile
    import uuid

    base = None
    try:
        base = spark.conf.get("spark.pyprima.scratchDir", None)
    except Exception:
        base = None
    if not base:
        return tempfile.mkdtemp(prefix=prefix)
    out = join(base, f"{prefix}{uuid.uuid4().hex}")
    makedirs(out)
    return out
