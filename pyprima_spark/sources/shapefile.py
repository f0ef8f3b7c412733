"""Minimal ESRI point-shapefile sink in pure stdlib — no GDAL/pyshp.

Reference parity: pyPRIMA exports renewable-plant locations as point
shapefiles (spatial_functions.py:347
create_shapefiles_of_ren_power_plants). The ESRI shapefile spec is
public and the point subset needs only ``struct``: the .shp geometry
file, its .shx index, and a dBase III .dbf attribute table. Same
"real format via stdlib" path as WAV/PNG/GeoTIFF.

Scale/shape contract: a shapefile is inherently ONE file (the format
has a 2 GB limit and no parallel layout), so it is written by
:func:`pyprima_spark.sources.files.write_single_file` — one task writes
the three files from the executor, the driver never touches feature
data, and anything bigger than one file belongs in parquet or tiled
GeoTIFF instead (write_raster_tiles). Point sets that warrant a
shapefile are dim-sized (plant fleets, sites), so one task is the
right plan, not a compromise.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

_SHAPE_POINT = 1


def _main_header(n_words: int, bbox: tuple[float, float, float, float]) -> bytes:
    """100-byte .shp/.shx header; lengths are in 16-bit words."""
    return (
        struct.pack(">i", 9994)
        + b"\x00" * 20
        + struct.pack(">i", n_words)
        + struct.pack("<ii", 1000, _SHAPE_POINT)
        + struct.pack("<4d", *bbox)
        + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
    )


def encode_point_shapefile(points, names, values):
    """Encode parallel sequences of (x, y), name strings, and numeric
    values into (.shp bytes, .shx bytes, .dbf bytes)."""
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    # an empty point set has no extent: the spec's all-zero bbox
    bbox = (min(xs), min(ys), max(xs), max(ys)) if points else (0.0,) * 4

    shp_records = b""
    shx_records = b""
    offset_words = 50  # header = 100 bytes
    for i, (x, y) in enumerate(points):
        content = struct.pack("<i2d", _SHAPE_POINT, x, y)
        shp_records += struct.pack(">ii", i + 1, len(content) // 2) + content
        shx_records += struct.pack(">ii", offset_words, len(content) // 2)
        offset_words += 4 + len(content) // 2
    shp = _main_header(offset_words, bbox) + shp_records
    shx = _main_header(50 + 4 * len(points), bbox) + shx_records

    # dBase III: NAME C(16), VALUE N(18,3)
    fields = [(b"NAME", b"C", 16, 0), (b"VALUE", b"N", 18, 3)]
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    dbf = struct.pack(
        "<B3BIHH", 0x03, 26, 8, 14, len(points), hdr_size, rec_size
    ) + b"\x00" * 20
    for fname, ftype, flen, fdec in fields:
        dbf += (
            fname.ljust(11, b"\x00")
            + ftype
            + b"\x00" * 4
            + struct.pack("<BB", flen, fdec)
            + b"\x00" * 14
        )
    dbf += b"\x0d"
    for name, val in zip(names, values):
        dbf += (
            b" "
            + str(name)[:16].ljust(16).encode("ascii", "replace")
            + f"{float(val):18.3f}".encode("ascii")
        )
    dbf += b"\x1a"
    return shp, shx, dbf


def decode_point_shapefile(shp: bytes, dbf: bytes):
    """Verifying parser for the point subset: returns (points, names,
    values). Raises on non-point shapes."""
    (code,) = struct.unpack_from(">i", shp, 0)
    if code != 9994:
        raise ValueError("not a shapefile")
    (shape_type,) = struct.unpack_from("<i", shp, 32)
    if shape_type != _SHAPE_POINT:
        raise ValueError("only point shapefiles supported")
    points = []
    pos = 100
    while pos < len(shp):
        _, clen = struct.unpack_from(">ii", shp, pos)
        st, x, y = struct.unpack_from("<i2d", shp, pos + 8)
        if st != _SHAPE_POINT:
            raise ValueError("non-point record")
        points.append((x, y))
        pos += 8 + clen * 2

    n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", dbf, 4)
    names, values = [], []
    for i in range(n_rec):
        rec = dbf[hdr_size + i * rec_size : hdr_size + (i + 1) * rec_size]
        names.append(rec[1:17].decode("ascii").rstrip())
        values.append(float(rec[17:35]))
    return points, names, values


def write_point_shapefile(
    df: "DataFrame",
    out_base: str,
    x_col: str = "x",
    y_col: str = "y",
    name_col: str = "name",
    value_col: str = "value",
) -> "DataFrame":
    """Write `df` as `<out_base>.shp/.shx/.dbf` from ONE executor task
    through :func:`files.write_single_file` (the driver never holds the
    rows; ``out_base`` may be a path or URI). Rows are sorted by
    (name, x, y), nulls first, for a deterministic record order; an
    empty frame writes a 0-record shapefile. Returns a 1-row
    manifest."""
    import hashlib

    from pyspark.sql import functions as F

    from pyprima_spark.sources import files

    def encode(rows):
        rows = rows.sort_values(["name", "x", "y"], na_position="first")
        shp, shx, dbf = encode_point_shapefile(
            list(zip(rows["x"], rows["y"])),
            list(rows["name"]),
            list(rows["value"]),
        )
        written = {
            out_base + ".shp": shp,
            out_base + ".shx": shx,
            out_base + ".dbf": dbf,
        }
        return written, [
            {
                "n_features": len(rows),
                "shp_bytes": len(shp),
                "dbf_bytes": len(dbf),
                "shp_md5": hashlib.md5(shp).hexdigest(),
            }
        ]

    points = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.col(name_col).cast("string").alias("name"),
        F.col(value_col).cast("double").alias("value"),
    )
    return files.write_single_file(
        points,
        encode,
        "n_features long, shp_bytes long, dbf_bytes long, shp_md5 string",
    )


def read_point_shapefile(spark, base: str) -> "DataFrame":
    """Ingest a point shapefile as a DataFrame: the .shp and .dbf land
    through the binaryFile source and are parsed by the verifying
    decoder inside mapInPandas (single file → single task, like the
    write side; the driver only sees the resulting rows as a normal
    DataFrame). Reference parity: pyPRIMA reads region/plant
    shapefiles via geopandas/ogr at every pipeline entry."""
    import pandas as pd
    from pyspark.sql import functions as F

    raw = (
        spark.read.format("binaryFile")
        .load([base + ".shp", base + ".dbf"])
        .select("path", "content")
    )

    def parse(it):
        parts: dict[str, bytes] = {}
        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                parts[path.rsplit(".", 1)[-1]] = bytes(content)
        pts, names, vals = decode_point_shapefile(
            parts["shp"], parts["dbf"]
        )
        yield pd.DataFrame(
            {
                "x": [p[0] for p in pts],
                "y": [p[1] for p in pts],
                "name": names,
                "value": vals,
            }
        )

    return raw.coalesce(1).mapInPandas(
        parse, "x double, y double, name string, value double"
    )
