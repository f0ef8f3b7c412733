"""Minimal GeoTIFF sink/source in pure stdlib — no GDAL.

Reference parity: pyPRIMA writes its rasters as GeoTIFF
(spatial_functions.py:190 array2raster, :118 calc_geotiff). GDAL is
absent in this container and pip installs are disallowed, so earlier
rounds recorded the FORMAT as environment-blocked while covering the
semantics as tagged long tables (region_mask_raster,
model_export_bundle). The TIFF 6.0 + GeoTIFF specs are public and the
subset a raster export needs — single-band float32/uint8, one strip,
uncompressed, WGS84 grid registration — packs with ``struct`` exactly
like the WAV (round 4) and PNG (round 5) real paths. This module
closes that gap: spec-valid GeoTIFF bytes, a verifying parser, and a
DISTRIBUTED tile writer.

Scale design: a 100 TB raster is never one file — production rasters
are tiled, and each tile is written BY THE EXECUTOR holding its rows
(`write_raster_tiles`: one group per tile through
:func:`pyprima_spark.sources.files.write_groups`, only (tile id, path,
bytes, checksum) rows come back). No driver-side raster array, no
collect; the tile grid is the partitioning.

Encoded layout (little-endian): header | pixel strip | ModelPixelScale
| ModelTiepoint | GeoKeyDirectory | IFD. GeoKeys: GTModelType=2
(geographic), GTRasterType=1 (PixelIsArea), GeographicType=4326.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    from pyspark.sql import DataFrame

_II = b"II*\x00"  # little-endian TIFF magic

# (tag, type, count) constants — type 3=SHORT, 4=LONG, 12=DOUBLE
_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMP, _T_PHOTO = 258, 259, 262
_T_STRIP_OFF, _T_SPP, _T_ROWS, _T_STRIP_CNT = 273, 277, 278, 279
_T_SAMPLE_FMT = 339
_T_PIXEL_SCALE, _T_TIEPOINT, _T_GEOKEYS = 33550, 33922, 34735


def encode_geotiff_gray(
    arr: "np.ndarray",
    west: float,
    north: float,
    pixel_size: float,
) -> bytes:
    """Encode an (h, w) float32 or uint8 array as a single-strip
    GeoTIFF anchored at (west, north) with square pixels (degrees,
    EPSG:4326 via GeoKeys)."""
    import numpy as np

    if arr.dtype == np.uint8:
        bits, fmt = 8, 1  # unsigned int
    else:
        arr = arr.astype("<f4")
        bits, fmt = 32, 3  # IEEE float
    h, w = arr.shape
    pixels = arr.tobytes()

    header_len = 8
    strip_off = header_len
    scale_off = strip_off + len(pixels)
    tie_off = scale_off + 24
    keys_off = tie_off + 48
    ifd_off = keys_off + 32  # GeoKeyDirectory: 16 SHORTs

    scale = struct.pack("<3d", pixel_size, pixel_size, 0.0)
    tie = struct.pack("<6d", 0.0, 0.0, 0.0, west, north, 0.0)
    # GeoKeyDirectory: version 1.1.0, 3 keys, each (id, loc, count, val)
    keys = struct.pack(
        "<16H",
        1, 1, 0, 3,          # version, rev, minor, n_keys
        1024, 0, 1, 2,       # GTModelTypeGeoKey = geographic
        1025, 0, 1, 1,       # GTRasterTypeGeoKey = PixelIsArea
        2048, 0, 1, 4326,    # GeographicTypeGeoKey = WGS84
    )

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(_T_WIDTH, 4, 1, w),
        entry(_T_HEIGHT, 4, 1, h),
        entry(_T_BITS, 3, 1, bits),
        entry(_T_COMP, 3, 1, 1),
        entry(_T_PHOTO, 3, 1, 1),
        entry(_T_STRIP_OFF, 4, 1, strip_off),
        entry(_T_SPP, 3, 1, 1),
        entry(_T_ROWS, 4, 1, h),
        entry(_T_STRIP_CNT, 4, 1, len(pixels)),
        entry(_T_SAMPLE_FMT, 3, 1, fmt),
        entry(_T_PIXEL_SCALE, 12, 3, scale_off),
        entry(_T_TIEPOINT, 12, 6, tie_off),
        entry(_T_GEOKEYS, 3, 16, keys_off),
    ]
    ifd = (
        struct.pack("<H", len(entries))
        + b"".join(entries)
        + struct.pack("<I", 0)
    )
    return (
        _II
        + struct.pack("<I", ifd_off)
        + pixels
        + scale
        + tie
        + keys
        + ifd
    )


def decode_geotiff_gray(payload: bytes):
    """Parse a GeoTIFF written by :func:`encode_geotiff_gray` (or any
    single-strip uncompressed grayscale little-endian TIFF). Returns
    (array, west, north, pixel_size). Raises on unsupported layouts
    rather than decoding wrong."""
    import numpy as np

    if payload[:4] != _II:
        raise ValueError("not a little-endian TIFF")
    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    (n,) = struct.unpack_from("<H", payload, ifd_off)
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n):
        tag, typ, cnt, val = struct.unpack_from(
            "<HHII", payload, ifd_off + 2 + 12 * i
        )
        tags[tag] = (typ, cnt, val)
    w = tags[_T_WIDTH][2]
    h = tags[_T_HEIGHT][2]
    bits = tags[_T_BITS][2]
    if tags[_T_COMP][2] != 1:
        raise ValueError("compressed TIFF not supported")
    fmt = tags.get(_T_SAMPLE_FMT, (3, 1, 1))[2]
    off = tags[_T_STRIP_OFF][2]
    cnt = tags[_T_STRIP_CNT][2]
    if (bits, fmt) == (32, 3):
        arr = np.frombuffer(payload, "<f4", count=w * h, offset=off)
    elif (bits, fmt) == (8, 1):
        arr = np.frombuffer(payload, "u1", count=w * h, offset=off)
    else:
        raise ValueError(f"unsupported sample layout bits={bits} fmt={fmt}")
    assert cnt == w * h * (bits // 8)
    scale = struct.unpack_from("<3d", payload, tags[_T_PIXEL_SCALE][2])
    tie = struct.unpack_from("<6d", payload, tags[_T_TIEPOINT][2])
    kt, kc, koff = tags[_T_GEOKEYS]
    keys = struct.unpack_from(f"<{kc}H", payload, koff)
    geo = {keys[4 + 4 * i]: keys[7 + 4 * i] for i in range(keys[3])}
    if geo.get(2048) != 4326:
        raise ValueError("expected EPSG:4326 GeoKey")
    return arr.reshape(h, w).copy(), tie[3], tie[4], scale[0]


def write_raster_tiles(
    raster: "DataFrame",
    out_dir: str,
    tile_size: int = 64,
    lat_col: str = "latidx",
    lon_col: str = "lonidx",
    val_col: str = "value",
    origin_west: float = -180.0,
    origin_north: float = 90.0,
    pixel_size: float = 0.5,
) -> "DataFrame":
    """Distributed GeoTIFF export of a (latidx, lonidx, value) long
    table through :func:`files.write_groups`: one group per
    tile_size×tile_size tile, the file written from the EXECUTOR
    holding the group (no driver collect, no global raster array;
    ``out_dir`` may be a path or URI). Missing cells within a tile are
    zero-filled; the tile grid is the shuffle key, so skew is bounded
    by tile population. Returns the manifest (tile ids, path, bytes,
    checksum) — the census a catalog ingests. ``latidx``/``lonidx``
    must be >= 0 (validated below — a negative index would silently
    wrap into the wrong tile row via numpy's negative indexing)."""
    import hashlib

    import numpy as np
    from pyspark.sql import functions as F

    from pyprima_spark.sources import files, fsio

    cells = raster.select(
        F.col(lat_col).alias("la"),
        F.col(lon_col).alias("lo"),
        F.col(val_col).cast("double").alias("v"),
        F.expr(f"{lat_col} div {tile_size}").alias("tla"),
        F.expr(f"{lon_col} div {tile_size}").alias("tlo"),
    )

    def encode(_key, pdf):
        tla = int(pdf["tla"].iloc[0])
        tlo = int(pdf["tlo"].iloc[0])
        if (pdf["la"] < 0).any() or (pdf["lo"] < 0).any():
            # Negative grid indices would flip sign under `div` and wrap
            # through numpy fancy indexing into the WRONG tile row/col —
            # corrupt output, not an error. Refuse instead.
            raise ValueError(
                f"negative {lat_col}/{lon_col} in tile ({tla},{tlo}); "
                "grid indices must be >= 0"
            )
        arr = np.zeros((tile_size, tile_size), dtype="<f4")
        la = pdf["la"].to_numpy(dtype="int64") - tla * tile_size
        lo = pdf["lo"].to_numpy(dtype="int64") - tlo * tile_size
        arr[la, lo] = pdf["v"].to_numpy(dtype="<f4")
        west = origin_west + tlo * tile_size * pixel_size
        north = origin_north - tla * tile_size * pixel_size
        payload = encode_geotiff_gray(arr, west, north, pixel_size)
        path = fsio.join(out_dir, f"tile_{tla}_{tlo}.tif")
        return {path: payload}, [
            {
                "tla": tla,
                "tlo": tlo,
                "path": path,
                "n_bytes": len(payload),
                "md5": hashlib.md5(payload).hexdigest(),
            }
        ]

    fsio.makedirs(out_dir)
    return files.write_groups(
        cells, ["tla", "tlo"], encode,
        "tla long, tlo long, path string, n_bytes long, md5 string",
    )


def read_raster_tiles(spark, tiles_dir: str) -> "DataFrame":
    """Distributed GeoTIFF ingest — the inverse of write_raster_tiles,
    through :func:`files.read_files`: every ``*.tif`` is parsed by the
    verifying stdlib decoder on an executor, and nonzero cells come
    back as the (latidx, lonidx, value) long table keyed by the
    georeferenced grid. Reference parity: pyPRIMA reads rasters with
    GDAL ReadAsArray (spatial_functions.py calc_region_stats /
    input_maps.py); this is the cluster-shaped equivalent."""
    from pyprima_spark.sources import files

    def decode(payload):
        arr, west, north, ps = decode_geotiff_gray(payload)
        la0 = int(round((90.0 - north) / ps))
        lo0 = int(round((west + 180.0) / ps))
        ys, xs = arr.nonzero()
        values = arr[ys, xs].astype(float).tolist()
        for y, x, v in zip(ys.tolist(), xs.tolist(), values):
            yield {"latidx": la0 + y, "lonidx": lo0 + x, "value": v}

    return files.read_files(
        spark, tiles_dir, "*.tif", "latidx long, lonidx long, value double", decode
    )
