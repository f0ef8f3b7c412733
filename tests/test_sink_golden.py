"""Golden bytes for every file sink: each writes one fixed small frame,
and the SHA-256 of every file it leaves plus its manifest rows must
match. Roundtrip tests pass for any self-consistent writer; these fail
when the bytes a sink writes, or the manifest it returns, change.

The frame carries a nullable bigint above 2^53 next to a null, a
unicode string next to a null, a double and, where the format has one,
an integer array."""

from __future__ import annotations

import hashlib
import io
import os
import zipfile

import pytest

from pyprima_spark.sources.avro_ocf import write_avro_file
from pyprima_spark.sources.fixedwidth import write_fixed_width
from pyprima_spark.sources.geotiff import write_raster_tiles
from pyprima_spark.sources.shapefile import write_point_shapefile
from pyprima_spark.sources.tfrecord import write_tfrecord_file, write_tfrecord_shards
from pyprima_spark.sources.warc import write_warc_file, write_warc_shards
from pyprima_spark.sources.xlsx import write_xlsx, write_xlsx_book

BIG = 2**53 + 1

_ROWS = [
    (BIG, "ünï <&>", 0.5, [BIG, -3]),
    (None, None, -1.25, None),
    (7, "b", 2.0, [1]),
]
_DDL = "id bigint, name string, score double, tags array<bigint>"

_WARC_ROWS = [
    ("<urn:uuid:ü-1>", "response", "https://a.example/x", "2026-01-01T00:00:00Z",
     "application/http; msgtype=response",
     b"HTTP/1.1 200 OK\r\n\r\nbody \xc3\xbc"),
    ("<urn:uuid:2>", "resource", None, "2026-01-02T00:00:00Z", None, b""),
]
_WARC_DDL = ("record_id string, warc_type string, target_uri string,"
             " warc_date string, content_type string, content binary")

_CELLS = [(0, 0, 1.5), (1, 2, -2.25), (70, 3, 9.0)]


def _frame(spark):
    return spark.createDataFrame(_ROWS, _DDL)


def _scalars(spark):
    return _frame(spark).select("id", "name", "score")


def _book(spark):
    from pyspark.sql import functions as F

    return _scalars(spark).withColumn(
        "sheet", F.when(F.col("score") > 0, "pos").otherwise("neg")
    )


SINKS = {
    "avro": lambda s, d: write_avro_file(_scalars(s), os.path.join(d, "f.avro")),
    "fixed_width": lambda s, d: write_fixed_width(
        _scalars(s), os.path.join(d, "f.txt"),
        [("id", 20, "r"), ("name", 10, "l"), ("score", 8, "r")],
    ),
    "shapefile": lambda s, d: write_point_shapefile(
        _scalars(s), os.path.join(d, "pts"),
        x_col="score", y_col="score", name_col="name", value_col="id",
    ),
    "tfrecord_file": lambda s, d: write_tfrecord_file(
        _frame(s), os.path.join(d, "f.tfrecord"), order_by=["id"]
    ),
    "tfrecord_shards": lambda s, d: write_tfrecord_shards(
        _frame(s), d, n_shards=3, order_by=["id"]
    ),
    "warc_file": lambda s, d: write_warc_file(
        s.createDataFrame(_WARC_ROWS, _WARC_DDL), os.path.join(d, "f.warc.gz")
    ),
    "warc_shards": lambda s, d: write_warc_shards(
        s.createDataFrame(_WARC_ROWS, _WARC_DDL), d, n_shards=3
    ),
    "xlsx": lambda s, d: write_xlsx(_scalars(s), os.path.join(d, "f.xlsx")),
    "xlsx_book": lambda s, d: write_xlsx_book(_book(s), os.path.join(d, "b.xlsx")),
    "raster_tiles": lambda s, d: write_raster_tiles(
        s.createDataFrame(_CELLS, "latidx bigint, lonidx bigint, value double"),
        d, tile_size=64,
    ),
}

# file name -> SHA-256 of its bytes, per sink
FILE_SHA256 = {
    "avro": {
        "f.avro":
            "a29fb4a0e235d3716d10cecd51a2ce23a9154d97da55f4b25c48059f89fe7a92",
    },
    "fixed_width": {
        "f.txt":
            "50a36a6d7eca35f095fd590e3b1020ae356da1d5522e09bccdbe28fbf9e31416",
    },
    "raster_tiles": {
        "tile_0_0.tif":
            "63cb948b03caaef390eae0ba517f4a6e12a920f8a930303aa12ebc7038cebb69",
        "tile_1_0.tif":
            "5ef45660a8364c12bdf788260321e2606f6fb4ccfaf081c44d0f2fccf36f4be9",
    },
    "shapefile": {
        "pts.dbf":
            "d1455c99b66b229a069fcb95d5ce747a51c8d32608e9ac95d88868debaab4a9f",
        "pts.shp":
            "c18e08278ffddc56496acb7b75c83a171c01bc220322f00b4a7587434d38b520",
        "pts.shx":
            "09eaa9613fa865b540a6e98f9f8a39d97a1fafe04097e465eb9acfa565ccbf9c",
    },
    "tfrecord_file": {
        "f.tfrecord":
            "acb7f9b385cd819b6d6bbfc39ac3c10fb34d97c8bf4dcb49c6b7ed9fc639684c",
    },
    "tfrecord_shards": {
        "part-00000-of-00003.tfrecord":
            "19793b1e8c2be5e79dbdc50632db8f768fcde40cbdf7a9e304551a4b8f9a91af",
        "part-00001-of-00003.tfrecord":
            "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
        "part-00002-of-00003.tfrecord":
            "8487ebcf1c0b2701be4572cb042244a5dbd6aaea9ac91e7c40c111cfd1f1982d",
    },
    "warc_file": {
        "f.warc.gz":
            "2c1887cc294046bdf49de222ff559e5945646101f7e7d961045e291013554989",
    },
    "warc_shards": {
        "seg-00000-of-00003.warc.gz":
            "984340b60c43c64b440fd15f34fc7b3e48f3a79d0791bc0e21bfe080fbdad558",
        "seg-00001-of-00003.warc.gz":
            "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
        "seg-00002-of-00003.warc.gz":
            "ad6565d637e906d3b1304f9e6d154b13378040950915eedb894ae24441c6bb48",
    },
    "xlsx": {
        "f.xlsx":
            "d70466ee7875a0ca932278d15eacb8d089dba12023c52f8a31720c7593fe8bca",
    },
    "xlsx_book": {
        "b.xlsx":
            "2054604999b5d54535c8e9c51556bfe152867c56fdc1dd4b8dc3355f9db3c89e",
    },
}

# manifest rows, sorted, with the output directory written as "<out>"
MANIFEST = {
    "avro": [
        ("<out>/f.avro", 3, 291),
    ],
    "fixed_width": [
        (3, 119),
    ],
    "raster_tiles": [
        (0, 0, "<out>/tile_0_0.tif", 16658, "22b7f23073645fb8c25c95c9ca8b9b73"),
        (1, 0, "<out>/tile_1_0.tif", 16658, "9f5df5d900687351d65fd3edbf7dd540"),
    ],
    "shapefile": [
        (3, 184, 205, "6f39dc5e3d7215453aa9a85c9efda6f0"),
    ],
    "tfrecord_file": [
        ("<out>/f.tfrecord", 3, 229),
    ],
    "tfrecord_shards": [
        (0, "<out>/part-00000-of-00003.tfrecord", 2, 149),
        (1, "<out>/part-00001-of-00003.tfrecord", 0, 0),
        (2, "<out>/part-00002-of-00003.tfrecord", 1, 80),
    ],
    "warc_file": [
        ("<out>/f.warc.gz", 2, 317),
    ],
    "warc_shards": [
        (0, "<out>/seg-00000-of-00003.warc.gz", 1, 117),
        (1, "<out>/seg-00001-of-00003.warc.gz", 0, 0),
        (2, "<out>/seg-00002-of-00003.warc.gz", 1, 200),
    ],
    "xlsx": [
        ("<out>/f.xlsx", 3, 1683),
    ],
    "xlsx_book": [
        ("neg", 1, 2045),
        ("pos", 2, 2045),
    ],
}


def _digest(path):
    with open(path, "rb") as fh:
        data = fh.read()
    if path.endswith(".xlsx"):
        # each ZIP entry stamps the wall-clock write time: hash the
        # entries' names and contents instead of the container
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            data = b"".join(
                n.encode() + b"\0" + zf.read(n) for n in sorted(zf.namelist())
            )
    return hashlib.sha256(data).hexdigest()


def _observe(spark, sink, out_dir):
    rows = SINKS[sink](spark, out_dir).collect()
    files = {
        name: _digest(os.path.join(out_dir, name))
        for name in sorted(os.listdir(out_dir))
        if not name.startswith(".")
    }
    manifest = sorted(
        tuple(
            v.replace(out_dir, "<out>") if isinstance(v, str) else v
            for v in row
        )
        for row in rows
    )
    return files, manifest


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_sink_golden_bytes(spark, tmp_path, sink):
    files, manifest = _observe(spark, sink, str(tmp_path))
    assert files == FILE_SHA256[sink]
    assert manifest == MANIFEST[sink]
