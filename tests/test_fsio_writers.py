"""VERDICT r6 item 2: the single-file format sinks must survive a
non-local output URI — every writer routes bytes through
pyprima_spark.sources.fsio (PyArrow's FileSystem API), so a
``file://`` URI must behave exactly like a bare path, and the
scratch-dir hook (``spark.pyprima.scratchDir``) must redirect the
roundtrip operators' file hops.  ``file://`` is the portable stand-in
for hdfs://; the routing code path (URI → FileSystem.from_uri →
open_output_stream) is identical for every scheme pyarrow carries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyprima_spark.sources import fsio


def test_fsio_join_and_uri_roundtrip(tmp_path):
    uri = "file://" + str(tmp_path)
    path = fsio.join(uri, "a", "b.bin")
    assert path == f"file://{tmp_path}/a/b.bin"
    fsio.makedirs(fsio.join(uri, "a"))
    fsio.write_bytes(path, b"\x00\x01payload")
    assert fsio.read_bytes(path) == b"\x00\x01payload"
    # bare path hits the same bytes
    assert (tmp_path / "a" / "b.bin").read_bytes() == b"\x00\x01payload"


def test_raster_tiles_roundtrip_via_file_uri(spark, tmp_path):
    from pyprima_spark.sources.geotiff import (
        read_raster_tiles,
        write_raster_tiles,
    )

    raster = spark.range(200).select(
        (F.col("id") % 20).alias("latidx"),
        (F.col("id") * 7 % 40).alias("lonidx"),
        (F.col("id") % 9 + 1).cast("double").alias("value"),
    ).groupBy("latidx", "lonidx").agg(F.max("value").alias("value"))
    out_uri = "file://" + str(tmp_path / "tiles")
    man = write_raster_tiles(raster, out_uri, tile_size=32).collect()
    assert man and all(r.path.startswith("file://") for r in man)
    back = read_raster_tiles(spark, out_uri)
    want = {(r.latidx, r.lonidx): r.value for r in raster.collect()}
    got = {(r.latidx, r.lonidx): r.value for r in back.collect()}
    assert got == want


def test_xlsx_book_roundtrip_via_file_uri(spark, tmp_path):
    from pyprima_spark.sources.xlsx import read_xlsx_sheet, write_xlsx_book

    df = spark.createDataFrame(
        [("s1", "a", 1.5), ("s1", "b", 2.0), ("s2", "c", -3.25)],
        "sheet string, name string, value double",
    )
    uri = "file://" + str(tmp_path / "book.xlsx")
    man = write_xlsx_book(df, uri, order_by=["name"]).collect()
    assert {r.sheet for r in man} == {"s1", "s2"}
    back = read_xlsx_sheet(
        spark, uri, "s1", "name string, value double"
    ).collect()
    assert sorted((r.name, r.value) for r in back) == [("a", 1.5), ("b", 2.0)]


def test_shapefile_roundtrip_via_file_uri(spark, tmp_path):
    from pyprima_spark.sources.shapefile import (
        read_point_shapefile,
        write_point_shapefile,
    )

    df = spark.createDataFrame(
        [(1.0, 2.0, "p1", 10.0), (-3.5, 4.25, "p2", 20.5)],
        "x double, y double, name string, value double",
    )
    base = "file://" + str(tmp_path / "pts")
    man = write_point_shapefile(df, base).collect()
    assert man[0].n_features == 2
    back = read_point_shapefile(spark, base).collect()
    assert sorted((r.name, r.x, r.y, r.value) for r in back) == [
        ("p1", 1.0, 2.0, 10.0),
        ("p2", -3.5, 4.25, 20.5),
    ]


def test_fixed_width_roundtrip_via_file_uri(spark, tmp_path):
    from pyprima_spark.sources.fixedwidth import (
        read_fixed_width,
        write_fixed_width,
    )

    specs = [("name", 8, "l"), ("n", 6, "r")]
    df = spark.createDataFrame(
        [("alpha", 12), ("beta", -7)], "name string, n int"
    )
    uri = "file://" + str(tmp_path / "t.fwf")
    man = write_fixed_width(df, uri, specs).collect()
    assert man[0].n_rows == 2
    back = read_fixed_width(
        spark, uri, specs, {"name": "string", "n": "int"}
    ).collect()
    assert sorted((r.name, r.n) for r in back) == [("alpha", 12), ("beta", -7)]


def test_zip_archive_uri_and_duplicate_member_refusal(spark, tmp_path):
    from pyprima_spark.sources.archives import (
        read_archive_members,
        write_zip_archive,
    )

    ok = spark.createDataFrame(
        [("a.txt", bytearray(b"A")), ("b.txt", bytearray(b"BB"))],
        "member string, payload binary",
    )
    uri = "file://" + str(tmp_path / "out.zip")
    assert write_zip_archive(ok, uri) == 2
    back = read_archive_members(spark, uri, kind="zip").collect()
    assert sorted((r.member, bytes(r.payload)) for r in back) == [
        ("a.txt", b"A"),
        ("b.txt", b"BB"),
    ]

    dup = spark.createDataFrame(
        [("a.txt", bytearray(b"A")), ("a.txt", bytearray(b"A2"))],
        "member string, payload binary",
    )
    with pytest.raises(ValueError, match="duplicate member"):
        write_zip_archive(dup, "file://" + str(tmp_path / "dup.zip"))


def test_scratch_dir_honours_conf(spark, tmp_path):
    base = "file://" + str(tmp_path / "scratch")
    fsio.makedirs(base)
    spark.conf.set("spark.pyprima.scratchDir", base)
    try:
        d1 = fsio.scratch_dir(spark, "probe_")
        d2 = fsio.scratch_dir(spark, "probe_")
        assert d1.startswith(base + "/probe_") and d1 != d2
        fsio.write_bytes(fsio.join(d1, "x.bin"), b"ok")
        assert fsio.read_bytes(fsio.join(d1, "x.bin")) == b"ok"
    finally:
        spark.conf.unset("spark.pyprima.scratchDir")
    # without the conf: a real local tempdir
    d3 = fsio.scratch_dir(spark, "probe_")
    assert "://" not in d3


def test_roundtrip_operators_respect_scratch_conf(spark, tmp_path, sf_dir):
    """The two previously-weak keys must place their file hop under the
    configured scratch URI and still match their semantics."""
    from pyprima_spark.plans import model_export, spatial

    base = "file://" + str(tmp_path / "opscratch")
    fsio.makedirs(base)
    spark.conf.set("spark.pyprima.scratchDir", base)
    try:
        n_raster = spatial.QUERIES["raster_export_manifest"](spark, sf_dir).count()
        n_book = model_export.QUERIES["model_workbook_roundtrip"](spark, sf_dir).count()
    finally:
        spark.conf.unset("spark.pyprima.scratchDir")
    assert n_raster > 0 and n_book == 2
    # the hop actually landed under the scratch URI
    leftovers = list((tmp_path / "opscratch").iterdir())
    assert any(p.name.startswith("pyprima_raster_export_") for p in leftovers)
    assert any(p.name.startswith("pyprima_model_") for p in leftovers)


def test_fsio_never_transparently_compresses(tmp_path):
    """Regression (late r8): pyarrow's open_output_stream defaults to
    compression='detect', which silently RE-gzipped payloads written
    to .gz paths — a .warc.gz landed double-compressed and unreadable
    to binaryFile. fsio pins compression=None: bytes in == bytes on
    disk == bytes back, whatever the extension says."""
    from pyprima_spark.sources import fsio

    payload = b"\x1f\x8b\x08\x00 already-gzip-framed bytes \x00\x01"
    for name in ("x.gz", "x.bz2", "x.warc.gz", "x.bin"):
        uri = "file://" + str(tmp_path / name)
        fsio.write_bytes(uri, payload)
        assert (tmp_path / name).read_bytes() == payload
        assert fsio.read_bytes(uri) == payload
        with fsio.open_output(uri) as fh:
            fh.write(payload + b"2")
        assert (tmp_path / name).read_bytes() == payload + b"2"


def test_only_the_files_module_writes_bytes():
    """Every byte-format sink writes through sources/files.py: no other
    module under sources/ calls fsio.write_bytes."""
    import ast
    import pathlib

    sources = pathlib.Path(fsio.__file__).parent
    callers = set()
    for path in sorted(sources.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "write_bytes"
            ):
                callers.add(path.name)
    assert callers == {"files.py"}
