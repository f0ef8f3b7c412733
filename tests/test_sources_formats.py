"""Round-trip contracts for the JSONL and ORC source formats.

The bar: a table written to the alternate format and read back is
value-identical to the parquet original, and the columnar format keeps
the same pushdown/pruning behavior the engine relies on everywhere
else.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyprima_spark.catalog import load_table
from pyprima_spark.sources.readers import read_jsonl, read_orc
from pyprima_spark.sources.writers import write_jsonl, write_orc

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_jsonl_round_trip_events(spark, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    path = str(tmp_path / "events_jsonl")
    write_jsonl(ev, path)
    back = read_jsonl(spark, path, EVENTS_DDL)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert _sorted_rows(back, cols) == _sorted_rows(ev, cols)


def test_jsonl_malformed_lines_null_out(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"a": 1, "b": "x"}\nnot json at all\n{"a": 2, "b": "y"}\n')
    df = read_jsonl(spark, str(p), "a bigint, b string")
    rows = [(r.a, r.b) for r in df.collect()]
    assert (1, "x") in rows and (2, "y") in rows and len(rows) == 3


def test_orc_round_trip_and_pushdown(spark, tmp_path):
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    path = str(tmp_path / "lineitem_orc")
    write_orc(li, path)
    back = read_orc(spark, path)
    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"]
    assert _sorted_rows(back, cols) == _sorted_rows(li, cols)

    pruned = back.filter(F.col("l_quantity") > 30).select("l_orderkey")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """A landed dataset whose later batches gained a column must read
    as ONE unified schema with nulls backfilled — the mergeSchema
    contract an append-only lake relies on when producers evolve."""
    base = tmp_path / "evolving"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(str(base / "batch=1"))
    spark.createDataFrame(
        [(3, "c", 30.5)], "id long, name string, score double"
    ).write.parquet(str(base / "batch=2"))
    df = spark.read.option("mergeSchema", "true").parquet(str(base))
    assert {f.name for f in df.schema.fields} >= {"id", "name", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and abs(rows[3].score - 30.5) < 1e-9


def test_binary_file_ingest_to_audio_features(spark, tmp_path):
    """Raw-file multimodal ingest (sources/readers.read_binary_files):
    real WAV files on disk enter through Spark's binaryFile source and
    flow into the REAL audio decoder unchanged — the lakehouse ingest
    step in front of operators/multimodal.py. Also checks the length
    predicate excludes an oversized blob and the glob excludes foreign
    extensions at listing time."""
    import io
    import wave as _wave

    import numpy as np

    from pyprima_spark.operators.multimodal import (
        WAV_FRAMERATE,
        audio_features_wav,
    )
    from pyprima_spark.sources.readers import read_binary_files

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    amps = {0: 2048, 1: 4096, 2: 8192}
    for d, amp in amps.items():
        n = 800
        idx = np.arange(n)
        samples = np.where((idx // 16) % 2 == 0, amp, -amp).astype("<i2")
        buf = io.BytesIO()
        with _wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(WAV_FRAMERATE)
            w.writeframes(samples.tobytes())
        (media_dir / f"clip_{d}.wav").write_bytes(buf.getvalue())
    # decoys: a foreign extension and an oversized blob
    (media_dir / "notes.txt").write_bytes(b"not audio")
    (media_dir / "clip_big.wav").write_bytes(b"\x00" * 300_000)

    import pyspark.sql.functions as F

    raw = read_binary_files(
        spark, str(media_dir), glob="*.wav", max_bytes=100_000
    )
    media = raw.select(
        F.regexp_extract(F.col("path"), r"clip_(\d+)\.wav", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    feats = {r.doc_id: r for r in audio_features_wav(media).collect()}
    assert set(feats) == set(amps)  # decoys excluded by glob + length
    for d, amp in amps.items():
        r = feats[d]
        assert abs(r.peak - round(amp / 32768.0, 6)) < 1e-12, d
        assert abs(r.rms - r.peak) < 1e-12, d  # square wave
        assert abs(r.duration_s - round(800 / WAV_FRAMERATE, 6)) < 1e-12


def test_geotiff_tile_export_roundtrip(spark, sf_dir, tmp_path):
    """Distributed GeoTIFF export (sources/geotiff.py, no GDAL): the
    region_mask_raster long table is written as executor-side tiles,
    every file is parsed back by the verifying stdlib decoder, and the
    reassembled grid equals the input cell for cell. Also checks TIFF
    magic, the WGS84 GeoKey, and the tile's georeferenced anchor."""
    import numpy as np

    from pyprima_spark.plans.queries import QUERIES
    from pyprima_spark.sources.geotiff import (
        decode_geotiff_gray,
        write_raster_tiles,
    )

    raster = QUERIES["region_mask_raster"](spark, sf_dir).select(
        "latidx", "lonidx", F.col("pop_alloc").alias("value")
    )
    expected = {
        (r.latidx, r.lonidx): float(r.value) for r in raster.collect()
    }
    out = str(tmp_path / "tiles")
    manifest = write_raster_tiles(raster, out, tile_size=64).collect()
    assert manifest, "no tiles written"

    got = {}
    for m in manifest:
        payload = open(m.path, "rb").read()
        assert payload[:4] == b"II*\x00"
        assert len(payload) == m.n_bytes
        arr, west, north, ps = decode_geotiff_gray(payload)
        assert ps == 0.5
        assert west == -180.0 + m.tlo * 64 * 0.5
        assert north == 90.0 - m.tla * 64 * 0.5
        for (la, lo), v in np.ndenumerate(arr):
            if v != 0.0:
                got[(m.tla * 64 + la, m.tlo * 64 + lo)] = float(v)
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - np.float32(v)) < 1e-6, k


def test_point_shapefile_export_roundtrip(spark, sf_dir, tmp_path):
    """Point-shapefile sink (sources/shapefile.py, no GDAL/pyshp): the
    supplier fleet exported as .shp/.shx/.dbf from one executor task,
    parsed back by the verifying decoder, features and attributes
    equal; .shx record count and offsets consistent with .shp."""
    import struct

    from pyprima_spark.catalog import load_table
    from pyprima_spark.sources.shapefile import (
        decode_point_shapefile,
        write_point_shapefile,
    )

    sup = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 360 - 180 + 0.5).cast("double").alias("x"),
        (F.col("s_suppkey") % 180 - 90 + 0.25).cast("double").alias("y"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").cast("double").alias("value"),
    )
    expected = sorted(
        (r.name, r.x, r.y, float(r.value)) for r in sup.collect()
    )
    base = str(tmp_path / "plants")
    man = write_point_shapefile(sup, base).collect()
    assert len(man) == 1 and man[0].n_features == len(expected)

    shp = open(base + ".shp", "rb").read()
    shx = open(base + ".shx", "rb").read()
    dbf = open(base + ".dbf", "rb").read()
    pts, names, vals = decode_point_shapefile(shp, dbf)
    got = sorted(
        (n, x, y, v) for (x, y), n, v in zip(pts, names, vals)
    )
    exp_trim = [(n[:16].strip(), x, y, round(v, 3)) for n, x, y, v in expected]
    assert got == exp_trim
    # .shx consistency: one 8-byte entry per feature, offsets in words
    assert (len(shx) - 100) // 8 == len(expected)
    off0, clen0 = struct.unpack_from(">ii", shx, 100)
    assert off0 == 50 and clen0 == 10  # first record after the header


def test_gis_read_back_through_spark(spark, sf_dir, tmp_path):
    """Bidirectional GIS IO: the tiles written by write_raster_tiles
    read back through read_raster_tiles (binaryFile + executor-side
    parse) equal the source long table; the shapefile written by
    write_point_shapefile reads back through read_point_shapefile."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.plans.queries import QUERIES
    from pyprima_spark.sources.geotiff import (
        read_raster_tiles,
        write_raster_tiles,
    )
    from pyprima_spark.sources.shapefile import (
        read_point_shapefile,
        write_point_shapefile,
    )

    raster = QUERIES["region_mask_raster"](spark, sf_dir).select(
        "latidx", "lonidx", F.col("pop_alloc").alias("value")
    )
    out = str(tmp_path / "tiles2")
    write_raster_tiles(raster, out, tile_size=64).collect()
    back = {
        (r.latidx, r.lonidx): r.value
        for r in read_raster_tiles(spark, out).collect()
    }
    src = {(r.latidx, r.lonidx): float(r.value) for r in raster.collect()}
    assert set(back) == set(src)
    for k in src:
        assert abs(back[k] - src[k]) < 1e-5, k

    sup = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 360 - 180 + 0.5).cast("double").alias("x"),
        (F.col("s_suppkey") % 180 - 90 + 0.25).cast("double").alias("y"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").cast("double").alias("value"),
    )
    base = str(tmp_path / "plants2")
    n = write_point_shapefile(sup, base).collect()[0].n_features
    got = read_point_shapefile(spark, base).collect()
    assert len(got) == n
    exp = {
        (r.name[:16].strip(), r.x, r.y, round(float(r.value), 3))
        for r in sup.collect()
    }
    assert {(r.name, r.x, r.y, r.value) for r in got} == exp


def test_xlsx_roundtrip_through_spark(spark, sf_dir, tmp_path):
    """urbs/evrys model-file format leg (reference writes its model
    outputs as .xlsx workbooks, generate_models.py): write a frame as
    a workbook from one executor task, read it back via binaryFile +
    executor-side ZIP/XML parse, and demand exact value equality."""
    from pyspark.sql import functions as F

    from pyprima_spark.catalog import load_table
    from pyprima_spark.sources.xlsx import read_xlsx_sheet, write_xlsx

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", (F.col("n_regionkey") * 1.5).alias("w")
    )
    path = str(tmp_path / "model.xlsx")
    manifest = write_xlsx(nat, path, sheet_name="Site").collect()
    assert manifest[0].n_rows == nat.count() and manifest[0].n_bytes > 0

    back = read_xlsx_sheet(
        spark, str(tmp_path), "Site",
        "n_nationkey long, n_name string, w double",
    )
    b = {r.n_nationkey: (r.n_name, r.w) for r in back.collect()}
    s = {r.n_nationkey: (r.n_name, float(r.w)) for r in nat.collect()}
    assert b == s


def test_xlsx_multi_sheet_and_shared_strings(tmp_path):
    """The decoder must also read books OUR writer did not produce:
    a hand-assembled workbook using a sharedStrings table (the layout
    Excel and openpyxl emit), multiple sheets, sparse rows, boolean
    and formula-cached cells."""
    import zipfile

    from pyprima_spark.sources.xlsx import decode_xlsx, encode_xlsx

    # multi-sheet through our own encoder first
    payload = encode_xlsx(
        {
            "Demand": (["site", "t", "MW"], [("a", 1, 2.5), ("b", 2, 3.25)]),
            "Process": (["name", "on"], [("pp", True)]),
        }
    )
    book = decode_xlsx(payload)
    assert list(book) == ["Demand", "Process"]
    assert book["Demand"][1] == [["a", 1, 2.5], ["b", 2, 3.25]]
    assert book["Process"][1] == [["pp", True]]

    # foreign layout: sharedStrings + sparse row + formula cache
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>7.5</v></c></row>'
        '<row r="3"><c r="B3" t="str"><v>cached</v></c></row>'
        "</sheetData></worksheet>"
    )
    sst = (
        f'<sst xmlns="{ns}"><si><t>name</t></si><si><t>load</t></si>'
        "<si><t>plant one</t></si></sst>"
    )
    buf = tmp_path / "foreign.xlsx"
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types"/>',
        )
        zf.writestr(
            "_rels/.rels",
            f'<Relationships xmlns="{pkg}"><Relationship Id="rId1" '
            f'Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{rel}"><sheets>'
            '<sheet name="Load" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{pkg}"><Relationship Id="rId1" '
            f'Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    header, rows = decode_xlsx(buf.read_bytes())["Load"]
    assert header == ["name", "load"]
    assert rows == [["plant one", 7.5], [None, "cached"]]


def test_xlsx_edge_cases():
    """Codec edges: zero-row sheet, >26 columns (AA-style refs),
    unicode + XML-special characters, None cells."""
    from pyprima_spark.sources.xlsx import _col_letter, decode_xlsx, encode_xlsx

    assert [_col_letter(i) for i in (0, 25, 26, 27, 51, 52, 701, 702)] == [
        "A", "Z", "AA", "AB", "AZ", "BA", "ZZ", "AAA",
    ]

    header = [f"c{i}" for i in range(30)]
    row = list(range(29)) + ["ünï <&> 'quote\""]
    payload = encode_xlsx(
        {"Wide": (header, [row]), "Empty": (["a", "b"], [])}
    )
    book = decode_xlsx(payload)
    assert book["Wide"][0] == header
    assert book["Wide"][1] == [row]
    assert book["Empty"] == (["a", "b"], [])

    payload2 = encode_xlsx({"S": (["x"], [(None,), (1.5,)])})
    assert decode_xlsx(payload2)["S"][1] == [[], [1.5]]


def test_xlsx_roundtrip_property():
    """Property test: encode_xlsx/decode_xlsx round-trip arbitrary
    mixed-type sheets — strings (incl. XML specials and unicode),
    ints, floats, bools, and Nones — exactly."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyprima_spark.sources.xlsx import decode_xlsx, encode_xlsx

    cell = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(10**15), max_value=10**15),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                exclude_categories=("Cs", "Cc"),
            ),
            max_size=24,
        ),
    )

    @settings(max_examples=40, deadline=None)
    @given(
        ncols=st.integers(min_value=1, max_value=6),
        data=st.data(),
    )
    def check(ncols, data):
        header = [f"col_{i}" for i in range(ncols)]
        rows = data.draw(
            st.lists(
                st.tuples(*[cell] * ncols), min_size=0, max_size=8
            )
        )
        book = decode_xlsx(encode_xlsx({"S": (header, rows)})) 
        got_header, got_rows = book["S"]
        assert got_header == header
        assert len(got_rows) == len(rows)
        for want, got in zip(rows, got_rows):
            # rows decode at their occupied width; trailing Nones drop
            padded = list(got) + [None] * (ncols - len(got))
            for w, g in zip(want, padded):
                if isinstance(w, float) and not isinstance(w, bool):
                    if w == int(w) and abs(w) < 2**53:
                        # integral floats come back as ints (xlsx has
                        # one number type); value equality is the spec
                        assert g == w
                    else:
                        assert isinstance(g, float) and math.isclose(
                            g, w, rel_tol=0, abs_tol=0
                        ), (w, g)
                else:
                    assert g == w, (w, g)

    check()


def test_split_integer_floor_identity_property():
    """Property test for the overflow-safe split-integer form used by
    data_mixture_plan and markov_attribution:
    b*(a div c) + (b*(a mod c)) div c == floor(a*b/c) exactly
    (Python bignums as ground truth)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    pos = st.integers(min_value=1, max_value=10**12)
    nonneg = st.integers(min_value=0, max_value=10**12)

    @settings(max_examples=200, deadline=None)
    @given(a=nonneg, b=nonneg, c=pos)
    def check(a, b, c):
        split = b * (a // c) + (b * (a % c)) // c
        assert split == (a * b) // c

    check()


def test_xml_source_sink_roundtrip(spark, sf_dir, tmp_path):
    """Spark 4 built-in XML source/sink (SPARK-44265): write the
    nation dim as row-tagged XML, read it back with an explicit
    schema, and demand exact equality — the config/interchange format
    leg next to JSONL/ORC/CSV/xlsx."""
    from pyprima_spark.catalog import load_table

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_xml")
    nat.write.format("xml").option("rowTag", "nation").save(path)
    back = (
        spark.read.format("xml")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .option("rowTag", "nation")
        .load(path)
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nat.collect())
    )


def test_fixed_width_roundtrip_and_edges(spark, tmp_path):
    """Fixed-width contract: pad/align/trim round-trips values exactly,
    nulls cross as blanks, and an over-wide value is REFUSED (silent
    truncation would corrupt the record stream)."""
    import pytest

    from pyprima_spark.sources.fixedwidth import (
        read_fixed_width,
        write_fixed_width,
    )

    specs = [("name", 8, "l"), ("qty", 6, "r")]
    df = spark.createDataFrame(
        [("alpha", 42), ("beta", None), ("gamma", 100000)],
        "name string, qty bigint",
    )
    path = str(tmp_path / "t.fwf")
    manifest = write_fixed_width(df, path, specs).collect()
    assert manifest[0]["n_rows"] == 3
    raw = open(path).read().splitlines()
    assert raw[0] == "alpha   " + "    42" and len(raw[1]) == 14
    back = read_fixed_width(
        spark, path, specs, {"name": "string", "qty": "bigint"}
    )
    got = {r["name"]: r["qty"] for r in back.collect()}
    assert got == {"alpha": 42, "beta": None, "gamma": 100000}

    too_wide = spark.createDataFrame(
        [("this-name-is-far-too-long", 1)], "name string, qty bigint"
    )
    with pytest.raises(Exception, match="exceeds width"):
        write_fixed_width(too_wide, str(tmp_path / "bad.fwf"), specs).collect()

    empty = df.filter("qty < 0")
    m = write_fixed_width(empty, str(tmp_path / "e.fwf"), specs).collect()
    assert m[0]["n_rows"] == 0 and m[0]["n_bytes"] == 0


def test_fixed_width_nullable_bigint_above_2_53_exact(spark, tmp_path):
    """A nullable bigint crosses the writer's Arrow hop exactly: next to
    a null, 2^53 + 1 must not round through float64 to 2^53."""
    from pyprima_spark.sources.fixedwidth import (
        read_fixed_width,
        write_fixed_width,
    )

    specs = [("k", 4, "l"), ("id", 20, "r")]
    df = spark.createDataFrame(
        [("big", 2**53 + 1), ("nul", None)], "k string, id bigint"
    )
    path = str(tmp_path / "big.fwf")
    write_fixed_width(df, path, specs).collect()
    assert open(path).read().splitlines()[0] == "big " + str(2**53 + 1).rjust(20)
    back = read_fixed_width(spark, path, specs, {"k": "string", "id": "bigint"})
    assert {r["k"]: r["id"] for r in back.collect()} == {
        "big": 2**53 + 1,
        "nul": None,
    }


def test_point_shapefile_empty_point_set(spark, tmp_path):
    """Zero points write a valid 0-record shapefile (all-zero bbox),
    like the other sinks write a valid empty file."""
    from pyprima_spark.sources.shapefile import (
        decode_point_shapefile,
        encode_point_shapefile,
        read_point_shapefile,
        write_point_shapefile,
    )

    shp, shx, dbf = encode_point_shapefile([], [], [])
    assert len(shp) == len(shx) == 100
    assert decode_point_shapefile(shp, dbf) == ([], [], [])

    empty = spark.createDataFrame([], "x double, y double, name string, value double")
    base = str(tmp_path / "none")
    manifest = write_point_shapefile(empty, base).collect()
    assert [m["n_features"] for m in manifest] == [0]
    assert read_point_shapefile(spark, base).count() == 0


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution contract: a column added in a later batch is
    surfaced by mergeSchema=true with NULLs for old files, and pruning
    still reaches the scan (evolution must not break pushdown)."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, v string"
    ).write.parquet(out + "/batch=0")
    spark.createDataFrame(
        [(3, "c", 30), (4, "d", 40)], "id bigint, v string, score bigint"
    ).write.parquet(out + "/batch=1")
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/batch=0", out + "/batch=1"
    )
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: 30, 4: 40}
    plan = (
        merged.filter(F.col("id") > 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,2)]" in plan


# --- archive ingestion (sources/archives.py) -------------------------------


def test_zip_archive_roundtrip(spark, tmp_path):
    """Distributed ZIP member read over two shard archives, plus the
    deterministic single-file writer: payloads and member names must
    round-trip exactly, and member_glob must prune inside the batch."""
    import zipfile

    from pyprima_spark.sources.archives import (
        read_archive_members,
        write_zip_archive,
    )

    shard_dir = tmp_path / "zips"
    shard_dir.mkdir()
    want = {}
    for shard in range(2):
        p = shard_dir / f"shard-{shard}.zip"
        with zipfile.ZipFile(p, "w") as zf:
            for i in range(3):
                name = f"docs/doc-{shard}-{i}.txt"
                body = f"payload {shard}/{i} body".encode()
                zf.writestr(name, body)
                want[name] = body
            zf.writestr("skip/readme.md", b"not a txt")
    got = read_archive_members(
        spark, str(shard_dir / "*.zip"), member_glob="docs/*.txt"
    )
    rows = {r["member"]: bytes(r["payload"]) for r in got.collect()}
    assert rows == want
    assert got.filter("n_bytes <= 0").count() == 0

    out = tmp_path / "export.zip"
    n = write_zip_archive(got, str(out))
    assert n == len(want)
    with zipfile.ZipFile(out) as zf:
        assert sorted(zf.namelist()) == sorted(want)
        for name, body in want.items():
            assert zf.read(name) == body
    # byte-determinism: a second write of the same rows is identical
    out2 = tmp_path / "export2.zip"
    write_zip_archive(got, str(out2))
    assert out.read_bytes() == out2.read_bytes()


def test_tgz_archive_read(spark, tmp_path):
    """tar.gz members surface with auto-detected compression."""
    import io
    import tarfile

    from pyprima_spark.sources.archives import read_archive_members

    p = tmp_path / "dump.tar.gz"
    with tarfile.open(p, "w:gz") as tf:
        for i in range(4):
            body = f"tar member {i}".encode()
            info = tarfile.TarInfo(name=f"wet/{i:02d}.warc")
            info.size = len(body)
            tf.addfile(info, io.BytesIO(body))
    got = read_archive_members(
        spark, str(p), member_glob="wet/*", kind="tar"
    ).collect()
    assert len(got) == 4
    assert {r["member"] for r in got} == {f"wet/{i:02d}.warc" for i in range(4)}
    assert all(bytes(r["payload"]).startswith(b"tar member") for r in got)
