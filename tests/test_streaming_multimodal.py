"""Streaming + multimodal + source tests (non-SQL surfaces, SURVEY §2)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The same transformation applied to a stream (availableNow) and to
    the batch frame must agree — Spark's unified batch/stream model."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.streaming.events import (
        hourly_event_stats,
        run_hourly_stats_stream,
    )

    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt")
    )
    streamed = run_hourly_stats_stream(spark, sf_dir, "t_hourly").toPandas()
    batch = hourly_event_stats(load_table(spark, sf_dir, "events")).toPandas()
    key = ["hour_start", "event_type"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) and len(s) > 0
    assert (s["n"].values == b["n"].values).all()
    assert abs(s["total"].values - b["total"].values).max() < 1e-9


def test_multimodal_decode_stub(spark, sf_dir):
    from pyprima_spark.catalog import load_table
    from pyprima_spark.operators.multimodal import (
        attach_fake_media,
        decode_media,
        resize_stub,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_fake_media(docs)
    decoded = decode_media(media)
    rows = resize_stub(decoded).collect()
    assert len(rows) == 50
    for r in rows:
        assert r.media_type == "image/png"
        assert len(r.fingerprint) == 32
        assert 1 <= r.out_width <= 256 and 1 <= r.out_height <= 256
        # aspect preserved within integer floor error
        assert (r.width >= r.height) == (r.out_width >= r.out_height)


def test_multimodal_real_decode_is_stubbed(spark, sf_dir):
    from pyprima_spark.catalog import load_table
    from pyprima_spark.operators.multimodal import attach_fake_media, decode_media

    docs = load_table(spark, sf_dir, "documents").limit(1)
    with pytest.raises(NotImplementedError):
        decode_media(attach_fake_media(docs), real_decode=True)


def test_european_csv_roundtrip(spark, tmp_path):
    from pyprima_spark.sources.readers import (
        european_number,
        read_european_csv,
        write_european_csv,
    )

    df = spark.createDataFrame(
        [("a", 1234.5), ("b", -0.25)], "name string, val double"
    )
    path = os.path.join(str(tmp_path), "eur_csv")
    write_european_csv(df, path)
    back = read_european_csv(spark, path, numeric_cols=["val"])
    got = {r.name: r.val for r in back.collect()}
    assert got == {"a": 1234.5, "b": -0.25}
    # thousands-dot + decimal-comma literal
    lit = spark.createDataFrame([("1.234,56",)], "x string").select(
        european_number("x").alias("v")
    )
    assert lit.collect()[0].v == 1234.56


@pytest.fixture(scope="module")
def pipeline_run(spark, sf_dir, tmp_path_factory):
    """One successful run_pipeline: (out_dir, {output name: path})."""
    from pyprima_spark.pipeline import run_pipeline

    out_dir = str(tmp_path_factory.mktemp("pipeline") / "out")
    return out_dir, run_pipeline(spark, sf_dir, out_dir)


def _tree_bytes(root):
    """{relative path: contents} of every file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_pipeline_end_to_end(spark, sf_dir, pipeline_run):
    """runme.py-equivalent: every parquet output of the concurrent run
    matches its own stage's DuckDB oracle (so no output lands under
    another stage's name), and the European CSV model export carries
    every row of the demand matrix."""
    from pyprima_spark.plans.oracles import ORACLES
    from pyprima_spark.sources.readers import read_european_csv
    from tests.oracle_utils import assert_matches_oracle, run_oracle

    _, paths = pipeline_run
    assert len(paths) == 20
    for name, path in paths.items():
        if name != "demand_matrix_csv":
            assert_matches_oracle(spark.read.parquet(path), ORACLES[name], sf_dir)
    want = run_oracle(ORACLES["export_demand_matrix"], sf_dir)
    csv_rows = read_european_csv(spark, paths["demand_matrix_csv"]).count()
    assert csv_rows == len(want) > 0


def test_pipeline_manifest_lists_every_output(spark, pipeline_run):
    """_manifest.json is committed with the outputs; its footer row
    counts equal the rows read back."""
    import json

    out_dir, paths = pipeline_run
    with open(os.path.join(out_dir, "_manifest.json")) as fh:
        manifest = json.load(fh)
    assert set(manifest) == set(paths)
    for name, rec in manifest.items():
        assert rec["files"] > 0 and rec["bytes"] > 0 and rec["seconds"] > 0
        if name != "demand_matrix_csv":
            assert rec["rows"] == spark.read.parquet(paths[name]).count(), name
    csv_rows = manifest["demand_matrix_csv"]["rows"]
    assert csv_rows == manifest["export_demand_matrix"]["rows"] > 0


def test_failed_stage_leaves_no_partial_output(
    spark, sf_dir, pipeline_run, tmp_path, monkeypatch
):
    """A stage that raises names itself in PipelineStageError; an
    earlier run's out_dir stays byte-for-byte as it was, a fresh
    out_dir is never created, and no staging directory survives."""
    from pyprima_spark.pipeline import PipelineStageError, run_pipeline
    from pyprima_spark.plans.queries import QUERIES

    def fail(spark, sf_dir):
        raise ValueError("stage failed on purpose")

    monkeypatch.setitem(QUERIES, "shares_normalize", fail)
    out_dir, _ = pipeline_run
    before = _tree_bytes(out_dir)
    fresh_dir = str(tmp_path / "fresh")
    for target in (out_dir, fresh_dir):
        with pytest.raises(PipelineStageError) as err:
            run_pipeline(spark, sf_dir, target)
        assert err.value.stage == "shares_normalize"
        assert isinstance(err.value.__cause__, ValueError)
    assert _tree_bytes(out_dir) == before
    # No staging or set-aside sibling is left next to either target.
    assert os.listdir(os.path.dirname(out_dir)) == ["out"]
    assert os.listdir(tmp_path) == []


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join (purchase x prior-hour
    clicks) must emit exactly the batch range-join's pairs."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.streaming.joins import (
        purchase_click_pairs,
        run_purchase_click_stream,
    )

    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt_ss")
    )
    streamed = run_purchase_click_stream(spark, sf_dir, "t_pc").toPandas()
    batch = purchase_click_pairs(load_table(spark, sf_dir, "events")).toPandas()
    key = ["purchase_id", "c_ts"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) and len(s) > 0
    assert (s["purchase_id"].values == b["purchase_id"].values).all()
    assert abs(s["click_value"].values - b["click_value"].values).max() < 1e-9


def test_curation_pipeline_materializes_consistently(spark, sf_dir, tmp_path):
    """The written curated corpus must agree with the oracled funnel
    counts, and the source-partitioned layout must prune on read."""
    from pyspark.sql import functions as F

    from pyprima_spark.pipeline import run_curation

    manifest = run_curation(spark, sf_dir, str(tmp_path))
    corpus = spark.read.parquet(manifest["curated_docs"])
    funnel = spark.read.parquet(manifest["curation_funnel"])

    got = {
        r.source: (r.n, r.toks)
        for r in corpus.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("toks"))
        .collect()
    }
    want = {r.source: (r.n_final, r.tokens_final) for r in funnel.collect()}
    assert got == want

    one = corpus.filter(F.col("source") == "src3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan


def test_stateful_sessionize_event_time_timeout(spark, tmp_path):
    """Burst-1 sessions must be emitted by TIMER (watermark passing
    last_ts + gap), not by per-batch flushing: they arrive closed only
    after later batches advance the watermark. The still-open burst-3
    session must NOT be emitted at all."""
    import datetime as dt

    from pyprima_spark.streaming.sessions import (
        GAP_SECONDS,
        run_sessions_stream_timeout,
    )

    src = tmp_path / "bursts"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # FileStreamSource orders unprocessed files by MODIFICATION TIME
    # (not path); the sequential writes below usually suffice, but pin
    # distinct mtimes explicitly so coarse-mtime filesystems can't
    # reorder the batches.
    gap = dt.timedelta(seconds=GAP_SECONDS)
    write_batch("b1", [(1, t0, 10.0), (1, t0 + dt.timedelta(minutes=5), 2.5)])
    write_batch("b2", [(2, t0 + 2 * gap, 7.0)])          # advances watermark past user-1 timeout
    write_batch("b3", [(3, t0 + 5 * gap, 1.0)])          # fires user-1 (and user-2) timers
    import os as _os
    import time as _time

    now = _time.time()
    for i, name in enumerate(["b1", "b2", "b3"]):
        for f in (src / name).rglob("*"):
            _os.utime(f, (now + i, now + i))
    # availableNow + maxFilesPerTrigger=1 -> one batch per file, in order.
    got = run_sessions_stream_timeout(
        spark, f"{src}/*", query_name="t_sessions_timeout"
    ).collect()
    by_user = {r.user_id: r for r in got}
    assert 1 in by_user, f"user 1 session should have timed out: {got}"
    s1 = by_user[1]
    assert s1.n_events == 2 and abs(s1.total_value - 12.5) < 1e-9
    assert s1.session_start.startswith("2024-01-01 00:00:00")
    # burst-3 user stays open (watermark never passes its close edge)
    assert 3 not in by_user


def test_real_wav_decode_roundtrip(spark):
    """REAL decode path: synthesize actual RIFF/WAV PCM16 payloads into
    the binary column, parse them back with the stdlib `wave` reader,
    and check the decoded features against the analytic values of the
    generated square wave (rms == peak == amp/32768 exactly; duration ==
    n_frames/framerate)."""
    from pyprima_spark.operators.multimodal import (
        WAV_FRAMERATE,
        attach_wav_media,
        audio_features_wav,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    feats = {
        r.doc_id: r
        for r in audio_features_wav(attach_wav_media(docs)).collect()
    }
    assert len(feats) == 12
    for d in range(12):
        n = 400 + (d % 17) * 100
        amp = 1024 * (1 + d % 16)
        r = feats[d]
        assert abs(r.duration_s - round(n / WAV_FRAMERATE, 6)) < 1e-12, d
        assert abs(r.peak - round(amp / 32768.0, 6)) < 1e-12, d
        # square wave: every |sample| == amp, so rms == peak
        assert abs(r.rms - round(amp / 32768.0, 6)) < 1e-12, d


def test_sessions_timeout_out_of_order_across_batches(spark, tmp_path):
    """An event arriving in a LATER micro-batch with ts < the stored
    last_us (but above the watermark) must fold into the open session
    without moving its boundary backwards: last_us stays monotone, so
    session_end and the eviction timer do not regress."""
    import datetime as dt
    import os as _os
    import time as _time

    from pyprima_spark.streaming.sessions import (
        GAP_SECONDS,
        run_sessions_stream_timeout,
    )

    src = tmp_path / "ooo"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(seconds=GAP_SECONDS)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(str(src / name))

    write_batch("b1", [(1, t0, 1.0), (1, t0 + dt.timedelta(hours=1), 2.0)])
    # Arrives a batch later but 30 min BEFORE the stored last event;
    # the 2h watermark delay keeps it above the watermark.
    write_batch("b2", [(1, t0 + dt.timedelta(minutes=30), 4.0)])
    write_batch("b3", [(2, t0 + dt.timedelta(hours=1) + 2 * gap + dt.timedelta(hours=2), 9.0)])
    now = _time.time()
    for i, name in enumerate(["b1", "b2", "b3"]):
        for f in (src / name).rglob("*"):
            _os.utime(f, (now + i, now + i))

    got = run_sessions_stream_timeout(
        spark, f"{src}/*", watermark="2 hours", query_name="t_sessions_ooo"
    ).collect()
    by_user = {r.user_id: r for r in got}
    assert 1 in by_user, f"user 1 session should have timed out: {got}"
    s1 = by_user[1]
    assert s1.n_events == 3 and abs(s1.total_value - 7.0) < 1e-9
    assert s1.session_start.startswith("2024-01-01 00:00:00")
    # end = last event (01:00) + gap — NOT the late 00:30 event + gap
    expected_end = t0 + dt.timedelta(hours=1) + gap
    assert s1.session_end.startswith(expected_end.strftime("%Y-%m-%d %H:%M:%S"))


def test_streaming_quota_state_spans_batches(spark, tmp_path):
    """The quota counter must CARRY ACROSS micro-batches: 7 events in
    batch 1 plus 5 in batch 2 for the same (user, hour) is 12 seen and
    exactly 2 throttled — a per-batch (stateless) count would throttle
    none."""
    import datetime as dt
    import os as _os
    import time as _time

    from pyprima_spark.streaming.quota import RATE_LIMIT, quota_flags

    assert RATE_LIMIT == 10
    src = tmp_path / "quota"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, n0, n):
        rows = [
            (7, t0 + dt.timedelta(minutes=i), 100 + n0 + i, "click")
            for i in range(n0, n0 + n)
        ]
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    write_batch("b1", 0, 7)
    write_batch("b2", 7, 5)
    now = _time.time()
    for i, name in enumerate(["b1", "b2"]):
        for f in (src / name).rglob("*"):
            _os.utime(f, (now + i, now + i))

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        quota_flags(stream)
        .writeStream.format("memory")
        .queryName("t_quota_batches")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_quota_batches").collect()
    assert len(got) == 12
    throttled = sorted(r.event_id for r in got if r.throttled)
    # the 11th and 12th events in event-time order are the batch-2 tail
    # (id scheme: b1 = 100..106, b2 = 114..118; minutes 10 and 11)
    assert throttled == [117, 118], got


def test_real_png_decode_roundtrip_and_filters(spark):
    """REAL image path: spec-valid PNGs synthesized into the binary
    column, decoded back with the stdlib zlib/struct parser, feature
    values checked against the analytic means of the generated
    gradient. Also proves the decoder handles Sub/Up scanline filters
    it does NOT emit itself (so it is a decoder, not a mirror)."""
    import numpy as np

    from pyprima_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        attach_png_media,
        decode_png_rgb,
        image_features_png,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    feats = {
        r.doc_id: r
        for r in image_features_png(attach_png_media(docs)).collect()
    }
    assert len(feats) == 10
    for d in range(10):
        w, h = 8 + d % 13, 6 + d % 9
        r = feats[d]
        assert (r.width, r.height) == (w, h), d
        mr = sum((x * 7 + d) % 256 for x in range(w)) * h // (w * h)
        mg = sum((y * 11 + 2 * d) % 256 for y in range(h)) * w // (w * h)
        mb = sum(
            (x + y + 3 * d) % 256 for x in range(w) for y in range(h)
        ) // (w * h)
        assert (r.mean_r, r.mean_g, r.mean_b) == (mr, mg, mb), d

    # independent encodes using filter types 1 (Sub) and 2 (Up)
    import struct
    import zlib

    arr = (np.arange(4 * 5 * 3).reshape(4, 5, 3) % 251).astype(np.uint8)
    # Sub filter: line[x] - line[x-3]
    raw1 = b""
    for y in range(4):
        line = arr[y].reshape(-1).astype(np.int16)
        f = line.copy()
        f[3:] = (line[3:] - line[:-3]) & 0xFF
        raw1 += b"\x01" + f.astype(np.uint8).tobytes()
    # Up filter: line - previous line
    raw2 = b""
    prev = np.zeros(15, dtype=np.int16)
    for y in range(4):
        line = arr[y].reshape(-1).astype(np.int16)
        raw2 += b"\x02" + ((line - prev) & 0xFF).astype(np.uint8).tobytes()
        prev = line
    for raw in (raw1, raw2):
        png = (
            _PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )
        assert (decode_png_rgb(png) == arr).all()


def test_stream_stream_outer_join_matches_batch(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream join: matched pairs must equal the
    batch inner set; null-extended rows may only appear for purchases
    whose join-state eviction point the final watermark passed (engine
    semantics: outer results emit when no match can still arrive), and
    every one must be genuinely unmatched in the batch left join."""
    import pandas as pd

    from pyprima_spark.catalog import load_table
    from pyprima_spark.streaming.joins import (
        purchase_click_pairs,
        purchase_click_pairs_outer,
        run_purchase_click_outer_stream,
    )

    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt_sso")
    )
    streamed = run_purchase_click_outer_stream(spark, sf_dir, "t_pco").toPandas()
    ev = load_table(spark, sf_dir, "events")
    batch_inner = purchase_click_pairs(ev).toPandas()
    batch_outer = purchase_click_pairs_outer(ev).toPandas()

    s_matched = streamed[streamed["c_ts"].notna()]
    key = ["purchase_id", "c_ts"]
    s = s_matched.sort_values(key).reset_index(drop=True)
    b = batch_inner.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) and len(s) > 0
    assert (s["purchase_id"].values == b["purchase_id"].values).all()

    s_null = streamed[streamed["c_ts"].isna()]
    batch_unmatched = set(
        batch_outer.loc[batch_outer["c_ts"].isna(), "purchase_id"]
    )
    # every emitted null-extended purchase is truly unmatched...
    assert set(s_null["purchase_id"]).issubset(batch_unmatched)
    # ...and the tail withheld by the final watermark is the ONLY gap
    wm_cut = pd.to_datetime(ev.toPandas()["ts"].max()) - pd.Timedelta("2 hours")
    missing = batch_unmatched - set(s_null["purchase_id"])
    if missing:
        late = batch_outer[batch_outer["purchase_id"].isin(missing)]
        assert (pd.to_datetime(late["p_ts"]) >= wm_cut - pd.Timedelta("1 hour")).all()


def test_fused_roundtrips_match_staged_operators(spark):
    """r11: the fused single-worker round-trip operators must produce
    BYTE-IDENTICAL results to the staged attach->decode pipelines they
    replace in the query bodies (multimodal_image, image_phash_groups,
    multimodal_jpeg) — same encoder, same parser, no Arrow crossing of
    the payload column."""
    from pyprima_spark.operators.multimodal import (
        attach_jpeg_media,
        attach_png_media,
        image_ahash_png,
        image_features_jpeg,
        image_features_png,
        jpeg_features_roundtrip,
        png_ahash_roundtrip,
        png_features_roundtrip,
    )

    docs = spark.createDataFrame([(i,) for i in range(37)], "doc_id long")

    staged = {
        r.doc_id: r
        for r in image_features_png(attach_png_media(docs)).collect()
    }
    fused = {r.doc_id: r for r in png_features_roundtrip(docs).collect()}
    assert staged == fused and len(fused) == 37

    staged_h = {
        r.doc_id: (r.hash_hi, r.hash_lo)
        for r in image_ahash_png(attach_png_media(docs)).collect()
    }
    fused_h = {
        r.doc_id: (r.hash_hi, r.hash_lo)
        for r in png_ahash_roundtrip(docs).collect()
    }
    assert staged_h == fused_h

    staged_j = {
        r.doc_id: r
        for r in image_features_jpeg(attach_jpeg_media(docs, 90)).collect()
    }
    fused_j = {
        r.doc_id: r for r in jpeg_features_roundtrip(docs, 90).collect()
    }
    assert staged_j == fused_j
