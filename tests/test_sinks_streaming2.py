"""Sink (partitioned/bucketed) and streaming-dedup / stream-static tests."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F


def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    """Partitioned sink lays out source=... dirs; a filter on the
    partition key is answered by pruning (scan reads only that dir)."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.sources.writers import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_part")
    write_partitioned(docs.repartition("source"), out, ["source"])

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    sources = [r.source for r in docs.select("source").distinct().collect()]
    one = back.filter(F.col("source") == sources[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan
    want = docs.filter(F.col("source") == sources[0]).count()
    assert one.count() == want
    # physical layout is hive-style key=value directories
    import os

    assert any(d.startswith("source=") for d in os.listdir(out))


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same key/count join with no Exchange —
    the co-location contract write_bucketed exists for."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.sources.writers import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(orders, "t_orders_b", "o_custkey", 4, sort_col="o_custkey")
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "t_cust_b",
        "o_custkey",
        4,
        sort_col="o_custkey",
    )
    try:
        a = spark.table("t_orders_b")
        b = spark.table("t_cust_b")
        # disable broadcast so the shuffle (if any) would be visible
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "o_custkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == orders.join(
                cust, orders.o_custkey == cust.c_custkey
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_streaming_dedup_bounded_state(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per key and agrees
    with the batch dropDuplicates row count."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.streaming.events import dedup_events_stream, stream_events

    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt_dedup")
    )
    out = dedup_events_stream(stream_events(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_dedup").count()
    batch = dedup_events_stream(load_table(spark, sf_dir, "events")).count()
    assert got == batch > 0


def test_stream_static_join(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment matches the batch join."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.streaming.events import stream_events, stream_static_enrich

    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt_ss")
    )
    nation = load_table(spark, sf_dir, "nation")
    out = stream_static_enrich(stream_events(spark, sf_dir), nation)
    q = (
        out.writeStream.format("memory")
        .queryName("t_ss")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_ss")
    batch = stream_static_enrich(load_table(spark, sf_dir, "events"), nation)
    assert got.count() == batch.count() > 0
    g1 = {(r.event_id, r.n_name) for r in got.limit(5000).collect()}
    b1 = {
        (r.event_id, r.n_name)
        for r in batch.filter(F.col("event_id").isin([x[0] for x in g1])).collect()
    }
    assert g1 == b1


def test_foreach_batch_sink_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch sink: one run lands every event exactly once; a
    second run against the same checkpoint adds nothing."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.streaming.events import run_foreach_batch_sink

    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    run_foreach_batch_sink(spark, sf_dir, out, ckpt)
    n_events = load_table(spark, sf_dir, "events").count()
    first = spark.read.option("basePath", out).parquet(out).count()
    assert first == n_events > 0

    run_foreach_batch_sink(spark, sf_dir, out, ckpt)
    second = spark.read.option("basePath", out).parquet(out).count()
    assert second == n_events


def test_compact_partitioned_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from pyprima_spark.catalog import load_table
    from pyprima_spark.sources.writers import compact_partitioned

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.dayofmonth("ts")
    )
    path = str(tmp_path / "shattered")
    # deliberately shatter: many tasks x partition keys -> many files
    ev.repartition(16).write.partitionBy("event_type").parquet(path)
    import os

    before = sum(
        1 for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    n_rows = spark.read.parquet(path).count()
    after = compact_partitioned(spark, path, ["event_type"])
    assert after < before
    back = spark.read.parquet(path)
    assert back.count() == n_rows
    # partition layout (and pruning) survives compaction
    plan = back.filter(F.col("event_type") == "click")._jdf.queryExecution()
    assert "PartitionFilters: [isnotnull(event_type" in plan.executedPlan().toString()


def test_merge_upsert_last_writer_wins(spark, tmp_path):
    from pyprima_spark.sources.writers import merge_upsert

    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "x")], "id long, v string, p string"
    )
    merge_upsert(spark, path, v1, ["id"], ["p"])
    v2 = spark.createDataFrame(
        [(2, "B", "x"), (4, "d", "y")], "id long, v string, p string"
    )
    merge_upsert(spark, path, v2, ["id"], ["p"])
    got = {
        (r.id, r.v, r.p) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", "x"), (2, "B", "x"), (3, "c", "x"), (4, "d", "y")}


def _tree_sha256(root):
    """{relative path: SHA-256} of every file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _parquet_writes_then_fails(monkeypatch):
    """Every parquet write completes, then raises."""
    from pyspark.sql.readwriter import DataFrameWriter

    write = DataFrameWriter.parquet

    def write_then_fail(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        raise OSError("parquet write failed on purpose")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)


def test_merge_upsert_failed_write_keeps_old_table(spark, tmp_path, monkeypatch):
    """A merge whose write fails leaves every file of the old table as
    it was and no staging or set-aside sibling behind."""
    from pyprima_spark.sources.writers import merge_upsert

    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "x")], "id long, v string, p string"
    )
    merge_upsert(spark, path, v1, ["id"], ["p"])
    before = _tree_sha256(path)
    v2 = spark.createDataFrame(
        [(2, "B", "x"), (4, "d", "y")], "id long, v string, p string"
    )
    _parquet_writes_then_fails(monkeypatch)
    with pytest.raises(OSError, match="on purpose"):
        merge_upsert(spark, path, v2, ["id"], ["p"])
    assert _tree_sha256(path) == before
    assert os.listdir(tmp_path) == ["dim"]


def test_compact_partitioned_failed_write_keeps_old_table(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A compaction whose write fails leaves every file of the old
    table as it was and no staging or set-aside sibling behind."""
    from pyprima_spark.catalog import load_table
    from pyprima_spark.sources.writers import compact_partitioned

    path = str(tmp_path / "shattered")
    load_table(spark, sf_dir, "events").repartition(16).write.partitionBy(
        "event_type"
    ).parquet(path)
    before = _tree_sha256(path)
    _parquet_writes_then_fails(monkeypatch)
    with pytest.raises(OSError, match="on purpose"):
        compact_partitioned(spark, path, ["event_type"])
    assert _tree_sha256(path) == before
    assert os.listdir(tmp_path) == ["shattered"]


def test_python_streaming_datasource_exactly_once(spark, tmp_path):
    """Spark 4 Python STREAMING DataSource (SimpleDataSourceStreamReader):
    the deterministic ticker source delivers contiguous seqs with no
    gaps or dups across micro-batches (offset cursor = exactly-once),
    and values match the pure function of seq."""
    import time

    from pyprima_spark.sources.datasource_api import register_ticker_stream

    register_ticker_stream(spark)
    stream = (
        spark.readStream.format("ticker_stream")
        .option("rowsPerBatch", "7")
        .load()
    )
    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.extend((r["seq"], r["value"]) for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and len(seen) < 21:
        time.sleep(0.5)
    q.stop()
    assert len(seen) >= 21, f"only {len(seen)} rows arrived"
    seqs = sorted(s for s, _ in seen)
    assert seqs == list(range(len(seqs))), "gaps or dups in the cursor"
    assert all(v == (s * 7) % 100 for s, v in seen)


def test_ticker_stream_event_time_windowed_agg(spark, tmp_path):
    """Composition: the Python streaming source feeds the normal
    event-time machinery — seqs become timestamps, a 10s tumbling
    window aggregates them, and every closed interior window holds
    exactly 10 seqs (the source's contiguity surfacing through the
    windowed agg)."""
    import time

    from pyprima_spark.sources.datasource_api import register_ticker_stream

    register_ticker_stream(spark)
    stream = (
        spark.readStream.format("ticker_stream")
        .option("rowsPerBatch", "9")
        .load()
        .withColumn("ts", F.expr("timestamp_seconds(1700000000 + seq)"))
    )
    agg = stream.groupBy(F.window("ts", "10 seconds")).count()
    windows: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            windows[r["window"].start] = r["count"]

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and sum(windows.values()) < 30:
        time.sleep(0.5)
    q.stop()
    assert len(windows) >= 3
    # every window except the still-open last one must hold exactly 10
    closed = sorted(windows)[:-1]
    assert closed and all(windows[w] == 10 for w in closed)
