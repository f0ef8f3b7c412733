"""The catalog's declared input schemas (catalog.TABLE_SCHEMAS): they match
what Spark infers from every data set, a drifted footer is refused with a
named error, a TIMESTAMP(NANOS) events file reads as the micros one does,
and loading the catalog launches no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pyprima_spark.catalog import (
    TABLE_SCHEMAS,
    TABLES,
    SchemaDriftError,
    load_table,
    load_tables,
    table_path,
)


@pytest.fixture(scope="module")
def perfbench_dir(tmp_path_factory) -> str:
    from perfbench.datagen import write_tables

    out = str(tmp_path_factory.mktemp("perfbench_sf0.001"))
    write_tables(out, 0.001, 42)
    return out


def _linked_copy(src: str, dst: str, skip: str | None = None) -> str:
    """A fresh scale-factor directory (so no catalog cache entry exists)
    whose tables link to ``src``'s, except ``skip``."""
    for name in TABLES:
        if name != skip:
            os.symlink(table_path(src, name), table_path(dst, name))
    return dst


def _ntz_as_timestamp(schema: T.StructType) -> T.StructType:
    return T.StructType([
        T.StructField(
            f.name,
            T.TimestampType() if isinstance(f.dataType, T.TimestampNTZType) else f.dataType,
            f.nullable,
        )
        for f in schema.fields
    ])


@pytest.mark.parametrize("data", ["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def test_declared_schemas_match_inferred(spark, sf_dir, data, perfbench_dir):
    """Every test-data scale factor (siblings of the tests' own) and the
    benchmark's generated data."""
    if data == "perfbench":
        data_dir = perfbench_dir
    else:
        data_dir = os.path.join(os.path.dirname(sf_dir), data)
    for name in TABLES:
        inferred = spark.read.parquet(table_path(data_dir, name)).schema
        assert _ntz_as_timestamp(inferred) == TABLE_SCHEMAS[name], name


@pytest.mark.parametrize(
    "table, column, new_type",
    [("orders", "o_custkey", pa.int32()), ("documents", "n_chars", pa.int32())],
)
def test_drifted_column_raises_named_error(spark, sf_dir, tmp_path, table, column, new_type):
    src = pq.read_table(table_path(sf_dir, table))
    i = src.schema.get_field_index(column)
    pq.write_table(
        src.set_column(i, column, src.column(i).cast(new_type)),
        table_path(str(tmp_path), table),
    )
    _linked_copy(sf_dir, str(tmp_path), skip=table)
    with pytest.raises(SchemaDriftError, match=column) as err:
        load_table(spark, str(tmp_path), table)
    assert (err.value.table, err.value.column) == (table, column)
    assert "declared bigint, found int" in str(err.value)
    with pytest.raises(SchemaDriftError):
        load_tables(spark, str(tmp_path))


def test_missing_and_extra_columns_raise_named_error(spark, sf_dir, tmp_path):
    src = pq.read_table(table_path(sf_dir, "nation"))
    missing, extra = tmp_path / "missing", tmp_path / "extra"
    missing.mkdir()
    extra.mkdir()
    pq.write_table(src.drop_columns(["n_name"]), table_path(str(missing), "nation"))
    pq.write_table(
        src.append_column("n_comment", src.column("n_name")),
        table_path(str(extra), "nation"),
    )
    with pytest.raises(SchemaDriftError, match="'n_name': declared string, found absent"):
        load_table(spark, str(missing), "nation")
    with pytest.raises(SchemaDriftError, match="'n_comment': declared absent, found string"):
        load_table(spark, str(extra), "nation")


def test_nanos_events_read_like_micros(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` is read as long nanos and converted, and
    ``nanosAsLong`` is set only when a footer needs it (a micros load
    leaves it as it was)."""
    from pyprima_spark.streaming.events import stream_events

    micros = pq.read_table(table_path(sf_dir, "events"))
    i = micros.schema.get_field_index("ts")
    pq.write_table(
        micros.set_column(i, "ts", micros.column(i).cast(pa.timestamp("ns"))),
        table_path(str(tmp_path), "events"),
    )
    assert str(pq.read_schema(table_path(str(tmp_path), "events")).field("ts").type) == "timestamp[ns]"

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        want = load_table(spark, sf_dir, "events")
        assert spark.conf.get(conf) == "false"
        got = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, before)
    assert got.schema == want.schema == TABLE_SCHEMAS["events"]
    assert (
        got.orderBy("event_id").select("event_id", "ts").collect()
        == want.orderBy("event_id").select("event_id", "ts").collect()
    )
    assert stream_events(spark, str(tmp_path)).schema == TABLE_SCHEMAS["events"]


def test_spark_written_int96_events_read_like_micros(spark, sf_dir, tmp_path):
    """Spark writes TIMESTAMP as INT96 by default, which pyarrow reports
    as nanos; the footer check must not take it for TIMESTAMP(NANOS)."""
    want = load_table(spark, sf_dir, "events")
    want.write.parquet(table_path(str(tmp_path), "events"))
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == TABLE_SCHEMAS["events"]
    assert (
        got.orderBy("event_id").select("event_id", "ts").collect()
        == want.orderBy("event_id").select("event_id", "ts").collect()
    )


def test_load_tables_launches_no_spark_job(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    group = "catalog-load-tables-probe"
    fresh = _linked_copy(sf_dir, str(tmp_path))
    sc.setJobGroup(group, "load_tables on an uncached directory")
    try:
        load_tables(spark, fresh)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # The probe sees jobs: schema inference runs one.
        spark.read.parquet(table_path(fresh, "region"))
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
