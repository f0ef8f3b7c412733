"""Spark 4 Python DataSource API: a deterministic streaming source.

``register_ticker_stream(spark)`` registers ``ticker_stream``, a Python
streaming source (``SimpleDataSourceStreamReader``, SPARK-44076) that
the streaming tests drive end to end:

    spark.readStream.format("ticker_stream").option("rowsPerBatch", "7").load()

The byte formats have no DataSource here: each is read by one function
(``read_avro``, ``read_tfrecord``, ``read_warc``, ``read_xlsx_sheet``,
``read_raster_tiles``, ``read_point_shapefile``), and the per-file ones
share :func:`pyprima_spark.sources.files.read_files`, whose
``binaryFile`` scan reaches any filesystem Spark can list.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import LongType, StructField, StructType


class TickerStreamDataSource(DataSource):
    """``spark.readStream.format("ticker_stream")`` — a DETERMINISTIC
    Python STREAMING source (SimpleDataSourceStreamReader, the Spark 4
    streaming half of this API, SPARK-44076): each micro-batch emits
    the next ``rowsPerBatch`` ledger rows (seq, value) with value a
    pure function of seq, and the offset is the replayable cursor —
    so exactly-once delivery is testable end to end (contiguous seqs,
    no gaps, no dups, replay between offsets yields identical rows).
    No file, no socket, no external service."""

    @classmethod
    def name(cls) -> str:
        return "ticker_stream"

    def schema(self) -> StructType:
        return StructType(
            [StructField("seq", LongType()), StructField("value", LongType())]
        )

    def simpleStreamReader(self, schema: StructType):
        return _TickerStreamReader(
            int(self.options.get("rowsperbatch", "10"))
        )


class _TickerStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, rows_per_batch: int) -> None:
        self.rows_per_batch = rows_per_batch

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        lo = int(start["seq"])
        hi = lo + self.rows_per_batch
        return (self._rows(lo, hi), {"seq": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay: recompute, never cache
        return self._rows(int(start["seq"]), int(end["seq"]))

    @staticmethod
    def _rows(lo: int, hi: int):
        return iter([(s, (s * 7) % 100) for s in range(lo, hi)])

    def commit(self, end: dict) -> None:
        pass


def register_ticker_stream(spark) -> None:
    """Register the ``ticker_stream`` format on the session (idempotent)."""
    spark.dataSource.register(TickerStreamDataSource)
