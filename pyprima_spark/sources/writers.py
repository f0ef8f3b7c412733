"""Sinks: partitioned parquet and bucketed tables.

The reference writes one flat CSV/parquet per output
(generate_intermediate_files.py:116 `to_csv`, :131 hdf). At 100 TB a
flat file is unusable; the scale-correct sinks are:

* **Hive-partitioned parquet** — `partitionBy(keys)` lays files out as
  `key=value/` directories so downstream readers get partition PRUNING
  (a filter on the partition key never touches non-matching files).
* **Bucketed tables** — `bucketBy(n, key)` pre-shuffles rows into a
  fixed number of hash buckets per partition; two tables bucketed the
  same way join with ZERO shuffle (Catalyst sees the co-partitioning).
  This is how a 100 TB fact table joins a 10 TB fact table nightly
  without re-shuffling either side every run.

Every rewrite of a local table or output directory (`merge_upsert`,
`compact_partitioned`, `pipeline.run_pipeline`, `pipeline.run_curation`)
commits through :func:`staged_dir`: the new files are written beside
the target and renamed over it only when the write succeeded.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet sink.

    Rows are NOT repartitioned here by default: `partitionBy` splits
    each task's output by key, so k partition keys × t tasks gives up
    to k*t files. Callers with high task counts should
    `df.repartition(*partition_cols)` first (one shuffle) to get one
    file per key — the classic small-files trade-off made explicit.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Requires a session catalog (warehouse dir); joins between tables
    bucketed on the same column with the same bucket count skip both
    shuffle AND sort (SortMergeJoin reads pre-sorted buckets).
    """
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_orc(df, path: str) -> None:
    """ORC sink (overwrite) — the interchange format for Hive-era
    consumers; column pruning and predicate pushdown survive the
    round-trip (asserted in tests/test_sources_formats.py)."""
    df.write.mode("overwrite").orc(path)


def write_jsonl(df, path: str) -> None:
    """JSON-lines sink (overwrite) — one JSON object per line, the
    interchange format for streaming/LLM-pipeline consumers. Pair with
    readers.read_jsonl and an explicit schema to round-trip losslessly
    (microsecond timestamps included — the default format truncates to
    milliseconds)."""
    df.write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ).json(path)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for a Hive-partitioned parquet table.

    Streaming/foreachBatch and high-task-count writers accumulate many
    tiny files per partition; scans then pay one task + one open per
    file. Rewrite the table with one file per `target_bytes` of data:
    a single read → repartition-by-partition-key → write pass, all
    distributed (file sizing estimated from the table's on-disk
    footprint, no driver-side listing of row data). The rewrite is
    committed with :func:`staged_dir`, so a failed write leaves the
    old files as they were.

    Returns the file count after compaction.
    """
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, math.ceil(total / target_bytes))
    compacted = spark.read.parquet(path).repartition(n_files, *partition_cols)
    with staged_dir(path) as staging:
        compacted.write.partitionBy(*partition_cols).parquet(staging)
    count = 0
    for root, _dirs, files in os.walk(path):
        count += sum(1 for f in files if f.endswith(".parquet"))
    return count


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> None:
    """MERGE-INTO analogue over plain parquet: last-writer-wins upsert.

    Existing rows whose key matches an update are replaced; new keys
    append. One anti-join (existing vs update keys, update side usually
    broadcastable) + one union + one write of the whole table — the
    batch pattern behind every warehouse table Spark maintains without
    a table format. The merged table is written beside the target and
    swapped in by :func:`staged_dir`; a table format (Iceberg / Delta)
    replaces the directory swap, not the plan shape.
    """
    merged = updates
    if os.path.exists(target_path):
        existing = spark.read.parquet(target_path)
        keep = existing.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = keep.unionByName(updates.select(*existing.columns))
    w = merged.write
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    with staged_dir(target_path) as staging:
        w.parquet(staging)


@contextmanager
def staged_dir(target: str) -> Iterator[str]:
    """Commit a directory rewrite as a whole.

    Yields a fresh sibling path ``<target>.staging-<uuid>`` (the parent
    of ``target`` is created first) for the caller to write into. On
    normal exit the staging path replaces ``target``; on any exception
    it is removed and the exception re-raised, so ``target`` is left
    exactly as it was. The staging write may read ``target`` itself:
    nothing under ``target`` changes until the swap.
    """
    target = os.path.abspath(target)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    token = uuid.uuid4().hex
    staging = f"{target}.staging-{token}"
    try:
        yield staging
        _replace_dir(staging, target, f"{target}.previous-{token}")
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def _replace_dir(new: str, target: str, aside: str) -> None:
    """Rename ``new`` to ``target``. An existing ``target`` is first
    renamed to ``aside``, put back if the swap fails, and removed once
    it succeeded."""
    had_target = os.path.lexists(target)
    if had_target:
        os.replace(target, aside)
    try:
        os.replace(new, target)
    except OSError:
        if had_target:
            os.replace(aside, target)
        raise
    if had_target:
        shutil.rmtree(aside)
