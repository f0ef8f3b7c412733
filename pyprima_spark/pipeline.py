"""End-to-end pipeline runner — the Spark-native equivalent of the
reference's ``runme.py`` (reference: runme.py:6-32), which chains
clean-raw-data → generate-intermediate-files → generate-model-files.

``run_pipeline`` writes 20 outputs: one parquet directory per stage key
of the three phases below, plus the demand matrix in the reference's
European CSV convention. Stages read the catalog lazily, so a stage's
unused inputs are never scanned.

**Concurrent stages.** Every output is a few small, latency-bound Spark
jobs; written one after another they leave the task slots mostly idle.
The stage plans are independent and lazy (building one runs no Spark
job), so all 20 writes go to one thread pool at once. PySpark's
pinned-thread mode gives each Python thread its own JVM thread, so the
plans build and their jobs run side by side. The pool has
``defaultParallelism`` workers, one per task slot: fewer leave slots
idle, and more only queue more concurrent jobs in the JVM, whose heap
grows with them while the slots they wait for stay the same.

**Atomic commit.** The outputs are written into a fresh sibling
directory, ``<out_dir>.staging-<uuid>``, which replaces ``out_dir``
only after every output has been written: an existing ``out_dir`` is
renamed aside, the staging directory renamed into its place, and the
old copy removed. On the first failed output, the outputs not yet
started are cancelled, the running ones awaited, the staging directory
deleted, and ``PipelineStageError`` raised with the failing output's
name; an earlier ``out_dir`` stays exactly as it was.

**Manifest.** The last file written to the staging directory, and so
committed with the outputs, is ``_manifest.json``: rows, bytes, data
files and submit-to-done seconds of every output. Parquet row counts
come from the file footers, not from a Spark job. The leading ``_``
marks it as metadata, like Spark's ``_SUCCESS``, so tools that size the
data files skip it.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

# Stage membership mirrors runme.py's three phases.
CLEANING = (
    "recode_group",
    "shares_normalize",
    "mode_impute",
    "ffill_impute",
    "gap_fill_trend",
    "dedup_names",
    "clean_names_ascii",
    "interval_binning",
)
INTERMEDIATE = (
    "calendar_enrich",
    "profile_normalize",
    "resample_hourly",
    "weighted_disaggregate",
    "canonical_edges",
    "neighbor_expansion",
    "transmission_attrs",
    "cohort_rollup",
    "expansion_grid",
)
MODEL = (
    "export_demand_matrix",
    "unpivot_long",
)
# Model files additionally ship in the reference's CSV convention
# (to_csv(sep=';', decimal=',') throughout generate_models.py).
CSV_OUTPUT = "demand_matrix_csv"
MANIFEST = "_manifest.json"


class PipelineStageError(RuntimeError):
    """A ``run_pipeline`` output failed to build or write; ``stage`` is
    its name and the original error is chained as ``__cause__``."""

    def __init__(self, stage: str) -> None:
        super().__init__(f"pipeline stage {stage!r} failed")
        self.stage = stage


def run_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """Write all 20 outputs concurrently and commit them to ``out_dir``
    as a whole; returns {output name: path}. Raises
    ``PipelineStageError`` naming the first output that failed, leaving
    any earlier ``out_dir`` untouched."""
    from pyprima_spark.plans.queries import QUERIES
    from pyprima_spark.sources import readers

    out_dir = os.path.abspath(out_dir)
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    token = uuid.uuid4().hex
    staging = f"{out_dir}.staging-{token}"
    os.mkdir(staging)

    def write(name: str, submitted: float) -> dict[str, dict]:
        df = QUERIES[name](spark, sf_dir)
        path = os.path.join(staging, name)
        df.write.parquet(path)
        written = {name: _describe(path, submitted)}
        if name == "export_demand_matrix":
            # The CSV re-reads the staged parquet instead of planning and
            # running the pivot again; the known schema skips inference.
            staged = spark.read.schema(df.schema).parquet(path).orderBy("t")
            csv_path = os.path.join(staging, CSV_OUTPUT)
            readers.write_european_csv(staged, csv_path)
            written[CSV_OUTPUT] = _describe(csv_path, submitted)
        return written

    stages = CLEANING + INTERMEDIATE + MODEL
    manifest: dict[str, dict] = {}
    try:
        with ThreadPoolExecutor(
            max_workers=spark.sparkContext.defaultParallelism,
            thread_name_prefix="run_pipeline",
        ) as pool:
            futures = {
                pool.submit(write, name, time.perf_counter()): name
                for name in stages
            }
            try:
                for future in as_completed(futures):
                    try:
                        manifest.update(future.result())
                    except Exception as exc:
                        raise PipelineStageError(futures[future]) from exc
            except BaseException:
                pool.shutdown(wait=True, cancel_futures=True)
                raise
        outputs = stages + (CSV_OUTPUT,)
        with open(os.path.join(staging, MANIFEST), "w") as fh:
            json.dump({name: manifest[name] for name in outputs}, fh, indent=1)
        _replace_dir(staging, out_dir, f"{out_dir}.previous-{token}")
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return {name: os.path.join(out_dir, name) for name in outputs}


def _describe(path: str, submitted: float) -> dict:
    """Rows, bytes and data files of one written output directory, and
    the seconds since its write was submitted. ``_``- and ``.``-prefixed
    files (``_SUCCESS``, checksums) are not data. Parquet rows come from
    the footers; a CSV part file's rows are its records after the
    header."""
    rows = size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            file = os.path.join(root, name)
            size += os.path.getsize(file)
            files += 1
            if name.endswith(".parquet"):
                rows += pq.read_metadata(file).num_rows
            else:
                with open(file, newline="") as fh:
                    records = sum(1 for _ in csv.reader(fh, delimiter=";"))
                rows += max(0, records - 1)
    return {
        "rows": rows,
        "bytes": size,
        "files": files,
        "seconds": round(time.perf_counter() - submitted, 3),
    }


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


def run_curation(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """Materialize the LLM training-data curation pipeline: the curated
    corpus lands as parquet partitioned by source (downstream per-source
    sampling prunes on the partition key), alongside the funnel-count
    manifest table. Stage semantics are `queries.corpus_curation`'s —
    both read the same flag frame, so the written corpus always agrees
    with the oracled funnel counts.
    """
    from pyprima_spark.plans.queries import QUERIES, curation_flags

    d, keptn = curation_flags(spark, sf_dir)
    corpus_path = os.path.join(out_dir, "curated_docs")
    (
        d.filter(keptn)
        .select("doc_id", "source", "n_tok", "text")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(corpus_path)
    )
    funnel_path = os.path.join(out_dir, "curation_funnel")
    QUERIES["corpus_curation"](spark, sf_dir).write.mode("overwrite").parquet(
        funnel_path
    )
    return {"curated_docs": corpus_path, "curation_funnel": funnel_path}


def ingest_warc(spark: SparkSession, warc_glob: str):
    """Crawl archives → the ``documents`` table shape: the ingest step
    in FRONT of the curation stack (WARC → here → run_curation →
    export_curated_tfrecord is the whole corpus pipeline end to end).

    ``response`` records are stripped of their stored HTTP header block
    (everything through the first blank line — WARC keeps the raw
    exchange; a bare ``\\n\\n`` separator from a non-compliant server
    is accepted as fallback, and a response with NO separator at all is
    DROPPED rather than leaking its header block into the text);
    ``resource`` records are taken whole; every other record type
    (warcinfo, request, metadata, …) is dropped.  All mapping is
    JVM-side on top of the verifying WARC reader: doc_id is the 60-bit
    md5 of the record id (stable across re-crawls of the same archive),
    source is the URI host via parse_url, lang is left null for the
    downstream language-ID operator, n_chars is computed after header
    stripping.  UTF-8 decode replaces malformed bytes (crawl reality)
    rather than failing the scan — enforced here via the session's
    codingErrorAction so driver-built sessions behave like
    build_session's.
    """
    from pyspark.sql import functions as F

    from pyprima_spark.functions import text as X
    from pyprima_spark.sources.warc import read_warc

    # Spark 4 default aborts the job on one malformed byte sequence
    # (MALFORMED_CHARACTER_CODING); crawls are not reliably UTF-8.
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    recs = read_warc(spark, warc_glob)
    txt = F.expr("decode(content, 'UTF-8')")
    sep_crlf = F.expr(r"instr(decode(content, 'UTF-8'), '\r\n\r\n')")
    sep_lf = F.expr(r"instr(decode(content, 'UTF-8'), '\n\n')")
    body = (
        F.when(F.col("warc_type") != "response", txt)
        .when(
            sep_crlf > 0,
            F.expr(
                r"substring(decode(content, 'UTF-8'),"
                r" instr(decode(content, 'UTF-8'), '\r\n\r\n') + 4)"
            ),
        )
        .when(
            sep_lf > 0,
            F.expr(
                r"substring(decode(content, 'UTF-8'),"
                r" instr(decode(content, 'UTF-8'), '\n\n') + 2)"
            ),
        )
        # responses with no header/body separator: NULL -> filtered
    )
    return (
        recs.filter(F.col("warc_type").isin("response", "resource"))
        .withColumn("text", body)
        .filter(F.col("text").isNotNull())
        .select(
            F.expr(X.hash64_spark("record_id")).alias("doc_id"),
            F.col("text"),
            F.lit(None).cast("string").alias("lang"),
            F.coalesce(
                F.expr("parse_url(target_uri, 'HOST')"),
                F.lit("unknown"),
            ).alias("source"),
            F.length("text").alias("n_chars"),
        )
    )


def export_curated_tfrecord(
    spark: SparkSession, sf_dir: str, out_dir: str, n_shards: int = 16
):
    """The curation stack's EXPORT leg: the curated corpus (same flag
    frame `corpus_curation` oracles) written as ``n_shards`` TFRecord
    files of tf.train.Example records — the hand-off format a training
    job actually consumes.  Sharding is hash-of-doc_id (data-derived,
    byte-identical reruns; sources/tfrecord.py); returns the per-shard
    manifest DataFrame."""
    from pyprima_spark.plans.queries import curation_flags
    from pyprima_spark.sources.tfrecord import write_tfrecord_shards

    d, keptn = curation_flags(spark, sf_dir)
    curated = d.filter(keptn).select("doc_id", "source", "n_tok", "text")
    return write_tfrecord_shards(
        curated,
        out_dir,
        n_shards=n_shards,
        shard_by=["doc_id"],
        order_by=["doc_id"],
    )
