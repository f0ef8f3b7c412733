"""Round-9 operators (SURVEY §2 #390–392): the driver-gated closure of
the round-8 format legs and of the end-to-end corpus pipeline.

- tfrecord_roundtrip: the pure-stdlib TFRecord source/sink
  (sources/tfrecord.py — masked CRC-32C framing + verifying
  tf.train.Example codec) exercised through the correctness gate via
  its DISTRIBUTED sharded writer, the avro_roundtrip pattern
  (round7.py).
- warc_roundtrip: the pure-stdlib WARC source/sink (sources/warc.py,
  ISO 28500) write→read closure, covering both stored-HTTP ``response``
  framing and bare ``resource`` records.
- corpus_pipeline_manifest: the WHOLE corpus pipeline —
  WARC crawl → ingest_warc → curation funnel → sharded TFRecord
  export → read-back census — under one oracle.  This is the engine's
  analogue of the reference's chained runme.py run (reference:
  runme.py:6-32 chains clean-raw-data → intermediate → model files);
  the oracle replays the identical curation funnel over the
  WARC-remapped document ids in pure SQL.

Determinism rules as everywhere: integer arithmetic at every reported
edge (byte counts, token sums, mod-p id checksums), no floats cross
the gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyprima_spark.functions import text as X
from pyprima_spark.pipeline import export_curated_tfrecord, ingest_warc
from pyprima_spark.plans.core import _t, curation_funnel_ctes
from pyprima_spark.sources import fsio
from pyprima_spark.sources.tfrecord import read_tfrecord, write_tfrecord_shards
from pyprima_spark.sources.warc import read_warc, write_warc_shards


QUERIES: dict = {}
ORACLES: dict[str, str] = {}

# mod-p id checksums: large enough that collisions are vanishing,
# small enough that a 5k-row sum stays far inside int64 on both engines
_CK_P = 1_000_000_007

# the deterministic stored-HTTP head used by the synthetic response
# records; its byte length enters the oracle's content-size arithmetic
_HTTP_HEAD = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"


# ---------------------------------------------------------------------------
# tfrecord_roundtrip — sharded TFRecord write → distributed read census
# ---------------------------------------------------------------------------


def tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TFRecord leg under the driver's oracle (VERDICT r8 item 2;
    avro_roundtrip's pattern): a deterministic 4% orderkey slice of
    orders — two bigint ids, a string, an exact-cents bigint, and an
    int64-LIST feature — written by the DISTRIBUTED sharded writer
    (8 hash-of-key shards, one file per task, byte-identical reruns),
    re-read through binaryFile + the CRC-verifying Example decoder,
    and folded to a per-priority census.  Any defect in the varint/
    zig-zag-free int64 wire, the masked-CRC framing, the feature-map
    merge, or the by-name schema mapping changes a tally and breaks
    the hash.

    Scale shape: this IS the 100 TB export layout — n_shards files
    written one-per-task with no coalesce(1) bottleneck, read back
    file-parallel.  Integral values cross the Arrow hop as strings
    (>2^53-exact, sources/tfrecord.py contract); every census column
    is integer arithmetic.

    Deployment contract: the shard directory rides fsio.scratch_dir —
    set ``spark.pyprima.scratchDir`` to a shared URI on a multi-node
    cluster (the avro/xlsx-roundtrip convention).
    """

    orders = _t(spark, sf_dir, "orders")
    sl = orders.filter(F.expr("o_orderkey % 100 < 4")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        # an int64 LIST feature: exercises the repeated-value wire path
        F.expr("array(o_orderkey % 7, o_orderkey % 11)").alias("marks"),
    )
    out_dir = fsio.scratch_dir(spark, "pyprima_tfrec_")
    write_tfrecord_shards(
        sl, out_dir, n_shards=8, shard_by=["o_orderkey"],
        order_by=["o_orderkey"],
    ).count()  # force the distributed write

    back = read_tfrecord(
        spark,
        out_dir,
        "o_orderkey bigint, o_custkey bigint, o_orderpriority string,"
        " cents bigint, marks array<bigint>",
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.sum("cents").alias("cents_sum"),
            F.sum(F.expr(f"o_orderkey % {_CK_P}")).alias("key_checksum"),
            F.sum(
                F.expr("aggregate(marks, 0L, (a, x) -> a + x)")
            ).alias("marks_sum"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["tfrecord_roundtrip"] = tfrecord_roundtrip

ORACLES["tfrecord_roundtrip"] = f"""
WITH sl AS (
  SELECT o_orderkey, o_custkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 4
)
SELECT o_orderpriority, count(*) AS n,
       count(DISTINCT o_custkey) AS n_cust,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(sum(o_orderkey % {_CK_P}) AS BIGINT) AS key_checksum,
       CAST(sum(o_orderkey % 7 + o_orderkey % 11) AS BIGINT) AS marks_sum
FROM sl GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# warc_roundtrip — WARC write → read census over both record framings
# ---------------------------------------------------------------------------


def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC leg under the driver's oracle (VERDICT r8 item 2): a
    deterministic third of documents encoded as WARC/1.0 records —
    even doc_ids as ``response`` records carrying the stored HTTP
    exchange (deterministic head + body, the framing every crawl
    archive uses), odd doc_ids as bare ``resource`` records — written
    as 8 .warc.gz SEGMENTS by the sharded sink (per-record gzip
    members, mtime pinned, hash-of-record-id placement), re-read
    through binaryFile + the verifying parser, and folded to a
    per-record-type census of counts, EXACT content byte sizes,
    distinct URI hosts, and a mod-p checksum over the 60-bit md5 of
    the record ids.  Any defect in header encoding, Content-Length
    framing, the gzip member walk, the shard placement (a lost or
    double-written record), or the record terminator moves a count
    and breaks the hash.

    Scale shape: BOTH directions are distributed — write is one
    segment file per task (write_warc_shards, the many-segments
    layout real crawls ship in; the single-file sink measured 14.5×
    wall at 10× rows, linear after sharding), read is per-file via
    binaryFile.  write_warc_file stays pytest-covered as the
    small-export contract.
    """

    docs = _t(spark, sf_dir, "documents")
    is_resp = F.expr("doc_id % 2 = 0")
    recs = docs.filter(F.expr("doc_id % 3 = 0")).select(
        F.concat(
            F.lit("<urn:doc:"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("record_id"),
        F.when(is_resp, F.lit("response"))
        .otherwise(F.lit("resource"))
        .alias("warc_type"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
        F.when(is_resp, F.lit("application/http; msgtype=response"))
        .otherwise(F.lit("text/plain"))
        .alias("content_type"),
        F.when(
            is_resp,
            F.concat(
                F.encode(F.lit(_HTTP_HEAD), "UTF-8"),
                F.encode(F.col("text"), "UTF-8"),
            ),
        )
        .otherwise(F.encode(F.col("text"), "UTF-8"))
        .alias("content"),
    )
    out_dir = fsio.scratch_dir(spark, "pyprima_warc_")
    write_warc_shards(recs, out_dir, n_shards=8).count()  # force

    back = read_warc(spark, out_dir)
    return (
        back.groupBy("warc_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.length("content")).alias("content_bytes"),
            F.countDistinct(
                F.expr("parse_url(target_uri, 'HOST')")
            ).alias("n_hosts"),
            F.sum(
                F.expr(f"{X.hash64_spark('record_id')} % {_CK_P}")
            ).alias("id_checksum"),
        )
        .orderBy("warc_type")
    )


QUERIES["warc_roundtrip"] = warc_roundtrip

ORACLES["warc_roundtrip"] = f"""
WITH recs AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'response' ELSE 'resource' END
           AS warc_type,
         CASE WHEN doc_id % 2 = 0 THEN {len(_HTTP_HEAD)} ELSE 0 END
           + octet_length(encode(text)) AS content_len,
         source,
         {X.hash64_duck("'<urn:doc:' || CAST(doc_id AS VARCHAR) || '>'")}
           AS rid_hash
  FROM documents WHERE doc_id % 3 = 0
)
SELECT warc_type, count(*) AS n_records,
       CAST(sum(content_len) AS BIGINT) AS content_bytes,
       count(DISTINCT source) AS n_hosts,
       CAST(sum(rid_hash % {_CK_P}) AS BIGINT) AS id_checksum
FROM recs GROUP BY warc_type ORDER BY warc_type
"""


# ---------------------------------------------------------------------------
# corpus_pipeline_manifest — WARC → curation → TFRecord, one oracle
# ---------------------------------------------------------------------------


def corpus_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus pipeline under ONE oracle (VERDICT r8
    item 5; the engine's runme.py analogue — reference runme.py:6-32
    chains its three stages the same way): documents → WARC crawl
    archive → ``pipeline.ingest_warc`` (doc_id remapped to the 60-bit
    md5 of the WARC record id, source recovered from the URI host) →
    the documents-shaped corpus landed as parquet → the UNMODIFIED
    curation stack + sharded TFRecord export
    (``pipeline.export_curated_tfrecord``) → TFRecord read-back →
    per-source survivor census (doc counts, token sums, a mod-p
    checksum over the REMAPPED ids).

    The oracle replays the identical curation funnel
    (core.curation_funnel_ctes — quality gate → exact dedup →
    minhash-cluster dedup) over a pure-SQL remap of the document ids,
    so every hop is load-bearing: WARC framing, the ingest's
    host/hash mapping, the funnel's survivor choice (which depends on
    the remapped id ORDER through its keep-min tie-breaks), the
    Example wire codec, and the by-name read-back all have to agree
    for the hash to match.

    Scale shape: each stage is the already-audited distributed form —
    the crawl is written as 8 WARC SEGMENTS (write_warc_shards, the
    Common-Crawl many-segments layout; one file per task), the ingest
    fans out per segment file, the curation funnel is single-shuffle,
    and the TFRecord export is one-file-per-task.  No stage funnels
    through a single task.
    """

    docs = _t(spark, sf_dir, "documents")
    recs = docs.select(
        F.concat(
            F.lit("<urn:doc:"), F.col("doc_id").cast("string"), F.lit(">")
        ).alias("record_id"),
        F.lit("resource").alias("warc_type"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    base = fsio.scratch_dir(spark, "pyprima_pipe_")
    crawl_dir = fsio.join(base, "crawl")
    write_warc_shards(recs, crawl_dir, n_shards=8).count()  # force

    corpus_dir = fsio.join(base, "corpus")
    ingest_warc(spark, crawl_dir).write.mode("overwrite").parquet(
        fsio.join(corpus_dir, "documents.parquet")
    )
    shards_dir = fsio.join(base, "shards")
    export_curated_tfrecord(
        spark, corpus_dir, shards_dir, n_shards=8
    ).count()  # force the export

    back = read_tfrecord(
        spark, shards_dir, "doc_id bigint, source string, n_tok bigint"
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(F.expr(f"doc_id % {_CK_P}")).alias("id_checksum"),
        )
        .orderBy("source")
    )


QUERIES["corpus_pipeline_manifest"] = corpus_pipeline_manifest


def _pipeline_oracle() -> str:
    remap = X.hash64_duck("'<urn:doc:' || CAST(doc_id AS VARCHAR) || '>'")
    docs_rel = (
        f"(SELECT {remap} AS doc_id, source, text FROM documents)"
    )
    return f"""
{curation_funnel_ctes(docs_rel)}
SELECT source,
  count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
  CAST(sum(doc_id % {_CK_P}) AS BIGINT) AS id_checksum
FROM perdoc WHERE keptn GROUP BY source ORDER BY source
"""


ORACLES["corpus_pipeline_manifest"] = _pipeline_oracle()
