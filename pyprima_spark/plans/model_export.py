"""Model-file export: the generate-model-files phase of ``runme.py``
(``pipeline.MODEL``) — the hour × region demand matrix and the long
measure table — and the model workbook, bundle and ordered-string
exports the model files are assembled from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import DEC, dec_avg, dec_sum
from pyprima_spark.plans.core import _t
from pyprima_spark.sources import fsio
from pyprima_spark.sources.xlsx import read_xlsx_sheet, write_xlsx_book


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of lineitem measures, then aggregate.

    Reference: evrys suplm stacks the wide TS matrix into
    (t, sit, co, value) rows (generate_models.py:349-368).
    """
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(dec_sum("val").alias("total"))
    )


QUERIES["unpivot_long"] = unpivot_long

ORACLES["unpivot_long"] = """
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
)
SELECT l_returnflag, metric, round(sum(CAST(val AS DECIMAL(27,6))), 2)::DOUBLE AS total
FROM long GROUP BY 1, 2 ORDER BY 1, 2
"""


DEMAND_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def export_demand_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide hour × region demand matrix with a leading t column.

    Reference: the urbs Demand sheet — regions as columns, hour index t
    as rows (generate_models.py:159-166).
    """
    ev = _t(spark, sf_dir, "events")
    region = _t(spark, sf_dir, "region")
    labelled = ev.withColumn("rk", F.col("user_id") % 5).join(
        F.broadcast(region), F.col("rk") == region.r_regionkey
    )
    piv = (
        labelled.withColumn("t", F.hour("ts"))
        .groupBy("t")
        .pivot("r_name", DEMAND_REGIONS)
        .agg(F.sum(F.col("value").cast(DEC)))
    )
    cols = [F.col("t")]
    for r in DEMAND_REGIONS:
        cols.append(
            F.round(F.coalesce(F.col(f"`{r}`"), F.lit(0.0)), 2).alias(
                r.replace(" ", "_")
            )
        )
    return piv.select(*cols)


QUERIES["export_demand_matrix"] = export_demand_matrix

ORACLES["export_demand_matrix"] = """
WITH labelled AS (
  SELECT hour(ts) AS t, r_name, value
  FROM events JOIN region ON (user_id % 5) = r_regionkey
)
SELECT
  t,
  round(coalesce(sum(value) FILTER (r_name = 'AFRICA'), 0), 2)      AS AFRICA,
  round(coalesce(sum(value) FILTER (r_name = 'AMERICA'), 0), 2)     AS AMERICA,
  round(coalesce(sum(value) FILTER (r_name = 'ASIA'), 0), 2)        AS ASIA,
  round(coalesce(sum(value) FILTER (r_name = 'EUROPE'), 0), 2)      AS EUROPE,
  round(coalesce(sum(value) FILTER (r_name = 'MIDDLE EAST'), 0), 2) AS MIDDLE_EAST
FROM labelled
GROUP BY t ORDER BY t
"""


# ---------------------------------------------------------------------------
# model_export_bundle — multi-sheet model-file assembly as one long table
# ---------------------------------------------------------------------------

def model_export_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full model-file export bundle (SURVEY §2 #89).

    Reference: ``generate_urbs_model`` (generate_models.py:4) /
    ``generate_evrys_model`` (:201) assemble ~15 linked sheets (Global,
    Site, Commodity, Process, Demand, SupIm, ...) into one workbook, each
    sheet a column-subset/rename/pivot of the intermediate files. The
    Spark-first form is ONE union-tagged long table (sheet, site, item,
    t, attr, value): heterogeneous sheets unify onto a shared schema with
    typed nulls, writers fan out by partitioning on `sheet` — at scale
    this is a single job emitting every sheet, not 15 sequential ones.

    Sheet lineage (all from existing operator families):
      global    literal assumption rows (config constants)
      site      nation dim attributes
      commodity per-(site, priority) mean order price
      process   per-(site, mfgr) installed quantity from lineitem
      demand    hourly site demand series (unpivoted Demand matrix)
      supim     hourly site share-of-total profile (sums to 1 per site)
    """
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    ev = _t(spark, sf_dir, "events")

    null_s = F.lit(None).cast("string")
    null_i = F.lit(None).cast("int")

    glob = spark.createDataFrame(
        [("CO2 limit", 150000000.0), ("Cost budget", 6500000000.0)],
        "attr string, value double",
    ).select(
        F.lit("global").alias("sheet"), null_s.alias("site"),
        null_s.alias("item"), null_i.alias("t"), "attr", "value",
    )

    site = nat.select(
        F.lit("site").alias("sheet"),
        F.col("n_name").alias("site"),
        null_s.alias("item"),
        null_i.alias("t"),
        F.lit("area").alias("attr"),
        (F.col("n_nationkey") * 13 % 50 + 10).cast("double").alias("value"),
    )

    commodity = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(dec_avg("o_totalprice", 2).alias("value"))
        .select(
            F.lit("commodity").alias("sheet"),
            F.col("n_name").alias("site"),
            F.col("o_orderpriority").alias("item"),
            null_i.alias("t"),
            F.lit("price").alias("attr"),
            "value",
        )
    )

    process = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("n_name", "p_brand")
        .agg(dec_sum("l_quantity").alias("value"))
        .select(
            F.lit("process").alias("sheet"),
            F.col("n_name").alias("site"),
            F.col("p_brand").alias("item"),
            null_i.alias("t"),
            F.lit("inst-cap").alias("attr"),
            "value",
        )
    )

    # NOTE (r10, measured): the hourly census feeds both the demand and
    # supim sheets, so the events aggregation evaluates twice; a
    # materialize boundary here was A/B'd (min-of-4 interleaved) and
    # measured ~1.3× SLOWER — the union's independent sheet subtrees
    # all pipeline inside ONE job, and the eager checkpoint serializes
    # the events pass out of that overlap. Left duplicated as the
    # cheaper evil at bench scale.
    hourly = (
        ev.withColumn("nk", F.col("user_id") % 25)
        .join(F.broadcast(nat), F.col("nk") == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("site"), F.hour("ts").alias("t"))
        .agg(F.sum(F.col("value").cast("decimal(27,6)")).alias("hsum"))
    )
    demand = hourly.select(
        F.lit("demand").alias("sheet"), "site",
        F.lit("elec").alias("item"), "t",
        F.lit("demand").alias("attr"),
        F.round("hsum", 2).cast("double").alias("value"),
    )
    wsite = Window.partitionBy("site")
    supim = hourly.withColumn("tot", F.sum("hsum").over(wsite)).select(
        F.lit("supim").alias("sheet"), "site",
        F.lit("elec").alias("item"), "t",
        F.lit("share").alias("attr"),
        F.round(
            F.col("hsum").cast("double") / F.col("tot").cast("double"), 6
        ).alias("value"),
    )

    return glob.unionByName(site).unionByName(commodity).unionByName(
        process
    ).unionByName(demand).unionByName(supim)


QUERIES["model_export_bundle"] = model_export_bundle

ORACLES["model_export_bundle"] = """
WITH hourly AS (
  SELECT n_name AS site, hour(ts) AS t,
         sum(CAST(value AS DECIMAL(27,6))) AS hsum
  FROM events JOIN nation ON (user_id % 25) = n_nationkey
  GROUP BY n_name, hour(ts)
)
SELECT * FROM (
  SELECT 'global' AS sheet, CAST(NULL AS VARCHAR) AS site,
         CAST(NULL AS VARCHAR) AS item, CAST(NULL AS INT) AS t,
         attr, value
  FROM (VALUES ('CO2 limit', 150000000.0), ('Cost budget', 6500000000.0))
       AS g(attr, value)
  UNION ALL
  SELECT 'site', n_name, NULL, NULL, 'area',
         CAST(n_nationkey * 13 % 50 + 10 AS DOUBLE)
  FROM nation
  UNION ALL
  SELECT 'commodity', n_name, o_orderpriority, NULL, 'price',
         round(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE
               / count(o_totalprice), 2)
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_orderpriority
  UNION ALL
  SELECT 'process', n_name, p_brand, NULL, 'inst-cap',
         round(sum(CAST(l_quantity AS DECIMAL(27,6))), 2)::DOUBLE
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY n_name, p_brand
  UNION ALL
  SELECT 'demand', site, 'elec', t, 'demand', round(hsum, 2)::DOUBLE
  FROM hourly
  UNION ALL
  SELECT 'supim', site, 'elec', t, 'share',
         round(hsum::DOUBLE / (sum(hsum) OVER (PARTITION BY site))::DOUBLE, 6)
  FROM hourly
)
ORDER BY sheet, site NULLS FIRST, item NULLS FIRST, t NULLS FIRST, attr
"""


# ---------------------------------------------------------------------------
# ordered_string_export — deterministic list-to-string aggregation
# ---------------------------------------------------------------------------

def ordered_string_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group (SURVEY §2 #112) — the
    model-file writers join member lists into delimited cells (urbs
    Process-Commodity sheets, evrys site lists; generate_models.py).
    A bare collect_list is partition-order nondeterministic — the ONLY
    stable form is sort_array before array_join, which also makes the
    result engine-identical (DuckDB string_agg ... ORDER BY). Emits the
    member count alongside so downstream can validate truncation.
    """
    nat = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.array_join(
                F.sort_array(F.collect_list("s_name")), ";"
            ).alias("supplier_list"),
        )
    )


QUERIES["ordered_string_export"] = ordered_string_export

ORACLES["ordered_string_export"] = """
SELECT n_name,
       count(*) AS n_suppliers,
       string_agg(s_name, ';' ORDER BY s_name) AS supplier_list
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# model_workbook_roundtrip — urbs/evrys xlsx format driven through catalog
# ---------------------------------------------------------------------------


def model_workbook_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The urbs/evrys model-WORKBOOK format exercised through the
    correctness gate (SURVEY §2 #200; the xlsx counterpart of
    raster_export_manifest's GeoTIFF closure): assemble the Site and
    Commodity sheets of the model bundle (model_export_bundle's
    lineage), write them as ONE multi-sheet .xlsx from a
    single executor task (stdlib ZIP/XML encoder — the reference's
    generate_models.py output format, config.py:778), re-read every
    sheet through the binaryFile + executor-side decoder, and emit a
    per-sheet census. The oracle computes the same census from the
    same relational lineage in pure SQL — any byte defect in the
    workbook encoder/decoder breaks the match.

    Determinism across the file hop: values cross the format as
    ``repr(float)`` which round-trips doubles exactly; the census sums
    CENTS (bigint) so no double addition order matters.

    Deployment contract (VERDICT r6 item 2): the workbook hop rides
    :func:`pyprima_spark.sources.fsio.scratch_dir` — set
    ``spark.pyprima.scratchDir`` to a shared/HDFS/object-store URI on
    a multi-node cluster; the default driver tempdir is correct only
    where driver and executors share a disk (local[k], the tested
    env). Bytes route through PyArrow's FileSystem API either way.
    """

    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    site = nat.select(
        F.lit("site").alias("sheet"),
        F.col("n_name").alias("site"),
        F.lit("area").alias("attr"),
        (F.col("n_nationkey") * 13 % 50 + 10).cast("double").alias("value"),
    )
    commodity = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(dec_avg("o_totalprice", 2).alias("value"))
        .select(
            F.lit("commodity").alias("sheet"),
            F.col("n_name").alias("site"),
            F.col("o_orderpriority").alias("attr"),
            "value",
        )
    )
    book_path = fsio.join(
        fsio.scratch_dir(spark, "pyprima_model_"), "model.xlsx"
    )
    manifest = write_xlsx_book(
        site.unionByName(commodity),
        book_path,
        order_by=["site", "attr"],
    )
    manifest.count()  # force the write before planning the read-back

    schema = "site string, attr string, value double"
    read_back = read_xlsx_sheet(
        spark, book_path, "site", schema
    ).withColumn("sheet", F.lit("site")).unionByName(
        read_xlsx_sheet(spark, book_path, "commodity", schema).withColumn(
            "sheet", F.lit("commodity")
        )
    )
    return (
        read_back.groupBy("sheet")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("site").alias("n_sites"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias(
                "value_cents"
            ),
        )
    )


QUERIES["model_workbook_roundtrip"] = model_workbook_roundtrip

ORACLES["model_workbook_roundtrip"] = """
WITH site AS (
  SELECT 'site' AS sheet, n_name AS site, 'area' AS attr,
         CAST(n_nationkey * 13 % 50 + 10 AS DOUBLE) AS value
  FROM nation
),
commodity AS (
  SELECT 'commodity' AS sheet, n_name AS site, o_orderpriority AS attr,
         round(sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE
               / count(o_totalprice), 2) AS value
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_orderpriority
),
allrows AS (SELECT * FROM site UNION ALL SELECT * FROM commodity)
SELECT sheet, count(*) AS n_rows,
       count(DISTINCT site) AS n_sites,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM allrows GROUP BY sheet ORDER BY sheet
"""
