"""Spatial and raster operators: point-in-region and point-in-polygon
joins, nearest and k-nearest sites, zonal statistics, raster
reclassification, resampling and export, density clusters, and spatial
autocorrelation (Moran's I, LISA, Ripley's K).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import DEC, dec_avg, dec_avg_exact, dec_sum
from pyprima_spark.functions.geo import haversine_km, haversine_km_sql
from pyprima_spark.operators.checkpointing import materialize
from pyprima_spark.operators.exactmath import bounded_collect, min_label_components
from pyprima_spark.operators.exactmath import tdiv as _tdiv
from pyprima_spark.operators.spatial import (
    box_overlap_join,
    point_in_box_grid_join,
    point_in_box_join,
)
from pyprima_spark.plans.core import _t
from pyprima_spark.sources import fsio
from pyprima_spark.sources.geotiff import read_raster_tiles, write_raster_tiles


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal raster statistics (SURVEY §2 #49): aggregate a pixel grid
    per containing region — spatial_functions.py:zonal_stats, which
    sums/counts raster cells (population, land use) inside each region
    polygon.

    The raster is a deterministic 160x360 1-degree grid generated
    DISTRIBUTIVELY from `spark.range` (no driver-side materialization —
    at real raster resolution this is billions of cells and range()
    splits across executors). Region boxes broadcast; one narrow pass
    assigns cells, one shuffle aggregates per region.
    """

    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .select(
            (F.col("latidx") - 80 + F.lit(0.5)).alias("lat"),
            (F.col("lonidx") - 180 + F.lit(0.5)).alias("lon"),
            ((F.col("latidx") * 7 + F.col("lonidx") * 13) % 100).alias("pixval"),
        )
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    return (
        point_in_box_join(pix, nat)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("pixval").alias("total"),
            dec_avg("pixval").alias("mean_val"),
            F.max("pixval").alias("max_val"),
        )
    )


QUERIES["zonal_stats"] = zonal_stats

ORACLES["zonal_stats"] = """
WITH pix AS (
  SELECT (cast(id // 360 AS INT) - 80 + 0.5) AS lat,
         (cast(id % 360 AS INT) - 180 + 0.5) AS lon,
         (cast(id // 360 AS INT) * 7 + cast(id % 360 AS INT) * 13) % 100 AS pixval
  FROM (SELECT unnest(range(57600)) AS id)
), boxes AS (
  SELECT n_name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
)
SELECT n_name,
       count(*) AS n_cells,
       cast(sum(pixval) AS BIGINT) AS total,
       round(sum(CAST(pixval AS DECIMAL(27,6)))::DOUBLE / count(pixval), 4) AS mean_val,
       max(pixval) AS max_val
FROM pix JOIN boxes
  ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
GROUP BY n_name
ORDER BY n_name
"""


def nearest_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (SURVEY §2 #51): map each customer
    point to the closest nation centroid by haversine distance —
    spatial_functions.py:get_sites / crd point-to-site assignment.

    The centroid table is dim-sized and BROADCAST; the fact side streams
    through one narrow pass (cross join × 25 + per-key min-rank), no
    shuffle until the final count-per-site agg. At huge centroid counts
    the layout switches to the same grid-cell candidate join as
    point-in-box.
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    sites = _t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") * 13 % 140) - 70 + F.lit(0.0)).alias("slat"),
        ((F.col("n_nationkey") * 29 % 340) - 170 + F.lit(0.0)).alias("slon"),
    )
    from pyspark.sql import Window

    d = F.round(
        haversine_km(F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")), 6
    )
    w = Window.partitionBy("c_custkey").orderBy(F.asc("dist"), F.asc("n_name"))
    assigned = (
        cust.crossJoin(F.broadcast(sites))
        .withColumn("dist", d)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        assigned.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            dec_avg("dist").alias("avg_dist_km"),
        )
    )


QUERIES["nearest_site"] = nearest_site

ORACLES["nearest_site"] = f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 160) - 80 + 0.5 AS lat,
         (c_custkey * 104729 % 360) - 180 + 0.5 AS lon
  FROM customer
), sites AS (
  SELECT n_name,
         cast((n_nationkey * 13 % 140) - 70 AS DOUBLE) AS slat,
         cast((n_nationkey * 29 % 340) - 170 AS DOUBLE) AS slon
  FROM nation
), scored AS (
  SELECT c_custkey, n_name,
         round({haversine_km_sql('lat', 'lon', 'slat', 'slon')}, 6) AS dist
  FROM pts CROSS JOIN sites
), best AS (
  SELECT c_custkey, n_name, dist
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY c_custkey
                             ORDER BY dist ASC, n_name ASC) = 1
)
SELECT n_name, count(*) AS n_assigned, round(sum(CAST(dist AS DECIMAL(27,6)))::DOUBLE / count(dist), 4) AS avg_dist_km
FROM best
GROUP BY n_name
ORDER BY n_name
"""


def grid_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D grid downsampling (SURVEY §2 #52): resample the 1-degree pixel
    grid to 4x4-degree blocks by mean — util.py:resizem, the raster
    coarsening every map-based input goes through.

    Pure groupBy on (block_lat, block_lon): uniform keys, map-side
    partial means, one shuffle of block aggregates only.
    """
    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .select(
            "latidx",
            "lonidx",
            ((F.col("latidx") * 7 + F.col("lonidx") * 13) % 100).alias("pixval"),
        )
    )
    return (
        pix.groupBy(
            (F.col("latidx") / 4).cast("int").alias("block_lat"),
            (F.col("lonidx") / 4).cast("int").alias("block_lon"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            dec_avg("pixval").alias("mean_val"),
        )
    )


QUERIES["grid_downsample"] = grid_downsample

ORACLES["grid_downsample"] = """
WITH pix AS (
  SELECT cast(id // 360 AS INT) AS latidx,
         cast(id % 360 AS INT) AS lonidx,
         (cast(id // 360 AS INT) * 7 + cast(id % 360 AS INT) * 13) % 100 AS pixval
  FROM (SELECT unnest(range(57600)) AS id)
)
SELECT cast(latidx // 4 AS INT) AS block_lat,
       cast(lonidx // 4 AS INT) AS block_lon,
       count(*) AS n_cells,
       round(sum(CAST(pixval AS DECIMAL(27,6)))::DOUBLE / count(pixval), 4) AS mean_val
FROM pix
GROUP BY 1, 2
ORDER BY 1, 2
"""


def point_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-region spatial bounding-box join (SURVEY §2 #40).

    Deterministic synthetic geometry: each customer gets a lat/lon from
    integer arithmetic on its key; each nation a bounding box from its
    nationkey. The broadcast inequality join assigns points to regions
    — the pyPRIMA point-in-polygon analogue (see operators/spatial.py).
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    return (
        point_in_box_join(cust, nat)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            # dec_avg_exact: the sf0.001 sweep caught a half-ulp round
            # tie here (5739.32375 -> .3238 Spark vs .3237 DuckDB)
            dec_avg_exact("c_acctbal").alias("avg_bal"),
        )
    )


QUERIES["point_in_region"] = point_in_region

ORACLES["point_in_region"] = """
WITH pts AS (
  SELECT c_custkey, c_acctbal,
         (c_custkey * 7919 % 160) - 80 + 0.5 AS lat,
         (c_custkey * 104729 % 360) - 180 + 0.5 AS lon
  FROM customer
), boxes AS (
  SELECT n_name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
)
SELECT n_name,
       count(*) AS n_points,
       -- dec_avg_exact mirror: half-away-from-zero in exact integers,
       -- no double round (the sf0.001 half-ulp tie fix, round 9)
       ((CASE WHEN CAST(sum(CAST(c_acctbal AS DECIMAL(27,6)) * 1000000)
                   AS HUGEINT) < 0 THEN -1 ELSE 1 END)
        * ((2 * abs(CAST(sum(CAST(c_acctbal AS DECIMAL(27,6)) * 1000000)
                         AS HUGEINT)) + 100 * count(c_acctbal))
           // (200 * count(c_acctbal))))::DOUBLE / 10000.0 AS avg_bal
FROM pts JOIN boxes
  ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
GROUP BY n_name
ORDER BY n_name
"""


def point_in_region_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell spatial join (SURVEY §2 #40b) — same semantics and
    output as `point_in_region`, via the cell-bucketed equi-join that
    replaces the broadcast when the region table is itself fact-sized.
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    return (
        point_in_box_grid_join(cust, nat)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            dec_avg_exact("c_acctbal").alias("avg_bal"),
        )
    )


QUERIES["point_in_region_grid"] = point_in_region_grid

# Same semantics as point_in_region — the grid variant must produce the
# identical result through the cell-bucketed candidate join.
ORACLES["point_in_region_grid"] = ORACLES["point_in_region"]


def region_overlap_disaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted overlay disaggregation (SURVEY §2 #53).

    Reference: ``intersection_subregions_countries``
    (lib/spatial_functions.py:225-277) overlays subregions with
    countries and names each piece sub_country; downstream load
    disaggregation weights by the piece areas — which the reference
    computes in a cylindrical EQUAL-AREA projection first
    (generate_intermediate_files.py:79-82 ``to_crs('+proj=cea')``;
    initialization.py:39), not in raw degrees. Here: nation boxes ×
    region boxes via the broadcast box-overlap join; each region's
    revenue total is split over its pieces by EQUAL-AREA overlap
    share — for a lat/lon box the cea-projected area is
    Δlon·(sin(lat_hi)−sin(lat_lo)), the exact spherical-zone formula,
    no geo library needed (VERDICT r8 item 4).

    Determinism: the equal-area weight is quantized to integer
    millionths (``area_ea``) before the share division, so group sums
    and shares stay bit-identical across engines (sin(radians(k·5°))
    itself verified bit-equal Spark vs DuckDB for every latitude the
    synthetic boxes can produce); the planar integer ``area`` column
    is kept for the overlay-extent readout.
    """
    from pyspark.sql import Window

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    sub = nation.select(
        F.col("n_name").alias("name"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )
    country = region.select(
        F.col("r_regionkey").alias("rkey"),
        F.col("r_name").alias("name"),
        ((F.col("r_regionkey") * 13 % 8) * 20 - 80).alias("lat_min"),
        ((F.col("r_regionkey") * 13 % 8) * 20 - 80 + 60).alias("lat_max"),
        ((F.col("r_regionkey") * 17 % 10) * 36 - 180).alias("lon_min"),
        ((F.col("r_regionkey") * 17 % 10) * 36 - 180 + 108).alias("lon_max"),
    )
    pieces = box_overlap_join(sub, country).select(
        F.concat_ws("_", F.col("a_name"), F.col("b_name")).alias("piece"),
        F.col("a_name").alias("subregion"),
        F.col("b_name").alias("country"),
        F.col("b_rkey").alias("rkey"),
        F.col("overlap_area").alias("area"),
        F.expr(
            "cast(round((least(a_lon_max, b_lon_max)"
            " - greatest(a_lon_min, b_lon_min))"
            " * (sin(radians(least(a_lat_max, b_lat_max)))"
            "    - sin(radians(greatest(a_lat_min, b_lat_min))))"
            " * 1000000) as bigint)"
        ).alias("area_ea"),
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat_dim = nation.select("n_nationkey", "n_regionkey")
    totals = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_dim), cust.c_nationkey == nat_dim.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("rkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC))
            .cast("double")
            .alias("region_total")
        )
    )
    wr = Window.partitionBy("rkey")
    share_raw = F.col("area_ea").cast("double") / F.sum("area_ea").over(
        wr
    ).cast("double")
    return (
        pieces.join(totals, "rkey")
        .withColumn("share_raw", share_raw)
        .select(
            "piece",
            "subregion",
            "country",
            "area",
            "area_ea",
            F.round("share_raw", 6).alias("share"),
            F.round(F.col("region_total") * F.col("share_raw"), 4).alias(
                "allocated"
            ),
        )
    )


QUERIES["region_overlap_disaggregate"] = region_overlap_disaggregate

ORACLES["region_overlap_disaggregate"] = """
WITH sub AS (
  SELECT n_name AS name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
),
country AS (
  SELECT r_regionkey AS rkey, r_name AS name,
         (r_regionkey * 13 % 8) * 20 - 80 AS lat_min,
         (r_regionkey * 13 % 8) * 20 - 80 + 60 AS lat_max,
         (r_regionkey * 17 % 10) * 36 - 180 AS lon_min,
         (r_regionkey * 17 % 10) * 36 - 180 + 108 AS lon_max
  FROM region
),
pieces AS (
  SELECT s.name || '_' || c.name AS piece,
         s.name AS subregion, c.name AS country, c.rkey,
         (least(s.lat_max, c.lat_max) - greatest(s.lat_min, c.lat_min)) *
         (least(s.lon_max, c.lon_max) - greatest(s.lon_min, c.lon_min)) AS area,
         CAST(round((least(s.lon_max, c.lon_max)
                     - greatest(s.lon_min, c.lon_min))
                    * (sin(radians(least(s.lat_max, c.lat_max)))
                       - sin(radians(greatest(s.lat_min, c.lat_min))))
                    * 1000000) AS BIGINT) AS area_ea
  FROM sub s JOIN country c
    ON s.lat_min < c.lat_max AND c.lat_min < s.lat_max
   AND s.lon_min < c.lon_max AND c.lon_min < s.lon_max
),
totals AS (
  SELECT n_regionkey AS rkey,
         sum(CAST(o_totalprice AS DECIMAL(27,6)))::DOUBLE AS region_total
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1
),
shared AS (
  SELECT piece, subregion, country, area, area_ea, region_total,
         area_ea::DOUBLE / (sum(area_ea) OVER (PARTITION BY p.rkey))::DOUBLE
           AS share_raw
  FROM pieces p JOIN totals USING (rkey)
)
SELECT piece, subregion, country, area, area_ea,
       round(share_raw, 6) AS share,
       round(region_total * share_raw, 4) AS allocated
FROM shared
ORDER BY piece
"""


def grid_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 2D grid upsampling (SURVEY §2 #54).

    Reference: ``resizem``'s enlarge path (lib/util.py:68-93) repeats
    each pixel of a coarse raster into an r×c block. Spark-first: a
    sequence+explode per axis fans each pixel row out to its block —
    pure map-side Generate, no shuffle at any scale; the inverse of
    ``grid_downsample``'s block-mean.
    """
    pix = (
        spark.range(40 * 90)
        .withColumn("i", (F.col("id") / 90).cast("int"))
        .withColumn("j", (F.col("id") % 90).cast("int"))
        .select(
            "i", "j", ((F.col("i") * 7 + F.col("j") * 13) % 100).alias("val")
        )
    )
    rep = pix.withColumn(
        "a", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(3))))
    return rep.select(
        (F.col("i") * 4 + F.col("a")).alias("row_idx"),
        (F.col("j") * 4 + F.col("b")).alias("col_idx"),
        "val",
    )


QUERIES["grid_upsample"] = grid_upsample

ORACLES["grid_upsample"] = """
WITH pix AS (
  SELECT (s.k // 90) AS i, (s.k % 90) AS j,
         ((s.k // 90) * 7 + (s.k % 90) * 13) % 100 AS val
  FROM generate_series(0, 3599) s(k)
)
SELECT i * 4 + a AS row_idx, j * 4 + b AS col_idx, val
FROM pix
CROSS JOIN generate_series(0, 3) t(a)
CROSS JOIN generate_series(0, 3) u(b)
ORDER BY row_idx, col_idx
"""


def region_mask_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize region geometries onto a shared pixel grid with an
    equal-share population burn-in (SURVEY §2 #66) — the analogue of
    input_maps.py generate_landsea/generate_population, which burn each
    region's shape (and its attribute total) into a global raster
    window by window.

    Distribution: each region row fans out to its covered pixel indices
    via sequence+explode ON THE EXECUTORS (no driver-side raster
    array), then one (latidx, lonidx) aggregation overlays all regions.
    A region covers 40x72 index cells here; at real resolution the same
    plan shape holds — fanout per region is bounded by its bbox, and
    the overlay shuffle is keyed by uniformly-distributed pixel ids.
    """
    reg = _t(spark, sf_dir, "region")
    nat = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    pop = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("pop"))
    )
    boxes = (
        reg.join(F.broadcast(pop), reg.r_regionkey == pop.n_regionkey)
        .select(
            "r_regionkey",
            "pop",
            (F.col("r_regionkey") * 37 % 120).alias("la0"),
            (F.col("r_regionkey") * 53 % 288).alias("lo0"),
        )
    )
    cells = boxes.select(
        "pop",
        F.explode(F.sequence(F.col("la0"), F.col("la0") + 39)).alias("latidx"),
        "lo0",
    ).select(
        "pop",
        "latidx",
        F.explode(F.sequence(F.col("lo0"), F.col("lo0") + 71)).alias("lonidx"),
    )
    return (
        cells.groupBy("latidx", "lonidx")
        .agg(
            F.count(F.lit(1)).alias("n_regions"),
            dec_sum(F.col("pop") / F.lit(2880.0), 6).alias("pop_alloc"),
        )
    )


QUERIES["region_mask_raster"] = region_mask_raster

ORACLES["region_mask_raster"] = """
WITH pop AS (
  SELECT n_regionkey, count(*) AS pop
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
boxes AS (
  SELECT r_regionkey, pop,
         (r_regionkey * 37) % 120 AS la0,
         (r_regionkey * 53) % 288 AS lo0
  FROM region JOIN pop ON r_regionkey = n_regionkey
),
cells AS (
  SELECT pop, la.latidx, lo.lonidx
  FROM boxes,
       unnest(generate_series(la0, la0 + 39)) la(latidx),
       unnest(generate_series(lo0, lo0 + 71)) lo(lonidx)
)
SELECT latidx, lonidx, count(*) AS n_regions,
       round(sum(CAST(pop / 2880.0::DOUBLE AS DECIMAL(27,6))), 6)::DOUBLE AS pop_alloc
FROM cells GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# grid_upsample_bilinear — interpolating raster enlarge (gather-join form)
# ---------------------------------------------------------------------------

_BI_H, _BI_W, _BI_R = 40, 90, 4  # source grid and enlargement factor
_BI_OH, _BI_OW = _BI_H * _BI_R, _BI_W * _BI_R
_BI_DY, _BI_DX = _BI_OH - 1, _BI_OW - 1  # align-corners denominators
_BI_D = _BI_DY * _BI_DX


def grid_upsample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear (align-corners) raster enlarge — the interpolating
    counterpart of grid_upsample's nearest-neighbor path (util.py
    resizem interpolates profile rasters on refinement).

    Distributed gather form: each output pixel emits its <=4 source
    neighbors with integer weights (explode), gathered by ONE (y, x)
    equi-join against the source grid and summed — the plan that works
    when the raster is a table, not a formula. All weights and the
    weighted sum are exact integers; the final half-up rounding to 4
    decimals happens in integer space (never rounding a double), and
    the single division by the constant denominator is the only float
    op.
    """
    # Fully parenthesized: these fragments are spliced into larger
    # expressions and % shares precedence with *.
    fy = f"((oi * {_BI_H - 1}) % {_BI_DY})"
    fx = f"((oj * {_BI_W - 1}) % {_BI_DX})"
    y0 = f"((oi * {_BI_H - 1}) div {_BI_DY})"
    x0 = f"((oj * {_BI_W - 1}) div {_BI_DX})"
    src = (
        spark.range(_BI_H * _BI_W)
        .select(
            (F.col("id") / _BI_W).cast("int").alias("y"),
            (F.col("id") % _BI_W).cast("int").alias("x"),
        )
        .withColumn("v", (F.col("y") * 31 + F.col("x") * 17) % 97)
    )
    nb = (
        spark.range(_BI_OH * _BI_OW)
        .select(
            (F.col("id") / _BI_OW).cast("int").alias("oi"),
            (F.col("id") % _BI_OW).cast("int").alias("oj"),
        )
        .select(
            "oi",
            "oj",
            F.explode(
                F.expr(
                    f"array("
                    f" named_struct('y', {y0}, 'x', {x0},"
                    f"   'w', ({_BI_DY} - {fy}) * ({_BI_DX} - {fx})),"
                    f" named_struct('y', {y0}, 'x', least({x0} + 1, {_BI_W - 1}),"
                    f"   'w', ({_BI_DY} - {fy}) * {fx}),"
                    f" named_struct('y', least({y0} + 1, {_BI_H - 1}), 'x', {x0},"
                    f"   'w', {fy} * ({_BI_DX} - {fx})),"
                    f" named_struct('y', least({y0} + 1, {_BI_H - 1}),"
                    f"   'x', least({x0} + 1, {_BI_W - 1}), 'w', {fy} * {fx}))"
                )
            ).alias("nb"),
        )
        .select("oi", "oj", "nb.y", "nb.x", "nb.w")
    )
    return (
        nb.join(src, ["y", "x"])
        .groupBy("oi", "oj")
        .agg(F.sum(F.col("w") * F.col("v")).alias("num"))
        .select(
            "oi",
            "oj",
            # Half-up for nonnegative numerators only (pixval is
            # 0..99 by construction, so num >= 0); and Spark `div` /
            # DuckDB `//` both truncate toward zero (verified), so the
            # engines agree regardless — see seasonal_profile.
            (
                F.expr(f"(20000 * num + {_BI_D}) div (2 * {_BI_D})") / 10000.0
            ).alias("val"),
        )
    )


QUERIES["grid_upsample_bilinear"] = grid_upsample_bilinear

ORACLES["grid_upsample_bilinear"] = f"""
WITH src AS (
  SELECT cast(i // {_BI_W} AS INT) AS y, cast(i % {_BI_W} AS INT) AS x,
         (cast(i // {_BI_W} AS INT) * 31 + cast(i % {_BI_W} AS INT) * 17) % 97 AS v
  FROM (SELECT unnest(range(0, {_BI_H * _BI_W})) AS i)
),
geom AS (
  SELECT cast(i // {_BI_OW} AS INT) AS oi, cast(i % {_BI_OW} AS INT) AS oj,
         (cast(i // {_BI_OW} AS INT) * {_BI_H - 1}) // {_BI_DY} AS y0,
         (cast(i // {_BI_OW} AS INT) * {_BI_H - 1}) % {_BI_DY} AS fy,
         (cast(i % {_BI_OW} AS INT) * {_BI_W - 1}) // {_BI_DX} AS x0,
         (cast(i % {_BI_OW} AS INT) * {_BI_W - 1}) % {_BI_DX} AS fx
  FROM (SELECT unnest(range(0, {_BI_OH * _BI_OW})) AS i)
),
nb AS (
  SELECT oi, oj, y0 AS y, x0 AS x, ({_BI_DY} - fy) * ({_BI_DX} - fx) AS w FROM geom
  UNION ALL
  SELECT oi, oj, y0, least(x0 + 1, {_BI_W - 1}), ({_BI_DY} - fy) * fx FROM geom
  UNION ALL
  SELECT oi, oj, least(y0 + 1, {_BI_H - 1}), x0, fy * ({_BI_DX} - fx) FROM geom
  UNION ALL
  SELECT oi, oj, least(y0 + 1, {_BI_H - 1}), least(x0 + 1, {_BI_W - 1}), fy * fx
  FROM geom
),
agg AS (
  SELECT oi, oj, sum(w * v) AS num
  FROM nb JOIN src USING (y, x) GROUP BY 1, 2
)
SELECT oi, oj,
       ((20000 * num + {_BI_D}) // (2 * {_BI_D})) / 10000.0 AS val
FROM agg ORDER BY oi, oj
"""


# ---------------------------------------------------------------------------
# landuse_reclass — raster remap through a lookup table + zonal rollup
# ---------------------------------------------------------------------------

# The reference's land-use map has 17 discrete classes (input_maps.py:86
# generate_landuse); downstream suitability analysis remaps them through
# config dictionaries with util.py:255 changem (oldval -> newval vectors).
# This is changem's tabular form: a dim-sized recode table, broadcast.
_LU_RECLASS = [
    (0, "water", 0),
    (1, "water", 0),
    (2, "wetland", 10),
    (3, "urban", 5),
    (4, "urban", 15),
    (5, "cropland", 60),
    (6, "cropland", 55),
    (7, "grassland", 80),
    (8, "grassland", 75),
    (9, "shrubland", 70),
    (10, "forest", 30),
    (11, "forest", 25),
    (12, "forest", 20),
    (13, "snow", 15),
    (14, "barren", 90),
    (15, "barren", 85),
    (16, "mosaic", 50),
]


def landuse_reclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land-use raster reclassification + zonal rollup (SURVEY §2 #87).

    Reference: ``generate_landuse`` (input_maps.py:86) reads the 17-class
    land-use raster for the scope; suitability scripts then remap class
    values through config dictionaries via ``changem`` (util.py:255) and
    aggregate per region. Spark-first form: the pixel grid is generated
    distributively (``spark.range``), the 17-row class->category/score
    recode table is BROADCAST (never a shuffle), and the zonal rollup is
    one (region, category) aggregation. All-integer arithmetic — exact
    at any scale, and at real raster resolution (billions of pixels) the
    only shuffle is the final group-by of (region x category) partials.
    """
    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .select(
            (F.col("latidx") - 80 + F.lit(0.5)).alias("lat"),
            (F.col("lonidx") - 180 + F.lit(0.5)).alias("lon"),
            ((F.col("latidx") * 31 + F.col("lonidx") * 13) % 17).alias("lu_class"),
        )
    )
    lut = spark.createDataFrame(
        _LU_RECLASS, "lu_class int, category string, suit int"
    )
    boxes = _t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80).alias("lat_min"),
        ((F.col("n_nationkey") * 7 % 32) * 5 - 80 + 40).alias("lat_max"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180).alias("lon_min"),
        ((F.col("n_nationkey") * 11 % 60) * 6 - 180 + 72).alias("lon_max"),
    )

    reclassed = pix.join(F.broadcast(lut), "lu_class")
    return (
        point_in_box_join(reclassed, boxes)
        .groupBy("n_name", "category")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("suit").alias("suit_total"),
        )
    )


QUERIES["landuse_reclass"] = landuse_reclass


_LU_VALUES_SQL = ", ".join(f"({c}, '{cat}', {s})" for c, cat, s in _LU_RECLASS)

ORACLES["landuse_reclass"] = f"""
WITH pix AS (
  SELECT (cast(id // 360 AS INT) - 80 + 0.5) AS lat,
         (cast(id % 360 AS INT) - 180 + 0.5) AS lon,
         (cast(id // 360 AS INT) * 31 + cast(id % 360 AS INT) * 13) % 17 AS lu_class
  FROM (SELECT unnest(range(57600)) AS id)
), lut(lu_class, category, suit) AS (VALUES {_LU_VALUES_SQL}),
boxes AS (
  SELECT n_name,
         (n_nationkey * 7 % 32) * 5 - 80 AS lat_min,
         (n_nationkey * 7 % 32) * 5 - 80 + 40 AS lat_max,
         (n_nationkey * 11 % 60) * 6 - 180 AS lon_min,
         (n_nationkey * 11 % 60) * 6 - 180 + 72 AS lon_max
  FROM nation
)
SELECT n_name, category,
       count(*) AS n_cells,
       cast(sum(suit) AS BIGINT) AS suit_total
FROM pix JOIN lut USING (lu_class)
JOIN boxes ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
GROUP BY n_name, category
ORDER BY n_name, category
"""


# ---------------------------------------------------------------------------
# protected_areas_raster — categorical priority burn-in
# ---------------------------------------------------------------------------

# IUCN category -> protection rank, the reference's `protected_areas`
# config dict (input_maps.py:144 generate_protected_areas maps
# feat.IUCN_CAT through it into the "Raster" attribute before burning).
_PA_RANKS = [
    ("Ia", 1),
    ("Ib", 2),
    ("II", 3),
    ("III", 4),
    ("IV", 5),
    ("V", 6),
    ("VI", 7),
    ("Not Applicable", 0),
    ("Not Assigned", 0),
    ("Not Reported", 0),
]


def protected_areas_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical protected-area rasterization (SURVEY §2 #88).

    Reference: ``generate_protected_areas`` (input_maps.py:144) tags each
    protected-area feature with an integer rank looked up from the
    IUCN-category dict, then burns the features into a raster — where
    features overlap, gdal's burn keeps the value written last; the
    deterministic distributed equivalent is MAX(rank) per pixel (strictest
    protection wins), which is order-independent and hence the only form
    that is stable under parallel execution. Pixels covered by no feature
    get rank 0 (the land-sea default): a LEFT join against the broadcast
    feature boxes keeps the grid dense without a second pass. Output is
    the per-rank pixel census the siting step consumes.
    """
    nat = _t(spark, sf_dir, "nation")
    # Feature table: each nation contributes a protected-area box tagged
    # with an IUCN category code (deterministic pick from the dict).
    cats = spark.createDataFrame(_PA_RANKS, "iucn_cat string, rank int")
    feats = nat.select(
        ((F.col("n_nationkey") * 3 % 28) * 5 - 70).alias("lat_min"),
        ((F.col("n_nationkey") * 3 % 28) * 5 - 70 + 25).alias("lat_max"),
        ((F.col("n_nationkey") * 17 % 64) * 5 - 160).alias("lon_min"),
        ((F.col("n_nationkey") * 17 % 64) * 5 - 160 + 40).alias("lon_max"),
        F.element_at(
            F.array(*[F.lit(c) for c, _ in _PA_RANKS]),
            (F.col("n_nationkey") % 10 + 1).cast("int"),
        ).alias("iucn_cat"),
    ).join(F.broadcast(cats), "iucn_cat")
    pix = (
        spark.range(160 * 360)
        .select(
            ((F.col("id") / 360).cast("int") - 80 + F.lit(0.5)).alias("lat"),
            ((F.col("id") % 360).cast("int") - 180 + F.lit(0.5)).alias("lon"),
        )
    )
    cond = (
        (F.col("lat") >= F.col("lat_min"))
        & (F.col("lat") < F.col("lat_max"))
        & (F.col("lon") >= F.col("lon_min"))
        & (F.col("lon") < F.col("lon_max"))
    )
    burned = (
        pix.join(F.broadcast(feats), cond, "left")
        .groupBy("lat", "lon")
        .agg(F.coalesce(F.max("rank"), F.lit(0)).alias("protection"))
    )
    return (
        burned.groupBy("protection")
        .agg(F.count(F.lit(1)).alias("n_cells"))
    )


QUERIES["protected_areas_raster"] = protected_areas_raster


_PA_CAT_ARRAY_SQL = "[" + ", ".join(f"'{c}'" for c, _ in _PA_RANKS) + "]"


_PA_VALUES_SQL = ", ".join(f"('{c}', {r})" for c, r in _PA_RANKS)

ORACLES["protected_areas_raster"] = f"""
WITH cats(iucn_cat, rank) AS (VALUES {_PA_VALUES_SQL}),
feats AS (
  SELECT (n_nationkey * 3 % 28) * 5 - 70 AS lat_min,
         (n_nationkey * 3 % 28) * 5 - 70 + 25 AS lat_max,
         (n_nationkey * 17 % 64) * 5 - 160 AS lon_min,
         (n_nationkey * 17 % 64) * 5 - 160 + 40 AS lon_max,
         {_PA_CAT_ARRAY_SQL}[cast(n_nationkey % 10 + 1 AS INT)] AS iucn_cat
  FROM nation
), tagged AS (
  SELECT lat_min, lat_max, lon_min, lon_max, rank
  FROM feats JOIN cats USING (iucn_cat)
), pix AS (
  SELECT (cast(id // 360 AS INT) - 80 + 0.5) AS lat,
         (cast(id % 360 AS INT) - 180 + 0.5) AS lon
  FROM (SELECT unnest(range(57600)) AS id)
), burned AS (
  SELECT lat, lon, coalesce(max(rank), 0) AS protection
  FROM pix LEFT JOIN tagged
    ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
  GROUP BY lat, lon
)
SELECT protection, count(*) AS n_cells
FROM burned GROUP BY protection ORDER BY protection
"""


# ---------------------------------------------------------------------------
# knn_sites — k-nearest-site assignment (k > 1 extension of nearest_site)
# ---------------------------------------------------------------------------

def knn_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-nearest-site assignment per customer point (SURVEY §2 #94).

    Reference: spatial_functions.py get_sites assigns points to their
    region; interconnection candidates need the k nearest, not just the
    argmin. The site table is dim-sized and BROADCAST; the rank filter
    (rn <= 3) compiles to WindowGroupLimit, so each task keeps a 3-row
    heap per point — the fact side never shuffles more than its own
    top-3 rows. Distances round to 6dp before ranking (trig doubles are
    cross-engine 1-ulp territory; ranking on the rounded value is the
    stable contract, nearest_site precedent).
    """

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 160) - 80 + F.lit(0.5)).alias("lat"),
        ((F.col("c_custkey") * 104729 % 360) - 180 + F.lit(0.5)).alias("lon"),
    )
    sites = _t(spark, sf_dir, "nation").select(
        "n_name",
        ((F.col("n_nationkey") * 13 % 140) - 70 + F.lit(0.0)).alias("slat"),
        ((F.col("n_nationkey") * 29 % 340) - 170 + F.lit(0.0)).alias("slon"),
    )
    d = F.round(
        haversine_km(F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")),
        6,
    )
    w = Window.partitionBy("c_custkey").orderBy(F.asc("dist"), F.asc("n_name"))
    return (
        cust.crossJoin(F.broadcast(sites))
        .withColumn("dist", d)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", F.col("rn").cast("int").alias("rn"), "n_name", "dist")
    )


QUERIES["knn_sites"] = knn_sites


def _knn_oracle() -> str:
    hav = haversine_km_sql("lat", "lon", "slat", "slon")
    return f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 160) - 80 + 0.5 AS lat,
         (c_custkey * 104729 % 360) - 180 + 0.5 AS lon
  FROM customer
), sites AS (
  SELECT n_name,
         CAST((n_nationkey * 13 % 140) - 70 AS DOUBLE) AS slat,
         CAST((n_nationkey * 29 % 340) - 170 AS DOUBLE) AS slon
  FROM nation
), dists AS (
  SELECT c_custkey, n_name, round({hav}, 6) AS dist
  FROM pts CROSS JOIN sites
)
SELECT c_custkey,
       CAST(row_number() OVER (PARTITION BY c_custkey ORDER BY dist, n_name) AS INT) AS rn,
       n_name, dist
FROM dists
QUALIFY rn <= 3
ORDER BY c_custkey, rn
"""

ORACLES["knn_sites"] = _knn_oracle()


# ---------------------------------------------------------------------------
# point_in_polygon — TRUE polygon containment (integer ray casting)
# ---------------------------------------------------------------------------
# The reference rasterizes real shapefile polygons (spatial_functions.py
# calc_region:140, crd_exact_points:100); every spatial op in this repo so
# far used bbox analogues because no geometry lib ships in the container.
# Ray casting needs no library: with EVEN integer vertex coordinates and
# ODD integer point coordinates (everything scaled x2), a point can never
# lie on an edge, and the crossing test
#     (yi > y) != (yj > y)  AND  x left of the edge's intersection
# cross-multiplies into pure integer comparisons — EXACT, no float, no
# cross-engine epsilon. Polygons here are non-convex L-shapes (the box
# minus its upper-right quadrant), so the result provably differs from
# bbox containment — both counts are emitted side by side.

# L-shape vertex offsets (x2 scale), counterclockwise.
_PIP_XOFF = [0, 144, 144, 72, 72, 0]
_PIP_YOFF = [0, 0, 40, 40, 80, 80]


def _raycast_crossings() -> "F.Column":
    """Edge-crossing count of the ray from (px, py) through the 6-vertex
    `poly` struct array — exact integer ray casting as a row-local
    aggregate() HOF (see the point_in_polygon docstring for why the
    integer form is float-free). Shared by point_in_polygon and
    polygon_zonal_stats."""
    return F.expr(
        "aggregate(sequence(0, 5), 0, (acc, i) -> acc + IF("
        " (element_at(poly, i + 1).y > py)"
        "   != (element_at(poly, pmod(i + 1, 6) + 1).y > py)"
        " AND CASE"
        "   WHEN element_at(poly, pmod(i + 1, 6) + 1).y"
        "        - element_at(poly, i + 1).y > 0"
        "   THEN (px - element_at(poly, i + 1).x)"
        "        * (element_at(poly, pmod(i + 1, 6) + 1).y"
        "           - element_at(poly, i + 1).y)"
        "      < (element_at(poly, pmod(i + 1, 6) + 1).x"
        "         - element_at(poly, i + 1).x)"
        "        * (py - element_at(poly, i + 1).y)"
        "   ELSE (px - element_at(poly, i + 1).x)"
        "        * (element_at(poly, pmod(i + 1, 6) + 1).y"
        "           - element_at(poly, i + 1).y)"
        "      > (element_at(poly, pmod(i + 1, 6) + 1).x"
        "         - element_at(poly, i + 1).x)"
        "        * (py - element_at(poly, i + 1).y)"
        " END, 1, 0))"
    )


def point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact point-in-polygon census per nation (SURVEY §2 #107).

    Spark-first: the 25-polygon table (6 integer vertices each, riding a
    struct array) is BROADCAST; each customer point runs the 6-edge
    ray-cast as a row-local `aggregate` higher-order function — no row
    fanout, no UDF, whole-stage codegen. At web-scale polygon counts the
    candidate framing switches to the same grid-cell equi-join as
    point_in_region_grid; at high vertex counts the vertex array simply
    rides the broadcast. `n_in_bbox >= n_in_polygon` strictly on the
    upper-right quadrant — the gap is the proof this is real PIP, not a
    box test.
    """
    nat = _t(spark, sf_dir, "nation")
    polys = nat.select(
        "n_name",
        (((F.col("n_nationkey") * 11 % 60) * 6 - 180) * 2).alias("x0"),
        (((F.col("n_nationkey") * 7 % 32) * 5 - 80) * 2).alias("y0"),
    ).withColumn(
        "poly",
        F.array(
            *[
                F.struct(
                    (F.col("x0") + xo).cast("long").alias("x"),
                    (F.col("y0") + yo).cast("long").alias("y"),
                )
                for xo, yo in zip(_PIP_XOFF, _PIP_YOFF)
            ]
        ),
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (2 * ((F.col("c_custkey") * 104729 % 360) - 180) + 1)
        .cast("long")
        .alias("px"),
        (2 * ((F.col("c_custkey") * 7919 % 160) - 80) + 1)
        .cast("long")
        .alias("py"),
    )
    crossings = _raycast_crossings()
    in_bbox = (
        (F.col("px") > F.col("x0"))
        & (F.col("px") < F.col("x0") + 144)
        & (F.col("py") > F.col("y0"))
        & (F.col("py") < F.col("y0") + 80)
    )
    tagged = (
        cust.crossJoin(F.broadcast(polys))
        .withColumn("inside", F.pmod(crossings, F.lit(2)) == 1)
        .withColumn("inbox", in_bbox)
    )
    return (
        tagged.groupBy("n_name")
        .agg(
            F.sum(F.col("inside").cast("int")).alias("n_in_polygon"),
            F.sum(F.col("inbox").cast("int")).alias("n_in_bbox"),
        )
    )


QUERIES["point_in_polygon"] = point_in_polygon


def _pip_oracle() -> str:
    xi = "CASE i " + " ".join(
        f"WHEN {i} THEN {xo}" for i, xo in enumerate(_PIP_XOFF)
    ) + " END"
    yi = "CASE i " + " ".join(
        f"WHEN {i} THEN {yo}" for i, yo in enumerate(_PIP_YOFF)
    ) + " END"
    xj = "CASE (i + 1) % 6 " + " ".join(
        f"WHEN {i} THEN {xo}" for i, xo in enumerate(_PIP_XOFF)
    ) + " END"
    yj = "CASE (i + 1) % 6 " + " ".join(
        f"WHEN {i} THEN {yo}" for i, yo in enumerate(_PIP_YOFF)
    ) + " END"
    return f"""
WITH pts AS (
  SELECT c_custkey,
         2 * ((c_custkey * 104729 % 360) - 180) + 1 AS px,
         2 * ((c_custkey * 7919 % 160) - 80) + 1 AS py
  FROM customer
), polys AS (
  SELECT n_name,
         ((n_nationkey * 11 % 60) * 6 - 180) * 2 AS x0,
         ((n_nationkey * 7 % 32) * 5 - 80) * 2 AS y0
  FROM nation
), edges AS (
  SELECT n_name, x0, y0,
         x0 + {xi} AS exi, y0 + {yi} AS eyi,
         x0 + {xj} AS exj, y0 + {yj} AS eyj
  FROM polys, (SELECT unnest(range(6)) AS i) idx
), crossed AS (
  SELECT p.c_custkey, e.n_name, e.x0, e.y0, p.px, p.py,
         sum(CASE WHEN (eyi > py) <> (eyj > py)
                   AND (CASE WHEN eyj - eyi > 0
                             THEN (px - exi) * (eyj - eyi)
                                  < (exj - exi) * (py - eyi)
                             ELSE (px - exi) * (eyj - eyi)
                                  > (exj - exi) * (py - eyi) END)
                  THEN 1 ELSE 0 END) AS crossings
  FROM pts p CROSS JOIN edges e
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT n_name,
       CAST(sum(CASE WHEN crossings % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_polygon,
       CAST(sum(CASE WHEN px > x0 AND px < x0 + 144
                      AND py > y0 AND py < y0 + 80
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bbox
FROM crossed
GROUP BY n_name ORDER BY n_name
"""

ORACLES["point_in_polygon"] = _pip_oracle()


# ---------------------------------------------------------------------------
# polygon_zonal_stats — zonal statistics over TRUE polygon zones
# ---------------------------------------------------------------------------

def polygon_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal raster statistics with REAL polygon zones (SURVEY §2 #108)
    — zonal_stats (#49) upgraded from bbox analogues to the reference's
    actual shape (spatial_functions.py zonal_stats over rasterized
    polygon regions): pixel values aggregated per containing L-shaped
    polygon.

    Two-phase containment, the production spatial-join layout: a cheap
    bbox PREFILTER on the broadcast join condition discards ~everything
    first, and the exact integer ray cast (see point_in_polygon) runs
    only on bbox survivors — at billions of pixels the expensive test
    never sees the pixels the box already excludes. All-integer
    throughout; the mean is one rounded division of exact totals.
    """
    nat = _t(spark, sf_dir, "nation")
    polys = nat.select(
        "n_name",
        (((F.col("n_nationkey") * 11 % 60) * 6 - 180) * 2).alias("x0"),
        (((F.col("n_nationkey") * 7 % 32) * 5 - 80) * 2).alias("y0"),
    ).withColumn(
        "poly",
        F.array(
            *[
                F.struct(
                    (F.col("x0") + xo).cast("long").alias("x"),
                    (F.col("y0") + yo).cast("long").alias("y"),
                )
                for xo, yo in zip(_PIP_XOFF, _PIP_YOFF)
            ]
        ),
    )
    pix = (
        spark.range(160 * 360)
        .withColumn("latidx", (F.col("id") / 360).cast("int"))
        .withColumn("lonidx", (F.col("id") % 360).cast("int"))
        .select(
            (2 * (F.col("lonidx") - 180) + 1).cast("long").alias("px"),
            (2 * (F.col("latidx") - 80) + 1).cast("long").alias("py"),
            ((F.col("latidx") * 7 + F.col("lonidx") * 13) % 100).alias("pixval"),
        )
    )
    bbox = (
        (F.col("px") > F.col("x0"))
        & (F.col("px") < F.col("x0") + 144)
        & (F.col("py") > F.col("y0"))
        & (F.col("py") < F.col("y0") + 80)
    )
    crossings = _raycast_crossings()
    # The verify is a CONDITIONAL AGGREGATE, not a filter: a Filter node
    # over the aggregate() HOF trips a Spark 4.1 pushdown bug (the
    # predicate is pushed below the broadcast join into the range scan,
    # which fails at runtime with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    # "Could not find poly#N in [id#M]"). Summing IF(inside, ..) is the
    # same work in the same stage — and point_in_polygon's identical
    # shape is known-good.
    inside = (F.pmod(crossings, F.lit(2)) == 1).cast("int")
    return (
        pix.join(F.broadcast(polys), bbox)          # cheap prefilter
        .withColumn("inside", inside)
        .groupBy("n_name")
        .agg(
            F.sum("inside").alias("n_cells"),
            F.sum(F.col("inside") * F.col("pixval")).alias("total"),
            F.round(
                F.sum(F.col("inside") * F.col("pixval")).cast("double")
                / F.sum("inside"),
                4,
            ).alias("mean_val"),
        )
    )


QUERIES["polygon_zonal_stats"] = polygon_zonal_stats


def _polygon_zonal_oracle() -> str:
    xi = "CASE i " + " ".join(
        f"WHEN {i} THEN {xo}" for i, xo in enumerate(_PIP_XOFF)
    ) + " END"
    yi = "CASE i " + " ".join(
        f"WHEN {i} THEN {yo}" for i, yo in enumerate(_PIP_YOFF)
    ) + " END"
    xj = "CASE (i + 1) % 6 " + " ".join(
        f"WHEN {i} THEN {xo}" for i, xo in enumerate(_PIP_XOFF)
    ) + " END"
    yj = "CASE (i + 1) % 6 " + " ".join(
        f"WHEN {i} THEN {yo}" for i, yo in enumerate(_PIP_YOFF)
    ) + " END"
    return f"""
WITH pix AS (
  SELECT 2 * (cast(id % 360 AS INT) - 180) + 1 AS px,
         2 * (cast(id // 360 AS INT) - 80) + 1 AS py,
         (cast(id // 360 AS INT) * 7 + cast(id % 360 AS INT) * 13) % 100
           AS pixval
  FROM (SELECT unnest(range(57600)) AS id)
), polys AS (
  SELECT n_name,
         ((n_nationkey * 11 % 60) * 6 - 180) * 2 AS x0,
         ((n_nationkey * 7 % 32) * 5 - 80) * 2 AS y0
  FROM nation
), boxed AS (
  SELECT p.px, p.py, p.pixval, q.n_name, q.x0, q.y0
  FROM pix p JOIN polys q
    ON p.px > q.x0 AND p.px < q.x0 + 144
   AND p.py > q.y0 AND p.py < q.y0 + 80
), crossed AS (
  SELECT px, py, pixval, n_name,
         sum(CASE WHEN (y0 + {yi} > py) <> (y0 + {yj} > py)
                   AND (CASE WHEN ({yj}) - ({yi}) > 0
                             THEN (px - x0 - ({xi})) * (({yj}) - ({yi}))
                                  < (({xj}) - ({xi})) * (py - y0 - ({yi}))
                             ELSE (px - x0 - ({xi})) * (({yj}) - ({yi}))
                                  > (({xj}) - ({xi})) * (py - y0 - ({yi}))
                        END)
                  THEN 1 ELSE 0 END) AS crossings
  FROM boxed, (SELECT unnest(range(6)) AS i) idx
  GROUP BY 1, 2, 3, 4
)
SELECT n_name, count(*) AS n_cells,
       CAST(sum(pixval) AS BIGINT) AS total,
       round(sum(pixval)::DOUBLE / count(*), 4) AS mean_val
FROM crossed WHERE crossings % 2 = 1
GROUP BY n_name ORDER BY n_name
"""

ORACLES["polygon_zonal_stats"] = _polygon_zonal_oracle()


# ---------------------------------------------------------------------------
# raster_export_manifest — distributed GeoTIFF export through the catalog
# ---------------------------------------------------------------------------

_REM_TILE = 64


def raster_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GeoTIFF tile export driven through the catalog
    (SURVEY §2 #190; VERDICT r5 item 6 — the GIS surface previously had
    only pytest coverage): rasterize the region-mask grid (the
    region_mask_raster overlay, value = overlapping-region count — an
    integer, so the float32 tile samples are exact), export it tile by
    tile with ``write_raster_tiles`` (TIFF 6.0 + WGS84 GeoKeys encoded
    on the EXECUTORS, one applyInPandas group per tile), re-read every
    tile with the verifying stdlib parser via Spark's binaryFile
    source, and emit the per-tile census: cell count, value total, and
    index bbox. A single corrupt byte in any encoder field breaks the
    decode (CRC-checked chunks are PNG; here the verifying TIFF parser
    rejects malformed tags), so the closed-form oracle — the same grid
    arithmetic in pure SQL, no file anywhere — gates the full
    encode→write→list→decode round trip.

    Scale shape: the grid fanout is sequence+explode on executors
    (region_mask_raster's audited plan), the tile write shuffles once
    on the tile key, the read-back parallelizes per tile file via
    binaryFile, and the census is one map-combined aggregation.
    Reference parity: array2raster + the per-window raster exports of
    input_maps.py (spatial_functions.py:190).

    Deployment contract (VERDICT r6 item 2): the tile hop rides
    :func:`pyprima_spark.sources.fsio.scratch_dir` — set
    ``spark.pyprima.scratchDir`` to a shared/HDFS/object-store URI on
    a multi-node cluster; the default driver tempdir is correct only
    where driver and executors share a disk (local[k], the tested
    env). Tile bytes route through PyArrow's FileSystem API either
    way (sources/fsio.py), so the executor-side write works on any
    URI pyarrow can open.
    """

    reg = _t(spark, sf_dir, "region")
    boxes = reg.select(
        (F.col("r_regionkey") * 37 % 120).alias("la0"),
        (F.col("r_regionkey") * 53 % 288).alias("lo0"),
    )
    cells = boxes.select(
        F.explode(F.sequence(F.col("la0"), F.col("la0") + 39)).alias("latidx"),
        "lo0",
    ).select(
        "latidx",
        F.explode(F.sequence(F.col("lo0"), F.col("lo0") + 71)).alias("lonidx"),
    )
    grid = cells.groupBy("latidx", "lonidx").agg(
        F.count(F.lit(1)).cast("double").alias("value")
    )

    out_dir = fsio.scratch_dir(spark, "pyprima_raster_export_")
    manifest = write_raster_tiles(grid, out_dir, tile_size=_REM_TILE)
    # Force the distributed write before planning the read-back scan
    # (binaryFile lists the directory at load time). One driver scalar,
    # same class as the iterative-algorithm convergence counts.
    manifest.count()

    back = read_raster_tiles(spark, out_dir)
    return (
        back.groupBy(
            F.expr(f"latidx div {_REM_TILE}").alias("tla"),
            F.expr(f"lonidx div {_REM_TILE}").alias("tlo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("total_value"),
            F.min("latidx").alias("la_min"),
            F.max("latidx").alias("la_max"),
            F.min("lonidx").alias("lo_min"),
            F.max("lonidx").alias("lo_max"),
        )
    )


QUERIES["raster_export_manifest"] = raster_export_manifest

ORACLES["raster_export_manifest"] = f"""
WITH boxes AS (
  SELECT (r_regionkey * 37) % 120 AS la0,
         (r_regionkey * 53) % 288 AS lo0
  FROM region
),
cells AS (
  SELECT la.latidx, lo.lonidx
  FROM boxes,
       unnest(generate_series(la0, la0 + 39)) la(latidx),
       unnest(generate_series(lo0, lo0 + 71)) lo(lonidx)
),
grid AS (
  SELECT latidx, lonidx, count(*) AS value FROM cells GROUP BY 1, 2
)
SELECT latidx // {_REM_TILE} AS tla,
       lonidx // {_REM_TILE} AS tlo,
       count(*) AS n_cells,
       CAST(sum(value) AS BIGINT) AS total_value,
       min(latidx) AS la_min, max(latidx) AS la_max,
       min(lonidx) AS lo_min, max(lonidx) AS lo_max
FROM grid
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# grid_density_clusters — distributed grid-DBSCAN density clustering
# ---------------------------------------------------------------------------

_GDC_RES = 20  # cells per unit: floor(e * 20)
_GDC_MINPTS = 4


def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-DBSCAN density clustering (SURVEY §2 #271) — the density
    family the catalog lacked (label_centroids/silhouette assume
    GIVEN labels; ann_ivf partitions by nearest centroid; nothing
    DISCOVERS clusters from density): the standard distributed DBSCAN
    approximation (cell-based DBSCAN, Gunawan 2013 / GriDBSCAN) on
    the leading two embedding dims — points land in 1/{res}-unit grid
    cells map-side, cells with ≥ {minpts} points are CORE, core cells
    connect to their 8-neighbors, and connected components of the
    core-cell graph are the clusters (border/noise points = non-core
    cells, published as the noise row).

    Scale shape: the point→cell census is one map-combined agg — the
    only fact-sized work; the cell table is bounded by GRID
    RESOLUTION (a constant, ≤ ~400 cells no matter how many points
    arrive), so the census is collected once and the 8-neighbor
    expansion plus exact min-label connected components (union-find,
    full convergence — the same fixpoint the oracle's recursive-CTE
    transitive closure reaches) run driver-side on the constant-size
    cell graph, replacing the shared hash-min machinery's per-round
    jobs on the same dim-sized state.
    """
    emb = _t(spark, sf_dir, "embeddings")
    cells = (
        emb.select(
            F.expr(
                f"cast(floor(cast(element_at(embedding, 1) as double)"
                f" * {_GDC_RES}) as bigint)"
            ).alias("cx"),
            F.expr(
                f"cast(floor(cast(element_at(embedding, 2) as double)"
                f" * {_GDC_RES}) as bigint)"
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .withColumn("cell", F.expr("(cx + 100) * 1000 + (cy + 100)"))
    )

    crows = bounded_collect(
        cells, 40401, "grid_density_clusters: resolution-bounded cell census"
    )  # ≤ 201×201 cells, the (cx+100)*1000+(cy+100) encoding capacity
    core = {
        (r["cx"], r["cy"]): (r["cell"], r["n_pts"])
        for r in crows
        if r["n_pts"] >= _GDC_MINPTS
    }
    # exact min-label components (union-find, full convergence — the
    # same fixpoint the oracle's recursive CTE reaches); isolated core
    # cells keep their own id via the self-edge
    nbr_edges = [
        (cell, core[(cx + dx, cy + dy)][0])
        for (cx, cy), (cell, _n) in core.items()
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0) and (cx + dx, cy + dy) in core
    ]
    comp = min_label_components(
        nbr_edges + [(cell, cell) for cell, _n in core.values()]
    )
    agg: dict = {}
    for cell, n_pts in core.values():
        root = comp[cell]
        cnt, pts = agg.get(root, (0, 0))
        agg[root] = (cnt + 1, pts + n_pts)
    noise_cells = [r for r in crows if r["n_pts"] < _GDC_MINPTS]
    out = [
        (int(cid), int(cnt), int(pts)) for cid, (cnt, pts) in agg.items()
    ]
    out.append((
        -1,
        len(noise_cells),
        sum(r["n_pts"] for r in noise_cells),
    ))
    out.sort(key=lambda t: (-t[2], t[0]))
    return spark.createDataFrame(
        out,
        schema="cluster_id bigint, n_cells bigint, n_points bigint",
    )


QUERIES["grid_density_clusters"] = grid_density_clusters

ORACLES["grid_density_clusters"] = f"""
WITH RECURSIVE cells AS (
  SELECT cx, cy, count(*) AS n_pts, (cx + 100) * 1000 + (cy + 100) AS cell
  FROM (
    SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * {_GDC_RES}) AS BIGINT)
             AS cx,
           CAST(floor(CAST(embedding[2] AS DOUBLE) * {_GDC_RES}) AS BIGINT)
             AS cy
    FROM embeddings
  ) GROUP BY cx, cy
),
core AS (SELECT * FROM cells WHERE n_pts >= {_GDC_MINPTS}),
edges AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM core a JOIN core b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND a.cell < b.cell
),
sym AS (
  SELECT src AS a, dst AS b FROM edges
  UNION SELECT dst, src FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
labels AS (
  SELECT c.cell, least(c.cell, coalesce(min(r.b), c.cell)) AS cluster_id
  FROM core c LEFT JOIN reach r ON r.a = c.cell
  GROUP BY c.cell
),
clusters AS (
  SELECT l.cluster_id, count(*) AS n_cells, sum(c.n_pts) AS n_points
  FROM labels l JOIN core c ON c.cell = l.cell
  GROUP BY l.cluster_id
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(n_points AS BIGINT) AS n_points
FROM clusters
UNION ALL
SELECT -1, CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_pts), 0) AS BIGINT)
FROM cells WHERE n_pts < {_GDC_MINPTS}
ORDER BY n_points DESC, cluster_id
"""


# ---------------------------------------------------------------------------
# morans_i_autocorrelation — spatial autocorrelation on the synthetic grid
# ---------------------------------------------------------------------------

_MOR_LON_CELLS = 36
_MOR_LAT_CELLS = 16


def morans_i_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MORAN'S I spatial autocorrelation (SURVEY §2 #307) — the
    statistic the spatial family measures NOTHING with today (the
    point-in-polygon/zonal/grid keys all join or aggregate; none asks
    "is the map clustered or random?" — Moran 1950, the first
    question of any spatial analysis): customer account balance on
    the deterministic synthetic lattice (the point_in_region
    geometry, coarsened to a 36×16 cell census), rook-adjacency
    weights, I = (n/W)·Σ_ij w_ij z_i z_j / Σ z_i².  Deviations are
    kept exact by the n-scaling trick z_i ∝ n·x_i − Σx (the common
    factor cancels in the ratio), so I_milli is one trailing
    division over DECIMAL(38,0) integers.  Published per region so
    the reader sees WHERE balance clusters.

    Scale shape: one fact agg to the ≤576-cell census; rook neighbor
    pairs via four shifted equi-joins on cell ids (never a range
    join); the moment folds are census aggregates.  Windowless.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.expr(
                f"cast((c_custkey * 104729 % 360) div"
                f" {360 // _MOR_LON_CELLS} as int)"
            ).alias("cx"),
            F.expr(
                f"cast((c_custkey * 7919 % 160) div"
                f" {160 // _MOR_LAT_CELLS} as int)"
            ).alias("cy"),
            F.expr(
                "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
            ).alias("bal"),
        )
    )
    cells = materialize(
        cust.groupBy("region", "cx", "cy").agg(
            F.expr("sum(bal) div count(*)").alias("x")
        )
    )
    # Everything below the <= |regions| x 576-cell census is exact
    # integer arithmetic on dim-bounded state — a census-collect-then-
    # iterate key (SURVEY §7.24a): the former rook-neighbor equi-joins
    # and moment folds were ~11 jobs / ~11 exchanges.  tdiv replicates
    # SQL div's truncation toward zero (z products are signed) and the
    # nullif-guard exactly.

    crows = bounded_collect(
        cells, 8192, "morans_i_autocorrelation: region cell census"
    )
    regions: dict = {}
    for r in crows:
        regions.setdefault(r["region"], {})[(r["cx"], r["cy"])] = int(r["x"])
    out = []
    for region in sorted(regions):
        cs = regions[region]
        n = len(cs)
        sx = sum(cs.values())
        z = {c: n * x - sx for c, x in cs.items()}
        w = 0
        szz = 0
        for (cx, cy), zi in z.items():
            for nb in ((cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1)):
                if nb in z:
                    w += 1
                    szz += zi * z[nb]
        if w == 0:
            # the former num-side inner join dropped a region with no
            # rook-adjacent pair outright
            continue
        sz2 = sum(v * v for v in z.values())
        i_milli = _tdiv(1000 * n * szz, (w * sz2) or None)
        i_milli = 0 if i_milli is None else i_milli
        pattern = (
            "clustered"
            if i_milli > 100
            else ("dispersed" if i_milli < -100 else "random")
        )
        out.append((region, n, w, i_milli, pattern))
    return spark.createDataFrame(
        out,
        schema="region string, n_cells bigint, n_neighbor_pairs bigint,"
        " morans_i_milli bigint, pattern string",
    )


QUERIES["morans_i_autocorrelation"] = morans_i_autocorrelation

ORACLES["morans_i_autocorrelation"] = f"""
WITH cust AS (
  SELECT r_name AS region,
         CAST((c_custkey * 104729 % 360) // {360 // _MOR_LON_CELLS} AS INT)
           AS cx,
         CAST((c_custkey * 7919 % 160) // {160 // _MOR_LAT_CELLS} AS INT)
           AS cy,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
cells AS MATERIALIZED (
  SELECT region, cx, cy, sum(bal) // count(*) AS x
  FROM cust GROUP BY 1, 2, 3
),
tot AS (
  SELECT region, count(*) AS n, sum(x) AS sx FROM cells GROUP BY region
),
z AS MATERIALIZED (
  SELECT c.region, c.cx, c.cy, t.n,
         t.n::HUGEINT * c.x - t.sx AS z
  FROM cells c JOIN tot t USING (region)
),
pairs AS (
  SELECT a.region, a.z AS za, b.z AS zb
  FROM z a JOIN z b ON a.region = b.region
   AND ((b.cx = a.cx + 1 AND b.cy = a.cy)
     OR (b.cx = a.cx - 1 AND b.cy = a.cy)
     OR (b.cy = a.cy + 1 AND b.cx = a.cx)
     OR (b.cy = a.cy - 1 AND b.cx = a.cx))
),
num AS (
  SELECT region, count(*) AS w, sum(za * zb) AS szz
  FROM pairs GROUP BY region
),
den AS (
  SELECT region, n, sum(z * z) AS sz2 FROM z GROUP BY region, n
)
SELECT d.region,
       CAST(d.n AS BIGINT) AS n_cells,
       CAST(m.w AS BIGINT) AS n_neighbor_pairs,
       CAST(coalesce((1000 * d.n * m.szz) // nullif(m.w * d.sz2, 0), 0)
            AS BIGINT) AS morans_i_milli,
       CASE WHEN coalesce((1000 * d.n * m.szz) // nullif(m.w * d.sz2, 0),
                          0) > 100 THEN 'clustered'
            WHEN coalesce((1000 * d.n * m.szz) // nullif(m.w * d.sz2, 0),
                          0) < -100 THEN 'dispersed'
            ELSE 'random' END AS pattern
FROM den d JOIN num m USING (region)
ORDER BY d.region
"""


# ---------------------------------------------------------------------------
# ripley_k_function — multi-scale spatial clustering census
# ---------------------------------------------------------------------------

_RIPLEY_RADII = (1, 2, 4, 8)


def ripley_k_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIPLEY'S K FUNCTION (SURVEY §2 #327) — the multi-SCALE
    companion of morans_i_autocorrelation's single global number
    (Ripley 1977): Moran says WHETHER the map clusters; K(r) says AT
    WHICH RADIUS — clustering at r=1 with dispersion at r=8 is a
    checkerboard, the opposite is blobs, and only the K curve tells
    them apart.  Customer counts on the same deterministic 36x16
    lattice; K(r) is the average number of neighbors within Chebyshev
    radius r, normalized by the expected count under uniformity
    ((2r+1)^2 - 1 cells x mean density) so k_ratio_milli = 1000 means
    CSR (complete spatial randomness), above = clustered at that
    scale.  Exact integers: pair counts x cell populations,
    cross-multiplied against the uniform expectation.

    Scale shape: fact -> cell census (<= 576 rows); the neighbor
    count is a census self-join bounded by |dx| <= r, |dy| <= r (the
    largest radius caps the fanout at (2*8+1)^2 per cell); one fold
    per radius.  Windowless.
    """
    cust = _t(spark, sf_dir, "customer").select(
        F.expr(
            f"cast((c_custkey * 104729 % 360) div {360 // _MOR_LON_CELLS}"
            " as int)"
        ).alias("cx"),
        F.expr(
            f"cast((c_custkey * 7919 % 160) div {160 // _MOR_LAT_CELLS}"
            " as int)"
        ).alias("cy"),
    )
    cells = materialize(
        cust.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("w"))
    )
    b = cells.select(
        F.col("cx").alias("cx2"),
        F.col("cy").alias("cy2"),
        F.col("w").alias("w2"),
    )
    rmax = max(_RIPLEY_RADII)
    pairs = materialize(
        cells.join(
            F.broadcast(b),
            (F.expr(f"abs(cx2 - cx) <= {rmax}"))
            & (F.expr(f"abs(cy2 - cy) <= {rmax}"))
            & (F.expr("NOT (cx2 = cx AND cy2 = cy)")),
        ).select(
            F.expr("greatest(abs(cx2 - cx), abs(cy2 - cy))").alias("d"),
            F.expr("cast(w as decimal(38,0)) * w2").alias("ww"),
        )
    )
    tot = cells.agg(
        F.sum("w").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    radii = spark.range(1).select(
        F.explode(
            F.expr(f"array({', '.join(str(r) for r in _RIPLEY_RADII)})")
        ).alias("r")
    )
    counts = (
        radii.join(F.broadcast(pairs), F.expr("d <= r"))
        .groupBy("r")
        .agg(F.sum("ww").alias("n_pairs"))
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("bigint").alias("radius"),
            F.expr("cast(n_pairs as bigint)").alias("n_neighbor_pairs"),
            # expected under CSR: pairs * ((2r+1)^2 - 1) / n_cells per
            # source point; ratio cross-multiplied
            F.expr(
                "cast((1000 * n_pairs * n_cells)"
                " div (cast(n as decimal(38,0)) * n"
                " * ((2 * r + 1) * (2 * r + 1) - 1)) as bigint)"
            ).alias("k_ratio_milli"),
        )
    )


QUERIES["ripley_k_function"] = ripley_k_function

ORACLES["ripley_k_function"] = f"""
WITH cust AS (
  SELECT CAST((c_custkey * 104729 % 360) // {360 // _MOR_LON_CELLS} AS INT)
           AS cx,
         CAST((c_custkey * 7919 % 160) // {160 // _MOR_LAT_CELLS} AS INT)
           AS cy
  FROM customer
),
cells AS MATERIALIZED (
  SELECT cx, cy, count(*) AS w FROM cust GROUP BY cx, cy
),
pairs AS MATERIALIZED (
  SELECT greatest(abs(b.cx - a.cx), abs(b.cy - a.cy)) AS d,
         a.w::HUGEINT * b.w AS ww
  FROM cells a JOIN cells b
    ON abs(b.cx - a.cx) <= {max(_RIPLEY_RADII)}
   AND abs(b.cy - a.cy) <= {max(_RIPLEY_RADII)}
   AND NOT (b.cx = a.cx AND b.cy = a.cy)
),
tot AS (SELECT sum(w) AS n, count(*) AS n_cells FROM cells),
radii AS (
  SELECT r FROM unnest([{', '.join(str(r) for r in _RIPLEY_RADII)}]) AS t(r)
)
SELECT CAST(r AS BIGINT) AS radius,
       CAST(sum(ww) AS BIGINT) AS n_neighbor_pairs,
       CAST((1000 * sum(ww) * max(n_cells))
            // (max(n)::HUGEINT * max(n)
                * ((2 * r + 1) * (2 * r + 1) - 1)) AS BIGINT)
         AS k_ratio_milli
FROM radii JOIN pairs ON d <= r CROSS JOIN tot
GROUP BY r ORDER BY radius
"""


# ---------------------------------------------------------------------------
# local_morans_hotspots — LISA hotspot census on the lattice
# ---------------------------------------------------------------------------

_LISA_TOPK = 10


def local_morans_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL MORAN'S I hotspots (SURVEY §2 #349) — Anselin 1995's
    LISA, the WHERE to morans_i_autocorrelation's global WHETHER: the
    global I can be near zero while strong hot and cold spots cancel;
    the local statistic I_i proportional to z_i * sum_j w_ij z_j finds
    them cell by cell, and its sum RECONSTRUCTS the global numerator
    (published as a cross-check column — the decomposition identity
    is the LISA contract).  Same 36x16 balance lattice and rook
    weights as the global key; the top-10 |I_i| cells publish with a
    hotspot class (high-high / low-low / high-low outlier — the
    Moran-scatterplot quadrants, exact sign tests).

    Scale shape: identical censuses to the global key (materialized
    once); I_i is a per-cell projection after the neighbor fold; the
    top-k election is a WindowGroupLimit rank over the cell census.
    """
    cust = _t(spark, sf_dir, "customer").select(
        F.expr(
            f"cast((c_custkey * 104729 % 360) div {360 // _MOR_LON_CELLS}"
            " as int)"
        ).alias("cx"),
        F.expr(
            f"cast((c_custkey * 7919 % 160) div {160 // _MOR_LAT_CELLS}"
            " as int)"
        ).alias("cy"),
        F.expr(
            "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
        ).alias("bal"),
    )
    cells = materialize(
        cust.groupBy("cx", "cy").agg(
            F.expr("sum(bal) div count(*)").alias("x")
        )
    )
    tot = cells.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    z = materialize(
        cells.crossJoin(F.broadcast(tot)).select(
            "cx",
            "cy",
            F.expr("cast(n as decimal(38,0)) * x - sx").alias("z"),
        )
    )
    zb = z.select(
        F.col("cx").alias("cx2"), F.col("cy").alias("cy2"),
        F.col("z").alias("z2"),
    )
    nbr = (
        z.join(
            zb,
            (
                (F.col("cx2") == F.col("cx") + 1)
                & (F.col("cy2") == F.col("cy"))
            )
            | (
                (F.col("cx2") == F.col("cx") - 1)
                & (F.col("cy2") == F.col("cy"))
            )
            | (
                (F.col("cy2") == F.col("cy") + 1)
                & (F.col("cx2") == F.col("cx"))
            )
            | (
                (F.col("cy2") == F.col("cy") - 1)
                & (F.col("cx2") == F.col("cx"))
            ),
        )
        .groupBy("cx", "cy", "z")
        .agg(F.sum("z2").alias("zlag"), F.count(F.lit(1)).alias("n_nbr"))
    )
    scored = materialize(
        nbr.withColumn(
            "ii", F.expr("cast(z as decimal(38,0)) * zlag")
        )
    )
    glob_num = scored.agg(F.sum("ii").alias("global_num"))
    wtop = Window.orderBy(F.desc(F.expr("abs(ii)")), F.asc("cx"), F.asc("cy"))
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(f"rk <= {_LISA_TOPK}")
        .crossJoin(F.broadcast(glob_num))
        .select(
            F.col("rk").cast("bigint").alias("rank"),
            F.col("cx").cast("bigint").alias("cell_x"),
            F.col("cy").cast("bigint").alias("cell_y"),
            F.col("n_nbr").cast("bigint").alias("n_neighbors"),
            F.expr("cast(ii div 1000000000 as bigint)").alias("i_local_g"),
            F.expr(
                "CASE WHEN z > 0 AND zlag > 0 THEN 'high_high'"
                " WHEN z < 0 AND zlag < 0 THEN 'low_low'"
                " WHEN z > 0 THEN 'high_low_outlier'"
                " ELSE 'low_high_outlier' END"
            ).alias("quadrant"),
            F.expr(
                "cast(global_num div 1000000000 as bigint)"
            ).alias("global_numerator_g"),
        )
    )


QUERIES["local_morans_hotspots"] = local_morans_hotspots

ORACLES["local_morans_hotspots"] = f"""
WITH cust AS (
  SELECT CAST((c_custkey * 104729 % 360) // {360 // _MOR_LON_CELLS} AS INT)
           AS cx,
         CAST((c_custkey * 7919 % 160) // {160 // _MOR_LAT_CELLS} AS INT)
           AS cy,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
  FROM customer
),
cells AS MATERIALIZED (
  SELECT cx, cy, sum(bal) // count(*) AS x FROM cust GROUP BY cx, cy
),
tot AS (SELECT count(*) AS n, sum(x) AS sx FROM cells),
z AS MATERIALIZED (
  SELECT cx, cy, t.n::HUGEINT * x - t.sx AS z
  FROM cells CROSS JOIN tot t
),
nbr AS MATERIALIZED (
  SELECT a.cx, a.cy, a.z, sum(b.z) AS zlag, count(*) AS n_nbr
  FROM z a JOIN z b
    ON (b.cx = a.cx + 1 AND b.cy = a.cy)
    OR (b.cx = a.cx - 1 AND b.cy = a.cy)
    OR (b.cy = a.cy + 1 AND b.cx = a.cx)
    OR (b.cy = a.cy - 1 AND b.cx = a.cx)
  GROUP BY a.cx, a.cy, a.z
),
scored AS MATERIALIZED (
  SELECT cx, cy, z, zlag, n_nbr, z::HUGEINT * zlag AS ii FROM nbr
),
gnum AS (SELECT sum(ii) AS global_num FROM scored)
SELECT CAST(row_number() OVER (ORDER BY abs(ii) DESC, cx, cy) AS BIGINT)
         AS rank,
       CAST(cx AS BIGINT) AS cell_x,
       CAST(cy AS BIGINT) AS cell_y,
       CAST(n_nbr AS BIGINT) AS n_neighbors,
       CAST(ii // 1000000000 AS BIGINT) AS i_local_g,
       CASE WHEN z > 0 AND zlag > 0 THEN 'high_high'
            WHEN z < 0 AND zlag < 0 THEN 'low_low'
            WHEN z > 0 THEN 'high_low_outlier'
            ELSE 'low_high_outlier' END AS quadrant,
       CAST(global_num // 1000000000 AS BIGINT) AS global_numerator_g
FROM scored CROSS JOIN gnum
QUALIFY rank <= {_LISA_TOPK}
ORDER BY rank
"""
