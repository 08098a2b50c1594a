"""Query catalog: every entry has (a) a Spark implementation through the
engine's operators and (b) an ANSI-SQL oracle string DuckDB can run on the
same parquet tables — the driver's correctness gate (CORRECTNESS_r{N}.json)
runs both and compares row-count + schema + order-insensitive value hash.

Parity rules used throughout (why these queries hash-match bit-for-bit):
 - all synthetic geometry is derived with INTEGER arithmetic from table
   keys (shared SQL text runs in BOTH engines), cast to double only at
   the end; integer-valued doubles compare exactly;
 - zones live on a +0.25 lattice, points on +0.5, images on integers —
   no predicate can ever hit a boundary tie between engines;
 - float aggregates are ROUND()ed; integer sums are CAST(BIGINT) (DuckDB
   widens SUM(int) to HUGEINT otherwise);
 - ANN cosine ranks on the rounded score with id tie-breaks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

# Shared primitives live in qcommon (re-exported here for callers/tests)
# so queries ⇄ queries_ext never forms an import cycle — a cycle is
# load-order-dependent and crashes Python workers that unpickle a
# queries_ext closure first.
from rsgislib_spark.qcommon import (  # noqa: F401
    CELL,
    widen,
    GEO_IMAGES_SQL,
    GEO_POINTS_SQL,
    GEO_ZONES_SQL,
    GRID_DIM,
    TABLES,
    _cte,
    _geo_images,
    _geo_points,
    _geo_zones,
    _zones_with_wkb,
    load_views,
)


# --------------------------------------------------------------------------
# Relational family
# --------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    o = spark.table("orders")
    win = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rk")
    )


ORACLE_Q02 = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) t WHERE rk <= 3
"""


def q03_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    bin_ = F.floor(F.col("l_extendedprice") / 5000.0).cast("long")
    return (
        li.groupBy(bin_.alias("bin")).agg(F.count("*").alias("cnt"))
        .orderBy("bin")
    )


ORACLE_Q03 = """
SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bin, COUNT(*) AS cnt
FROM lineitem GROUP BY 1
"""


def q04_event_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value→value LUT recode — reference recode_int_raster
    (imagecalc/__init__.py:1172-1232) as a CASE map over event types."""
    load_views(spark, sf_dir)
    ev = spark.table("events")
    code = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    return (
        ev.withColumn("code", code)
        .groupBy("code")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("code")
    )


ORACLE_Q04 = """
SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
            WHEN 'purchase' THEN 3 ELSE 0 END AS code,
       COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def q05_quantity_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (ties → smallest value) + exact interpolated median per
    group — the zonal mode/median aggregate family (rastergis
    populate_rat_with_mode / percentiles) on a relational table."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    win = W.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_quantity"))
    mode = (
        counts.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.count("*").alias("n"),
    )
    return mode.join(med, "l_returnflag").select(
        "l_returnflag", "mode_qty", F.round("median_qty", 6).alias("median_qty"), "n"
    )


ORACLE_Q05 = """
WITH counts AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS c FROM lineitem GROUP BY 1, 2
), mode_t AS (
  SELECT l_returnflag, l_quantity AS mode_qty FROM (
    SELECT l_returnflag, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY c DESC, l_quantity ASC) AS rn
    FROM counts
  ) WHERE rn = 1
), med_t AS (
  SELECT l_returnflag, ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT m.l_returnflag, m.mode_qty, d.median_qty, d.n
FROM mode_t m JOIN med_t d ON m.l_returnflag = d.l_returnflag
"""


def q06_mktseg_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category proportions per nation — reference
    populate_rat_with_cat_proportions (rastergis.cpp:1792-1806)."""
    load_views(spark, sf_dir)
    c = spark.table("customer")
    n = spark.table("nation")
    per = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )
    # window over the grouped result instead of a self-join with the
    # per-nation totals: one shuffle (the groupBy) feeds both — the
    # nation partitioning is reused by the window, no extra exchange
    tot = F.sum("cnt").over(W.partitionBy("n_name"))
    return per.select(
        "n_name", "c_mktsegment", "cnt",
        F.round(F.col("cnt") / tot, 6).alias("prop"),
    )


ORACLE_Q06 = """
WITH per AS (
  SELECT n_name, c_mktsegment, COUNT(*) AS cnt
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), tot AS (
  SELECT n_name, CAST(SUM(cnt) AS BIGINT) AS tot FROM per GROUP BY 1
)
SELECT per.n_name, c_mktsegment, cnt, ROUND(CAST(cnt AS DOUBLE) / tot, 6) AS prop
FROM per JOIN tot ON per.n_name = tot.n_name
"""


def q07_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    ev = spark.table("events").filter(F.col("user_id") < 40)
    win = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    return ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(win), 6).alias("running_value"),
    )


ORACLE_Q07 = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
FROM events WHERE user_id < 40
"""


def q08_distinct_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    return (
        spark.table("lineitem")
        .select("l_partkey", "l_suppkey")
        .dropDuplicates()
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_parts"))
    )


ORACLE_Q08 = """
SELECT l_suppkey, COUNT(*) AS n_parts
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) t
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Spatial family
# --------------------------------------------------------------------------

def q10_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint→cell assignment via the engine's vectorized cell kernel
    (linear SQL-parity key; the Morton variant is engine-internal)."""
    load_views(spark, sf_dir)
    gi = _geo_images(spark)

    @F.pandas_udf("long")
    def _lin(x: pd.Series, y: pd.Series) -> pd.Series:
        from rsgislib_spark.kernels.cells import linear_cell

        return pd.Series(linear_cell(x.to_numpy(), y.to_numpy(), float(CELL), GRID_DIM))

    return (
        gi.withColumn("cell", _lin(F.col("minx"), F.col("miny")))
        .groupBy("cell")
        .agg(F.count("*").alias("n_images"))
    )


ORACLE_Q10 = _cte(f"""
SELECT CAST(FLOOR(minx / {CELL}) AS BIGINT) * {GRID_DIM}
       + CAST(FLOOR(miny / {CELL}) AS BIGINT) AS cell,
       COUNT(*) AS n_images
FROM geo_images GROUP BY 1
""")


def _spatial_join_q(spark: SparkSession, sf_dir: str, join_op: str) -> DataFrame:
    from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark)).withColumnRenamed("image_key", "image_id")
    zones = spark.createDataFrame(_zones_with_wkb(spark))
    out = spatial_join_broadcast(
        gi, zones, join_op=join_op, join_how="inner", id_col="image_id"
    )
    return out.select(F.col("image_id").alias("image_key"), "zone_id")


def q11_spatial_join_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spatial_join_q(spark, sf_dir, "intersects")


ORACLE_Q11 = _cte("""
SELECT i.image_key, z.zone_id
FROM geo_images i JOIN geo_zones z
ON i.minx <= z.maxx AND i.maxx >= z.minx AND i.miny <= z.maxy AND i.maxy >= z.miny
""")


def q12_spatial_join_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spatial_join_q(spark, sf_dir, "within")


ORACLE_Q12 = _cte("""
SELECT i.image_key, z.zone_id
FROM geo_images i JOIN geo_zones z
ON z.minx <= i.minx AND i.maxx <= z.maxx AND z.miny <= i.miny AND i.maxy <= z.maxy
""")


def q13_spatial_join_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spatial_join_q(spark, sf_dir, "contains")


ORACLE_Q13 = _cte("""
SELECT i.image_key, z.zone_id
FROM geo_images i JOIN geo_zones z
ON i.minx <= z.minx AND z.maxx <= i.maxx AND i.miny <= z.miny AND z.maxy <= i.maxy
""")


def q14_zonal_point_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal attribution of points: broadcast STRtree candidate lookup +
    point-in-polygon refine, then groupBy-zone aggregation."""
    from rsgislib_spark.operators.spatial_join import ZoneIndex

    load_views(spark, sf_dir)
    pts = widen(_geo_points(spark))
    zones_pdf = _zones_with_wkb(spark)
    zb = spark.sparkContext.broadcast(ZoneIndex.from_pandas(zones_pdf))

    def _match(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zx = zb.value
        for pdf in it:
            if not len(pdf):
                continue
            pts_r = pdf[["x", "y", "x", "y"]].to_numpy(np.float64)
            qi, zi = zx.match(pts_r, "intersects")
            yield pd.DataFrame({
                "zone_id": zx.zone_ids[zi],
                "v": pdf["v"].to_numpy()[qi],
            })

    pairs = pts.mapInPandas(_match, schema="zone_id long, v double")
    return pairs.groupBy("zone_id").agg(
        F.count("*").alias("n_pts"),
        F.round(F.sum("v"), 2).alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.round(F.avg("v"), 6).alias("avg_v"),
    )


ORACLE_Q14 = _cte("""
SELECT z.zone_id, COUNT(*) AS n_pts, ROUND(SUM(p.v), 2) AS sum_v,
       MIN(p.v) AS min_v, MAX(p.v) AS max_v, ROUND(AVG(p.v), 6) AS avg_v
FROM geo_points p JOIN geo_zones z
ON p.x >= z.minx AND p.x <= z.maxx AND p.y >= z.miny AND p.y <= z.maxy
GROUP BY z.zone_id
""")


def q15_point_in_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point→pixel index inside every covering image (broadcast range join
    + floor arithmetic — pure Catalyst; bbox predicate prunes)."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    gi = _geo_images(spark)
    j = pts.join(
        F.broadcast(gi),
        (F.col("x") >= F.col("minx")) & (F.col("x") <= F.col("maxx"))
        & (F.col("y") >= F.col("miny")) & (F.col("y") <= F.col("maxy")),
    )
    return j.select(
        "pt_id", "image_key",
        F.floor((F.col("x") - F.col("minx")) / 10.0).cast("long").alias("px"),
        F.floor((F.col("maxy") - F.col("y")) / 10.0).cast("long").alias("py"),
    )


ORACLE_Q15 = _cte("""
SELECT p.pt_id, i.image_key,
       CAST(FLOOR((p.x - i.minx) / 10.0) AS BIGINT) AS px,
       CAST(FLOOR((i.maxy - p.y) / 10.0) AS BIGINT) AS py
FROM geo_points p JOIN geo_images i
ON p.x >= i.minx AND p.x <= i.maxx AND p.y >= i.miny AND p.y <= i.maxy
""")


def q16_knn_zone_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=1 closest-zone-centre join (match_closest_vec_pts semantics,
    deterministic tie-break by zone_id) — exact integer-lattice dist²."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    zc = _geo_zones(spark).select(
        "zone_id",
        ((F.col("minx") + F.col("maxx")) / 2.0).alias("cx"),
        ((F.col("miny") + F.col("maxy")) / 2.0).alias("cy"),
    )
    j = pts.crossJoin(F.broadcast(zc)).withColumn(
        "dist2",
        (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
        + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")),
    )
    # argmin via struct-min aggregation: partial (map-side) combine instead
    # of a row_number window — no 15M-row shuffle, only |points| rows move.
    best = F.min(F.struct("dist2", "zone_id")).alias("best")
    return (
        j.groupBy("pt_id")
        .agg(best)
        .select("pt_id", F.col("best.zone_id").alias("zone_id"), F.col("best.dist2").alias("dist2"))
    )


ORACLE_Q16 = _cte("""
SELECT pt_id, zone_id, dist2 FROM (
  SELECT p.pt_id, z.zone_id,
         (p.x - (z.minx + z.maxx) / 2.0) * (p.x - (z.minx + z.maxx) / 2.0)
         + (p.y - (z.miny + z.maxy) / 2.0) * (p.y - (z.miny + z.maxy) / 2.0) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
           (p.x - (z.minx + z.maxx) / 2.0) * (p.x - (z.minx + z.maxx) / 2.0)
           + (p.y - (z.miny + z.maxy) / 2.0) * (p.y - (z.miny + z.maxy) / 2.0) ASC,
           z.zone_id ASC) AS rn
  FROM geo_points p CROSS JOIN geo_zones z
) t WHERE rn = 1
""")


def q17_knn_feature_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply_rat_knn shape: k=3 euclidean (integer dist², exact), mean
    summary, train/apply split from is_train."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    train = pts.filter("is_train = 1").select(
        F.col("pt_id").alias("train_id"),
        F.col("f1").alias("t1"), F.col("f2").alias("t2"), F.col("f3").alias("t3"),
        F.col("v").alias("tv"),
    )
    ap = pts.filter("is_train = 0").select("pt_id", "f1", "f2", "f3")
    j = ap.crossJoin(F.broadcast(train)).withColumn(
        "dist2",
        (F.col("f1") - F.col("t1")) * (F.col("f1") - F.col("t1"))
        + (F.col("f2") - F.col("t2")) * (F.col("f2") - F.col("t2"))
        + (F.col("f3") - F.col("t3")) * (F.col("f3") - F.col("t3")),
    )
    win = W.partitionBy("pt_id").orderBy(F.asc("dist2"), F.asc("train_id"))
    return (
        j.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .groupBy("pt_id")
        .agg(F.round(F.avg("tv"), 6).alias("knn_mean_v"), F.count("*").alias("kk"))
    )


ORACLE_Q17 = _cte("""
, train AS (SELECT pt_id AS train_id, f1 t1, f2 t2, f3 t3, v tv FROM geo_points WHERE is_train = 1),
ap AS (SELECT pt_id, f1, f2, f3 FROM geo_points WHERE is_train = 0),
j AS (
  SELECT ap.pt_id, train.train_id, train.tv,
         (f1-t1)*(f1-t1) + (f2-t2)*(f2-t2) + (f3-t3)*(f3-t3) AS dist2
  FROM ap CROSS JOIN train
), r AS (
  SELECT pt_id, tv, ROW_NUMBER() OVER (PARTITION BY pt_id ORDER BY dist2 ASC, train_id ASC) AS rn
  FROM j
)
SELECT pt_id, ROUND(AVG(tv), 6) AS knn_mean_v, COUNT(*) AS kk
FROM r WHERE rn <= 3 GROUP BY pt_id
""")


def q18_radius_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calc_npts_in_radius: count of other points within r, on the
    CELL-BUCKETED ring-1 equi-join (each point explodes to its 3×3 cell
    keys; cell ≥ r ⇒ ring-1 covers the disk, exact refine inside) —
    candidates only, no O(N²) theta-join, no broadcast of the point
    table."""
    from rsgislib_spark.operators.knn import radius_count_bucketed

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select("pt_id", "x", "y")
    return radius_count_bucketed(pts, radius=5000.0)


ORACLE_Q18 = _cte("""
SELECT p.pt_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_in_radius
FROM geo_points p LEFT JOIN (
  SELECT a.pt_id, COUNT(*) AS n
  FROM geo_points a JOIN geo_points b
  ON a.pt_id <> b.pt_id
  AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25000000.0
  GROUP BY a.pt_id
) c ON p.pt_id = c.pt_id
""")


TILE = 96


def q19_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-window UDTF: reference full+remainder semantics via the engine
    tiler kernel (mapInPandas 1→N)."""
    from rsgislib_spark.kernels import pixelmath

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).select("image_key", "w", "h"))
    schema = "image_key long, tile_x int, tile_y int, x0 int, y0 int, tw int, th int"

    def _tiles(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # few distinct (w, h) shapes → compute each shape's windows ONCE,
        # np.tile/np.repeat across all images of that shape, ONE pandas
        # DataFrame per Arrow batch (per-image DataFrame construction was
        # the dominant cost of this UDTF)
        cache: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            ws = pdf["w"].to_numpy(np.int64)
            hs = pdf["h"].to_numpy(np.int64)
            keys = pdf["image_key"].to_numpy(np.int64)
            shape_key = ws * np.int64(1 << 32) + hs
            blocks_k, blocks_w = [], []
            for sk in np.unique(shape_key):
                w, h = int(sk >> 32), int(sk & 0xFFFFFFFF)
                wins = cache.get((w, h))
                if wins is None:
                    wins = cache.setdefault(
                        (w, h), pixelmath.tile_windows_simple(w, h, TILE, TILE)
                    )
                kk = keys[shape_key == sk]
                blocks_k.append(np.repeat(kk, wins.shape[0]))
                blocks_w.append(np.tile(wins, (len(kk), 1)))
            K = np.concatenate(blocks_k)
            Wn = np.concatenate(blocks_w, axis=0)
            yield pd.DataFrame({
                "image_key": K,
                "tile_x": Wn[:, 0].astype(np.int32),
                "tile_y": Wn[:, 1].astype(np.int32),
                "x0": Wn[:, 2].astype(np.int32),
                "y0": Wn[:, 3].astype(np.int32),
                "tw": Wn[:, 4].astype(np.int32),
                "th": Wn[:, 5].astype(np.int32),
            })

    return gi.mapInPandas(_tiles, schema=schema)


ORACLE_Q19 = _cte(f"""
SELECT image_key,
       CAST(gx.ix + 1 AS INT) AS tile_x, CAST(gy.iy + 1 AS INT) AS tile_y,
       CAST(gx.ix * {TILE} AS INT) AS x0, CAST(gy.iy * {TILE} AS INT) AS y0,
       CAST(CASE WHEN (gx.ix + 1) * {TILE} <= w THEN {TILE} ELSE w - gx.ix * {TILE} END AS INT) AS tw,
       CAST(CASE WHEN (gy.iy + 1) * {TILE} <= h THEN {TILE} ELSE h - gy.iy * {TILE} END AS INT) AS th
FROM geo_images,
LATERAL (SELECT unnest(generate_series(0, CAST((w + {TILE} - 1) // {TILE} AS INT) - 1)) AS ix) gx,
LATERAL (SELECT unnest(generate_series(0, CAST((h + {TILE} - 1) // {TILE} AS INT) - 1)) AS iy) gy
""")


def q20_tile_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiles → grid cell of the tile centre; count per cell (the tile→cell
    assignment stage of the north-star pipeline, payload-free variant).

    Fused: the tiler UDTF computes the cell id in-kernel and emits
    PER-CELL PARTIAL COUNTS per Arrow batch (aggregation pushdown — the
    shuffle carries |distinct cells per batch| rows instead of every
    tile row + a join back to the image table). All cell arithmetic is
    dyadic-exact (tile centres are multiples of 5), so the fused path
    is bit-identical to the compose-then-join formulation the oracle
    replays."""
    from rsgislib_spark.kernels import pixelmath

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).select("image_key", "w", "h", "minx", "maxy"))

    def _cells(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            ws = pdf["w"].to_numpy(np.int64)
            hs = pdf["h"].to_numpy(np.int64)
            minx = pdf["minx"].to_numpy(np.float64)
            maxy = pdf["maxy"].to_numpy(np.float64)
            shape_key = ws * np.int64(1 << 32) + hs
            cells_parts = []
            for sk in np.unique(shape_key):
                w, h = int(sk >> 32), int(sk & 0xFFFFFFFF)
                wins = cache.get((w, h))
                if wins is None:
                    wins = cache.setdefault(
                        (w, h), pixelmath.tile_windows_simple(w, h, TILE, TILE)
                    )
                sel = shape_key == sk
                # tile-centre offsets for this shape, once
                ox = (wins[:, 2] + wins[:, 4] / 2.0) * 10.0
                oy = (wins[:, 3] + wins[:, 5] / 2.0) * 10.0
                cx = minx[sel][:, None] + ox[None, :]
                cy = maxy[sel][:, None] - oy[None, :]
                cell = (
                    np.floor(cx / CELL).astype(np.int64) * GRID_DIM
                    + np.floor(cy / CELL).astype(np.int64)
                )
                cells_parts.append(cell.ravel())
            allc = np.concatenate(cells_parts)
            uniq, cnt = np.unique(allc, return_counts=True)
            yield pd.DataFrame({"cell": uniq, "n": cnt})

    partial = gi.mapInPandas(_cells, schema="cell long, n long")
    return partial.groupBy("cell").agg(F.sum("n").alias("n_tiles"))


ORACLE_Q20 = _cte(f"""
, tiles AS (
  SELECT image_key, gx.ix * {TILE} AS x0, gy.iy * {TILE} AS y0,
         CASE WHEN (gx.ix + 1) * {TILE} <= w THEN {TILE} ELSE w - gx.ix * {TILE} END AS tw,
         CASE WHEN (gy.iy + 1) * {TILE} <= h THEN {TILE} ELSE h - gy.iy * {TILE} END AS th,
         minx, miny, maxy
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, CAST((w + {TILE} - 1) // {TILE} AS INT) - 1)) AS ix) gx,
  LATERAL (SELECT unnest(generate_series(0, CAST((h + {TILE} - 1) // {TILE} AS INT) - 1)) AS iy) gy
)
SELECT CAST(FLOOR((minx + (x0 + tw / 2.0) * 10.0) / {CELL}) AS BIGINT) * {GRID_DIM}
       + CAST(FLOOR((maxy - (y0 + th / 2.0) * 10.0) / {CELL}) AS BIGINT) AS cell,
       COUNT(*) AS n_tiles
FROM tiles GROUP BY 1
""")


def q21_mosaic_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic conflict resolution — create_img_mosaic overlap_behaviour
    (imageutils.cpp:2095-2191): per cell pick first by (priority, id),
    report min/max candidates too."""
    load_views(spark, sf_dir)
    gi = _geo_images(spark)
    cell = (
        F.floor(F.col("minx") / CELL).cast("long") * F.lit(GRID_DIM)
        + F.floor(F.col("miny") / CELL).cast("long")
    )
    pri = (F.col("image_key") % 7).alias("priority")
    d = gi.select("image_key", cell.alias("cell"), pri)
    win = W.partitionBy("cell").orderBy(F.asc("priority"), F.asc("image_key"))
    first = (
        d.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("cell", F.col("image_key").alias("first_image"))
    )
    agg = d.groupBy("cell").agg(
        F.count("*").alias("n_images"),
        F.min("image_key").alias("min_image"),
        F.max("image_key").alias("max_image"),
    )
    return first.join(agg, "cell")


ORACLE_Q21 = _cte(f"""
, d AS (
  SELECT image_key,
         CAST(FLOOR(minx / {CELL}) AS BIGINT) * {GRID_DIM}
         + CAST(FLOOR(miny / {CELL}) AS BIGINT) AS cell,
         image_key % 7 AS priority
  FROM geo_images
), first_t AS (
  SELECT cell, image_key AS first_image FROM (
    SELECT cell, image_key,
           ROW_NUMBER() OVER (PARTITION BY cell ORDER BY priority ASC, image_key ASC) AS rn
    FROM d
  ) WHERE rn = 1
), agg_t AS (
  SELECT cell, COUNT(*) AS n_images, MIN(image_key) AS min_image, MAX(image_key) AS max_image
  FROM d GROUP BY cell
)
SELECT f.cell, f.first_image, a.n_images, a.min_image, a.max_image
FROM first_t f JOIN agg_t a ON f.cell = a.cell
""")


def q22_lut_bbox_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprint-LUT bbox query (imagelut.query_img_lut): range predicate
    → Catalyst pushes it to the scan; partition pruning at scale."""
    load_views(spark, sf_dir)
    gi = _geo_images(spark)
    return gi.filter(
        (F.col("minx") <= 60000.0) & (F.col("maxx") >= 20000.0)
        & (F.col("miny") <= 60000.0) & (F.col("maxy") >= 20000.0)
    ).select("image_key", "minx", "miny", "maxx", "maxy")


ORACLE_Q22 = _cte("""
SELECT image_key, minx, miny, maxx, maxy FROM geo_images
WHERE minx <= 60000.0 AND maxx >= 20000.0 AND miny <= 60000.0 AND maxy >= 20000.0
""")


# --------------------------------------------------------------------------
# Text / dedup family (documents)
# --------------------------------------------------------------------------

def q30_source_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.dedup import exact_dup_groups

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    total = exact_dup_groups(docs).agg(F.count("*").alias("n_hash_groups_total"))
    per_source = (
        docs.select("source", F.md5("text").alias("text_hash"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text_hash").alias("n_distinct"),
        )
    )
    return per_source.crossJoin(F.broadcast(total))


ORACLE_Q30 = """
WITH g AS (SELECT COUNT(DISTINCT md5(text)) AS n_hash_groups_total FROM documents)
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct,
       (SELECT n_hash_groups_total FROM g) AS n_hash_groups_total
FROM documents GROUP BY source
"""


def q31_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.textops import token_count

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    return (
        docs.withColumn("n_tokens", token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


ORACLE_Q31 = """
WITH t AS (
  SELECT lang, len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_tokens), 6) AS avg_tokens, CAST(MAX(n_tokens) AS INT) AS max_tokens
FROM t GROUP BY lang
"""


def q32_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.textops import quality_score_cols

    load_views(spark, sf_dir)
    docs = quality_score_cols(spark.table("documents"))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("mean_tok_len"), 6).alias("avg_tok_len"),
        F.sum("stopword_cnt").alias("total_stopwords"),
    )


ORACLE_Q32 = r"""
WITH t AS (
  SELECT source,
         CASE WHEN length(text) > 0
              THEN ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text), 6)
              ELSE 0.0 END AS punct_ratio,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
         len(regexp_extract_all(lower(text), '\b(?:the|a|an|and|or|of|to|in|is|it)\b')) AS stop_cnt
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio,
       ROUND(AVG(CASE WHEN n_tok > 0 THEN ROUND(CAST(n_nonspace AS DOUBLE) / n_tok, 6) ELSE 0.0 END), 6) AS avg_tok_len,
       CAST(SUM(stop_cnt) AS BIGINT) AS total_stopwords
FROM t GROUP BY source
"""


def q33_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.textops import lang_id

    load_views(spark, sf_dir)
    docs = lang_id(spark.table("documents"))
    return docs.groupBy("lang", "pred_lang").agg(F.count("*").alias("cnt"))


ORACLE_Q33 = r"""
WITH h AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ist)\b')) AS hits_de,
         len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in)\b')) AS hits_en,
         len(regexp_extract_all(lower(text), '\b(?:el|la|de|que|y)\b')) AS hits_es
  FROM documents
)
SELECT lang,
       CASE
         WHEN hits_es > hits_en AND hits_es > hits_de AND hits_es > 0 THEN 'es'
         WHEN hits_en > hits_de AND hits_en > 0 THEN 'en'
         WHEN hits_de > 0 THEN 'de'
         ELSE 'und' END AS pred_lang,
       COUNT(*) AS cnt
FROM h GROUP BY 1, 2
"""


def q34_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.textops import fingerprint

    load_views(spark, sf_dir)
    docs = spark.table("documents").withColumn("fp", fingerprint(F.col("text")))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_fingerprints"),
    )


ORACLE_Q34 = r"""
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), '\s+', ' ', 'g')))) AS n_fingerprints
FROM documents GROUP BY source
"""


def q35_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (md5-based hashes — oracle-identical)."""
    from rsgislib_spark.functions.dedup import minhash_band_pairs

    load_views(spark, sf_dir)
    pairs = minhash_band_pairs(spark.table("documents"))
    return pairs.groupBy().agg(F.count("*").alias("n_candidate_pairs")).crossJoin(
        pairs.groupBy("id_a").agg(F.count("*").alias("c")).agg(
            F.count("*").alias("n_docs_with_candidates")
        )
    )


ORACLE_Q35 = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
), sig AS (
  SELECT doc_id,
         MIN(md5(token || '#seed0')) AS mh_0, MIN(md5(token || '#seed1')) AS mh_1,
         MIN(md5(token || '#seed2')) AS mh_2, MIN(md5(token || '#seed3')) AS mh_3
  FROM toks GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, mh_0 || mh_1 AS sig FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, mh_2 || mh_3 AS sig FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT (SELECT COUNT(*) FROM pairs) AS n_candidate_pairs,
       (SELECT COUNT(DISTINCT id_a) FROM pairs) AS n_docs_with_candidates
"""


def q36_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.dedup import ngram_jaccard_pairs

    load_views(spark, sf_dir)
    pairs = ngram_jaccard_pairs(spark.table("documents"), threshold=0.8)
    return pairs.groupBy().agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
    )


ORACLE_Q36 = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), j AS (
  SELECT id_a, id_b,
         ROUND(CAST(inter AS DOUBLE) / (sa.n_tok + sb.n_tok - inter), 6) AS jaccard
  FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
             JOIN sizes sb ON inter.id_b = sb.doc_id
)
SELECT COUNT(*) AS n_pairs, ROUND(AVG(jaccard), 6) AS avg_jaccard
FROM j WHERE jaccard >= 0.8
"""


def q37_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (rows-only check: bit-level UDF not ANSI-SQL)."""
    from rsgislib_spark.functions.dedup import simhash64

    load_views(spark, sf_dir)
    sh = simhash64(spark.table("documents"))
    return sh.orderBy("doc_id")


# --------------------------------------------------------------------------
# Similarity family (embeddings)
# --------------------------------------------------------------------------

def q40_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsgislib_spark.functions.similarity import cosine_topk_bruteforce

    load_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter("vec_id < 3")
    return cosine_topk_bruteforce(emb, queries, k=5)


ORACLE_Q40 = """
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS nbr_id,
         ROUND(list_cosine_similarity(CAST(q.q_vec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
), r AS (
  SELECT query_id, nbr_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, nbr_id, cos, rank FROM r WHERE rank <= 5
"""


def q41_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (oracle in queries_ext)."""
    from rsgislib_spark.functions.similarity import lsh_bucketed_topk

    load_views(spark, sf_dir)
    emb = spark.table("embeddings")
    refs_pdf = emb.filter("vec_id < 3").orderBy("vec_id").toPandas()
    refs = [list(v) for v in refs_pdf["embedding"]]
    queries = emb.filter("vec_id >= 3 AND vec_id < 8")
    return lsh_bucketed_topk(emb, queries, refs, k=5)


def q42_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (oracle in queries_ext)."""
    from rsgislib_spark.functions.similarity import ivf_topk

    load_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter("vec_id >= 3 AND vec_id < 8")
    return ivf_topk(emb, queries, n_centroids=8, nprobe=2, k=5)


# --------------------------------------------------------------------------
# Events / time-window family
# --------------------------------------------------------------------------

def q50_event_hour_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (the Structured Streaming operator shape,
    run in batch; streaming.availableNow uses the identical plan)."""
    load_views(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


ORACLE_Q50 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_top_orders_per_cust": q02_top_orders_per_cust,
    "q03_price_histogram": q03_price_histogram,
    "q04_event_recode": q04_event_recode,
    "q05_quantity_mode_median": q05_quantity_mode_median,
    "q06_mktseg_proportions": q06_mktseg_proportions,
    "q07_running_user_value": q07_running_user_value,
    "q08_distinct_partsupp": q08_distinct_partsupp,
    "q10_cell_assign": q10_cell_assign,
    "q11_spatial_join_intersects": q11_spatial_join_intersects,
    "q12_spatial_join_within": q12_spatial_join_within,
    "q13_spatial_join_contains": q13_spatial_join_contains,
    "q14_zonal_point_stats": q14_zonal_point_stats,
    "q15_point_in_pixel": q15_point_in_pixel,
    "q16_knn_zone_centers": q16_knn_zone_centers,
    "q17_knn_feature_k3": q17_knn_feature_k3,
    "q18_radius_count": q18_radius_count,
    "q19_tile_grid": q19_tile_grid,
    "q20_tile_cells": q20_tile_cells,
    "q21_mosaic_first": q21_mosaic_first,
    "q22_lut_bbox_query": q22_lut_bbox_query,
    "q30_source_dedup_stats": q30_source_dedup_stats,
    "q31_token_stats": q31_token_stats,
    "q32_text_quality": q32_text_quality,
    "q33_lang_id": q33_lang_id,
    "q34_fingerprint_dups": q34_fingerprint_dups,
    "q35_minhash_bands": q35_minhash_bands,
    "q36_ngram_jaccard": q36_ngram_jaccard,
    "q37_simhash": q37_simhash,
    "q40_ann_cosine_topk": q40_ann_cosine_topk,
    "q41_ann_lsh": q41_ann_lsh,
    "q42_ann_ivf": q42_ann_ivf,
    "q50_event_hour_windows": q50_event_hour_windows,
}

ORACLES = {
    "q01_pricing_summary": ORACLE_Q01,
    "q02_top_orders_per_cust": ORACLE_Q02,
    "q03_price_histogram": ORACLE_Q03,
    "q04_event_recode": ORACLE_Q04,
    "q05_quantity_mode_median": ORACLE_Q05,
    "q06_mktseg_proportions": ORACLE_Q06,
    "q07_running_user_value": ORACLE_Q07,
    "q08_distinct_partsupp": ORACLE_Q08,
    "q10_cell_assign": ORACLE_Q10,
    "q11_spatial_join_intersects": ORACLE_Q11,
    "q12_spatial_join_within": ORACLE_Q12,
    "q13_spatial_join_contains": ORACLE_Q13,
    "q14_zonal_point_stats": ORACLE_Q14,
    "q15_point_in_pixel": ORACLE_Q15,
    "q16_knn_zone_centers": ORACLE_Q16,
    "q17_knn_feature_k3": ORACLE_Q17,
    "q18_radius_count": ORACLE_Q18,
    "q19_tile_grid": ORACLE_Q19,
    "q20_tile_cells": ORACLE_Q20,
    "q21_mosaic_first": ORACLE_Q21,
    "q22_lut_bbox_query": ORACLE_Q22,
    "q30_source_dedup_stats": ORACLE_Q30,
    "q31_token_stats": ORACLE_Q31,
    "q32_text_quality": ORACLE_Q32,
    "q33_lang_id": ORACLE_Q33,
    "q34_fingerprint_dups": ORACLE_Q34,
    "q35_minhash_bands": ORACLE_Q35,
    "q36_ngram_jaccard": ORACLE_Q36,
    "q40_ann_cosine_topk": ORACLE_Q40,
    "q50_event_hour_windows": ORACLE_Q50,
    # q37_simhash: rows-only (bit-level op); q41/q42 oracles live in queries_ext
}

# Extension catalog (second coverage pass) — import at the bottom so
# queries_ext can use the shared derivation helpers defined above.
from rsgislib_spark.queries_ext import ORACLES_EXT, QUERIES_EXT  # noqa: E402

QUERIES.update(QUERIES_EXT)
ORACLES.update(ORACLES_EXT)
