"""Extension query catalog — second coverage pass over SURVEY.md §2.

Same contract as rsgislib_spark.queries: every entry has a Spark
implementation through engine operators/kernels plus an ANSI-SQL DuckDB
oracle (or is explicitly rows-only for non-SQL-expressible ops).

Pixel-family parity trick: band values are *integer-lattice formulas* of
(image_key, px, py) (kernels.bands.RED_FORMULA / NIR_FORMULA). The Spark
side materializes real numpy rasters inside mapInPandas and reduces them
with the engine's vectorized kernels; the oracle recomputes the identical
formula relationally (LATERAL generate_series). All cross-engine
comparisons are integer sums or ratios-of-integer-sums, so they hash
bit-for-bit — no float accumulation-order hazards.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from rsgislib_spark.qcommon import (
    CELL,
    widen,
    GRID_DIM,
    _cte,
    _geo_images,
    _geo_points,
    _geo_zones,
    _zones_with_wkb,
    load_views,
)


def _round_half_away(x: float, digits: int) -> float:
    """DuckDB/Spark ROUND semantics: half away from zero (Python round()
    is banker's half-to-even, a cross-engine exactness hazard)."""
    s = 10.0 ** digits
    return float(np.copysign(np.floor(abs(x) * s + 0.5) / s, x))


# ---------------------------------------------------------------- sorts

def q09_sorted_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column sort + limit (sort_vec_lyr,
    vectorattrs/__init__.py:828-880; LIMIT free via Catalyst TakeOrdered —
    no global sort materialized)."""
    load_views(spark, sf_dir)
    return (
        spark.table("orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


ORACLE_Q09 = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


# ------------------------------------------------------------- pixel family

PX_SUBSET = 101  # image_key % PX_SUBSET = 0 → ~20 images at sf0.01

PIXELS_CTE = f"""
pixels AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS red,
         (image_key * 11 + gx.px * 5 + gy.py * 3) % 241 AS nir
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {PX_SUBSET} = 0
)
"""


def _px_images(spark: SparkSession) -> DataFrame:
    return widen(_geo_images(spark).filter(F.col("image_key") % PX_SUBSET == 0))


def q23_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global per-image band stats (get_img_band_stats /
    populate_rat_with_stats family) via the vectorized band kernel —
    whole-band numpy reduce per image inside mapInPandas."""
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                g = BK.synth_band_grid(int(rec.image_key), int(rec.w), int(rec.h), "red")
                s = BK.band_stats(g)
                rows.append((int(rec.image_key), s["n_px"], s["sum_v"], s["min_v"], s["max_v"]))
            yield pd.DataFrame(rows, columns=["image_key", "n_px", "sum_v", "min_v", "max_v"])

    out = gi.mapInPandas(
        _stats, schema="image_key long, n_px long, sum_v long, min_v long, max_v long"
    )
    return out.withColumn("avg_v", F.round(F.col("sum_v") / F.col("n_px"), 6))


ORACLE_Q23 = _cte(f""", {PIXELS_CTE}
SELECT image_key, COUNT(*) AS n_px, CAST(SUM(red) AS BIGINT) AS sum_v,
       CAST(MIN(red) AS BIGINT) AS min_v, CAST(MAX(red) AS BIGINT) AS max_v,
       ROUND(CAST(SUM(red) AS DOUBLE) / COUNT(*), 6) AS avg_v
FROM pixels GROUP BY image_key
""")


def q24_ndvi_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-index band math (calc_ndvi, calcindices.py:41-88) —
    two synthesized bands, ratio-of-integer-sums NDVI + greener-pixel
    count, per image. No per-row Python: full-raster numpy inside the UDF."""
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _ndvi(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                red = BK.synth_band_grid(k, w, h, "red")
                nir = BK.synth_band_grid(k, w, h, "nir")
                rows.append(
                    (
                        k,
                        int((nir - red).sum()),
                        int((nir + red).sum()),
                        int((nir > red).sum()),
                        int(red.size),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["image_key", "sum_diff", "sum_tot", "n_green", "n_px"]
            )

    out = gi.mapInPandas(
        _ndvi,
        schema="image_key long, sum_diff long, sum_tot long, n_green long, n_px long",
    )
    return out.withColumn(
        "bulk_ndvi", F.round(F.col("sum_diff") / F.col("sum_tot"), 6)
    )


ORACLE_Q24 = _cte(f""", {PIXELS_CTE}
SELECT image_key,
       CAST(SUM(nir - red) AS BIGINT) AS sum_diff,
       CAST(SUM(nir + red) AS BIGINT) AS sum_tot,
       CAST(COUNT(*) FILTER (nir > red) AS BIGINT) AS n_green,
       COUNT(*) AS n_px,
       ROUND(CAST(SUM(nir - red) AS DOUBLE) / SUM(nir + red), 6) AS bulk_ndvi
FROM pixels GROUP BY image_key
""")


FOCAL_SUBSET = 401  # ~5 images


def q25_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 focal mean (apply_mean_filter, imagefilter/__init__.py:37-980)
    via the halo-tile operator; integer-exact (sum, count) accumulators.
    Oracle = sum over all in-bounds (pixel, neighbour) pairs."""
    from rsgislib_spark.operators.focal import focal_stats_tiled

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0))
    out = focal_stats_tiled(gi, "sum_count", radius=1, tile=128)
    return out.withColumn(
        "mean_focal_mean", F.round(F.col("sum_focal_sum") / F.col("sum_focal_cnt"), 6)
    )


ORACLE_Q25 = _cte(f""",
px_small AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), offs AS (
  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
), nbr AS (
  SELECT p.image_key, p.w * p.h AS n_px,
         (p.image_key * 7 + (p.px + o.dx) * 13 + (p.py + o.dy) * 17) % 251 AS v
  FROM px_small p CROSS JOIN offs o
  WHERE p.px + o.dx >= 0 AND p.px + o.dx < p.w
    AND p.py + o.dy >= 0 AND p.py + o.dy < p.h
)
SELECT image_key, CAST(MIN(n_px) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_focal_sum,
       COUNT(*) AS sum_focal_cnt,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_focal_mean
FROM nbr GROUP BY image_key
""")


def q98_edge_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel/Prewitt gradient pairs + 4-neighbour Laplacian
    (apply_sobel_filter / apply_prewitt_filter,
    imagefilter/__init__.py:37-980) via the halo-tile operator, reduced
    to per-image integer |gradient| sums. Oracle replays the clamped
    (edge-padded) 3×3 stencils relationally: a 9-row offset table
    carries the sobel/prewitt/laplacian weights, neighbour coordinates
    clamp with LEAST/GREATEST, per-pixel gradients group-sum, then the
    image rollup takes ABS sums — all integer arithmetic."""
    from rsgislib_spark.operators.focal import edge_filters_tiled

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0))
    return edge_filters_tiled(gi, tile=128)


ORACLE_Q98 = _cte(f""",
px_small AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), offs AS (
  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
), nbr AS (
  SELECT p.image_key, p.px, p.py,
         (p.image_key * 7 + LEAST(GREATEST(p.px + o.dx, 0), p.w - 1) * 13
          + LEAST(GREATEST(p.py + o.dy, 0), p.h - 1) * 17) % 251 AS v,
         o.dx * (2 - ABS(o.dy)) AS wsx,
         o.dy * (2 - ABS(o.dx)) AS wsy,
         o.dx AS wpx, o.dy AS wpy,
         CASE ABS(o.dx) + ABS(o.dy) WHEN 0 THEN -4 WHEN 1 THEN 1 ELSE 0 END AS wl
  FROM px_small p CROSS JOIN offs o
), grads AS (
  SELECT image_key, px, py,
         SUM(v * wsx) AS gxs, SUM(v * wsy) AS gys,
         SUM(v * wpx) AS gxp, SUM(v * wpy) AS gyp,
         SUM(v * wl) AS lap
  FROM nbr GROUP BY image_key, px, py
)
SELECT image_key, COUNT(*) AS n_px,
       CAST(SUM(ABS(gxs)) AS BIGINT) AS sum_abs_gx_sobel,
       CAST(SUM(ABS(gys)) AS BIGINT) AS sum_abs_gy_sobel,
       CAST(SUM(ABS(gxp)) AS BIGINT) AS sum_abs_gx_prewitt,
       CAST(SUM(ABS(gyp)) AS BIGINT) AS sum_abs_gy_prewitt,
       CAST(SUM(ABS(lap)) AS BIGINT) AS sum_abs_laplacian
FROM grads GROUP BY image_key
""")


def q99_spatial_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join layer select (spatial_select,
    vectorutils/__init__.py:2565-2610): images whose footprint
    intersects ANY zone, image columns only, each image once. Plan: one
    zone fence, then one broadcast-STRtree pass over the bbox-filtered
    images that emits each matching row once."""
    from rsgislib_spark.operators.spatial_join import spatial_select

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark)).withColumnRenamed("image_key", "image_id")
    zones = spark.createDataFrame(_zones_with_wkb(spark))
    out = spatial_select(gi, zones, join_op="intersects", id_col="image_id")
    return out.select(
        F.col("image_id").alias("image_key"), "minx", "miny", "maxx", "maxy"
    )


ORACLE_Q99 = _cte("""
SELECT i.image_key, i.minx, i.miny, i.maxx, i.maxy
FROM geo_images i
WHERE EXISTS (
  SELECT 1 FROM geo_zones z
  WHERE i.minx <= z.maxx AND i.maxx >= z.minx
    AND i.miny <= z.maxy AND i.maxy >= z.miny
)
""")


def q100_stat_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining statistics-filter family — total, total-diff(+abs),
    mean-diff, window mode (apply_*_filter wrappers,
    imagefilter/__init__.py:37-980; impls RSGISStatsFilters.cpp) — via
    the halo-tile operator, as per-image integer aggregates. The oracle
    replays the clipped in-bounds 3×3 windows relationally: per-pixel
    window sums/counts, centre value from the lattice formula,
    |neighbour − centre| sums, and the per-pixel mode via a value-count
    ROW_NUMBER (count DESC, value ASC = the kernel's smallest-on-tie
    rule)."""
    from rsgislib_spark.operators.focal import stat_filters_tiled

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0))
    return stat_filters_tiled(gi, tile=128)


ORACLE_Q100 = _cte(f""",
px_small AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), offs AS (
  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
), nbr AS (
  SELECT p.image_key, p.px, p.py,
         (p.image_key * 7 + (p.px + o.dx) * 13 + (p.py + o.dy) * 17) % 251 AS v,
         (p.image_key * 7 + p.px * 13 + p.py * 17) % 251 AS c_v
  FROM px_small p CROSS JOIN offs o
  WHERE p.px + o.dx >= 0 AND p.px + o.dx < p.w
    AND p.py + o.dy >= 0 AND p.py + o.dy < p.h
), per_px AS (
  SELECT image_key, px, py,
         SUM(v) AS s, COUNT(*) AS cnt, MIN(c_v) AS c,
         SUM(ABS(v - c_v)) AS absd
  FROM nbr GROUP BY image_key, px, py
), vc AS (
  SELECT image_key, px, py, v, COUNT(*) AS vcnt
  FROM nbr GROUP BY image_key, px, py, v
), mode_px AS (
  SELECT image_key, px, py, v AS mode_v FROM (
    SELECT image_key, px, py, v,
           ROW_NUMBER() OVER (PARTITION BY image_key, px, py
                              ORDER BY vcnt DESC, v ASC) AS rn
    FROM vc
  ) WHERE rn = 1
)
SELECT p.image_key, COUNT(*) AS n_px,
       CAST(SUM(p.s) AS BIGINT) AS sum_total,
       CAST(SUM(ABS(p.s - p.cnt * p.c)) AS BIGINT) AS sum_abs_total_diff,
       CAST(SUM(p.absd) AS BIGINT) AS sum_abs_nbr_diff,
       CAST(SUM(p.cnt - 1) AS BIGINT) AS sum_nbrs,
       CAST(SUM(m.mode_v) AS BIGINT) AS sum_mode,
       ROUND(CAST(SUM(p.absd) AS DOUBLE) / SUM(p.cnt - 1), 6) AS mean_abs_diff_overall
FROM per_px p JOIN mode_px m
  ON p.image_key = m.image_key AND p.px = m.px AND p.py = m.py
GROUP BY p.image_key
""")


def q101_morph_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphology under an arbitrary structuring element + local-minima
    detection (image_erode/image_dilate with an operator file,
    imagemorphology/__init__.py create_circular_op →
    RSGISMatrices::makeCircularBinaryMatrix; local_pixel_minima →
    RSGISMorphologyFindLocalMinima): the 3×3 circular SE is the 5-cell
    cross, so the oracle replays MIN/MAX over the in-bounds cross
    offsets and counts centres not above their 4-neighbour minimum
    (allow-equals rule). Full image incl. clipped edges."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels import focal as FK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _mo(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        se = FK.circular_se(3)
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                g = BK.synth_band_grid(k, w, h, "red")
                er = FK.morph_erode_se(g, se)
                di = FK.morph_dilate_se(g, se)
                mn = FK.local_minima(g, se=se, allow_equals=True)
                rows.append(
                    (k, g.size, int(er.sum()), int(di.sum()), int(mn.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["image_key", "n_px", "sum_erode", "sum_dilate", "n_minima"],
            )

    return gi.mapInPandas(
        _mo,
        schema="image_key long, n_px long, sum_erode long, sum_dilate long, n_minima long",
    )


ORACLE_Q101 = _cte(f""",
px_small AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), offs AS (
  SELECT dx, dy FROM (VALUES (0,0),(-1,0),(1,0),(0,-1),(0,1)) o(dx, dy)
), nbr AS (
  SELECT p.image_key, p.px, p.py, o.dx, o.dy,
         (p.image_key * 7 + (p.px + o.dx) * 13 + (p.py + o.dy) * 17) % 251 AS v,
         (p.image_key * 7 + p.px * 13 + p.py * 17) % 251 AS c_v
  FROM px_small p CROSS JOIN offs o
  WHERE p.px + o.dx >= 0 AND p.px + o.dx < p.w
    AND p.py + o.dy >= 0 AND p.py + o.dy < p.h
), per_px AS (
  SELECT image_key, px, py,
         MIN(v) AS er, MAX(v) AS di, MIN(c_v) AS c,
         MIN(CASE WHEN dx = 0 AND dy = 0 THEN NULL ELSE v END) AS nmin
  FROM nbr GROUP BY image_key, px, py
)
SELECT image_key, COUNT(*) AS n_px,
       CAST(SUM(er) AS BIGINT) AS sum_erode,
       CAST(SUM(di) AS BIGINT) AS sum_dilate,
       CAST(SUM(CASE WHEN c <= nmin THEN 1 ELSE 0 END) AS BIGINT) AS n_minima
FROM per_px GROUP BY image_key
""")


def q102_eliminate_clumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stepwise small-clump elimination — the core of Shepherd et al.
    (2019) iterative-elimination segmentation (rm_small_clumps_stepwise,
    RSGISEliminateSmallClumps::stepwiseEliminateSmallClumps,
    src/segmentation/RSGISEliminateSmallClumps.cpp:284-560). Initial
    clumps are horizontal runs of the parity category (SQL-closed-form
    via window functions) so the oracle can replay all three rounds:
    start-of-round sizes/band-mean distances, strictly-larger-neighbour
    argmin with smallest-id tie-break, threshold fence, and order-free
    merge-chain resolution (3 unrolled pointer jumps — chain depth is
    bounded by the round's area because sizes strictly increase along a
    chain)."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.operators.segmentation import (
        eliminate_small_clumps,
        run_clumps_1d,
    )

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                v = BK.synth_band_grid(k, w, h, "red")
                lab0 = run_clumps_1d((v // 32) % 4)
                lab = eliminate_small_clumps(
                    lab0, v.astype(np.float64), min_size=3, dist_thres=40.0
                )
                pos = np.arange(v.size, dtype=np.int64)
                rows.append(
                    (
                        k,
                        int(np.unique(lab0).size),
                        int(np.unique(lab).size),
                        int((lab != lab0).sum()),
                        int(((lab.ravel() + 1) * (pos + 1)).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_key", "n_clumps0", "n_clumps_final",
                    "n_px_relabelled", "label_checksum",
                ],
            )

    return gi.mapInPandas(
        _run,
        schema="image_key long, n_clumps0 long, n_clumps_final long, "
        "n_px_relabelled long, label_checksum long",
    )


def _elim_round(k: int, area: int, min_size: int = 3, thres2: float = 1600.0) -> str:
    """One unrolled elimination round: a{k-1} -> a{k}."""
    prev = f"a{k - 1}"
    d2 = "(sa.s*1.0/sa.n - sb.s*1.0/sb.n)*(sa.s*1.0/sa.n - sb.s*1.0/sb.n)"
    return f"""
, sz{k} AS MATERIALIZED (SELECT image_key, lab, COUNT(*) AS n, SUM(v) AS s FROM {prev} GROUP BY 1, 2)
, e{k} AS MATERIALIZED (
  SELECT l.image_key, l.lab AS a, r.lab AS b
  FROM {prev} l JOIN {prev} r
    ON l.image_key = r.image_key AND r.py = l.py AND r.px = l.px + 1
  WHERE l.lab != r.lab
  UNION ALL
  SELECT l.image_key, l.lab, r.lab
  FROM {prev} l JOIN {prev} r
    ON l.image_key = r.image_key AND r.px = l.px AND r.py = l.py + 1
  WHERE l.lab != r.lab
)
, adj{k} AS (
  SELECT DISTINCT image_key, a, b FROM (
    SELECT image_key, a, b FROM e{k}
    UNION ALL SELECT image_key, b AS a, a AS b FROM e{k}
  )
)
, ch{k} AS (
  SELECT image_key, a, b FROM (
    SELECT e.image_key, e.a, e.b,
           ROW_NUMBER() OVER (PARTITION BY e.image_key, e.a
                              ORDER BY {d2} ASC, e.b ASC) AS rn
    FROM adj{k} e
    JOIN sz{k} sa ON sa.image_key = e.image_key AND sa.lab = e.a
    JOIN sz{k} sb ON sb.image_key = e.image_key AND sb.lab = e.b
    WHERE sa.n <= {area} AND sa.n < {min_size} AND sb.n > sa.n AND {d2} < {thres2}
  ) WHERE rn = 1
)
, p{k} AS (
  SELECT c0.image_key, c0.a, COALESCE(c3.b, c2.b, c1.b, c0.b) AS b
  FROM ch{k} c0
  LEFT JOIN ch{k} c1 ON c1.image_key = c0.image_key AND c1.a = c0.b
  LEFT JOIN ch{k} c2 ON c2.image_key = c1.image_key AND c2.a = c1.b
  LEFT JOIN ch{k} c3 ON c3.image_key = c2.image_key AND c3.a = c2.b
)
, a{k} AS MATERIALIZED (
  SELECT x.image_key, x.px, x.py, x.pos, x.v, COALESCE(p.b, x.lab) AS lab
  FROM {prev} x LEFT JOIN p{k} p ON p.image_key = x.image_key AND p.a = x.lab
)"""


ORACLE_Q102 = _cte(f""",
px AS MATERIALIZED (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS v,
         gy.py * w + gx.px AS pos
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), a0 AS MATERIALIZED (
  SELECT image_key, px, py, pos, v,
         MIN(pos) OVER (PARTITION BY image_key, py, grp) AS lab
  FROM (
    SELECT *, SUM(flag) OVER (PARTITION BY image_key, py ORDER BY px) AS grp
    FROM (
      SELECT *, CASE WHEN px = 0
                     OR ((v // 32) % 4) != (LAG((v // 32) % 4) OVER (PARTITION BY image_key, py ORDER BY px))
                     THEN 1 ELSE 0 END AS flag
      FROM px
    )
  )
){_elim_round(1, 1)}{_elim_round(2, 2)}{_elim_round(3, 3)}
SELECT f.image_key,
       COUNT(DISTINCT i.lab) AS n_clumps0,
       COUNT(DISTINCT f.lab) AS n_clumps_final,
       CAST(SUM(CASE WHEN f.lab != i.lab THEN 1 ELSE 0 END) AS BIGINT) AS n_px_relabelled,
       CAST(SUM((f.lab + 1) * (f.pos + 1)) AS BIGINT) AS label_checksum
FROM a3 f JOIN a0 i ON f.image_key = i.image_key AND f.pos = i.pos
GROUP BY f.image_key
""")


def q103_shepherd_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Shepherd pipeline per image (run_shepherd_segmentation,
    segmentation/shepherdseg.py:68-398): k-means → clump equal-labelled
    regions → stepwise eliminate → relabel. HASH-GATED since round 4:
    the oracle replays the whole pipeline relationally — the 1-D
    k-means collapses to the per-image VALUE HISTOGRAM (assignment is
    value-determined; centroid updates are exact integer-weighted
    means), connected components is a recursive-CTE min-index
    propagation (labels ARE min linear pixel indices, exactly
    label_components' convention), and the five elimination rounds
    unroll with the same argmin/tie-break/pointer-squaring arithmetic.
    All sums are integers, so every branch decision matches bit-for-bit."""
    from rsgislib_spark.operators.segmentation import shepherd_segment_images

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )
    return shepherd_segment_images(gi, num_clusters=6, min_size=5, dist_thres=1e9)


def _shepherd_oracle_sql(k: int = 6, max_iter: int = 20, min_size: int = 5) -> str:
    """Relational replay of shepherd_segment (see q103 docstring)."""
    from rsgislib_spark.qcommon import GEO_IMAGES_SQL

    # per-direction equi-joins (an OR-of-directions join degrades to a
    # nested loop); undirected right/down pairs + the UNION of reversals
    # reproduce the directed 4-adjacency set
    def _dir_pairs(src: str, sel: str, extra: str = "") -> str:
        right = (f"SELECT a.image_key, {sel} FROM {src} a JOIN {src} b "
                 f"ON b.image_key = a.image_key AND b.py = a.py "
                 f"AND b.px = a.px + 1{extra}")
        down = (f"SELECT a.image_key, {sel} FROM {src} a JOIN {src} b "
                f"ON b.image_key = a.image_key AND b.px = a.px "
                f"AND b.py = a.py + 1{extra}")
        rsel = sel.replace("a.", "@T@").replace("b.", "a.").replace("@T@", "b.")
        rright = right.replace(f"SELECT a.image_key, {sel} ", f"SELECT a.image_key, {rsel} ")
        rdown = down.replace(f"SELECT a.image_key, {sel} ", f"SELECT a.image_key, {rsel} ")
        return " UNION ALL ".join([right, down, rright, rdown])
    p = [f"""WITH RECURSIVE geo_images AS ({GEO_IMAGES_SQL}),
px0 AS MATERIALIZED (
  SELECT image_key, w, gy.py * w + gx.px AS idx, gx.px AS px, gy.py AS py,
         CAST((image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS DOUBLE) AS val
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
),
hist AS MATERIALIZED (SELECT image_key, val, COUNT(*) AS cnt FROM px0 GROUP BY 1, 2),
bounds AS MATERIALIZED (SELECT image_key, MIN(val) AS lo, MAX(val) AS hi FROM hist GROUP BY 1),
cent0 AS MATERIALIZED (
  SELECT b.image_key, ks.c, b.lo + ((ks.c + 0.5) / {k}) * (b.hi - b.lo) AS m
  FROM bounds b, LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS c) ks
)"""]
    for i in range(1, max_iter + 1):
        p.append(f""",
a{i} AS MATERIALIZED (
  SELECT image_key, val, cnt, c FROM (
    SELECT h.image_key, h.val, h.cnt, ct.c,
           ROW_NUMBER() OVER (PARTITION BY h.image_key, h.val ORDER BY
             (h.val - ct.m) * (h.val - ct.m) ASC, ct.c ASC) AS rn
    FROM hist h JOIN cent{i - 1} ct ON ct.image_key = h.image_key
  ) t WHERE rn = 1
)""")
        if i < max_iter:
            p.append(f""",
cent{i} AS MATERIALIZED (
  SELECT pc.image_key, pc.c, COALESCE(u.s / u.n, pc.m) AS m
  FROM cent{i - 1} pc LEFT JOIN (
    SELECT image_key, c, SUM(val * cnt) AS s, SUM(cnt) AS n
    FROM a{i} GROUP BY 1, 2
  ) u ON u.image_key = pc.image_key AND u.c = pc.c
)""")
    p.append(f""",
kmz AS MATERIALIZED (
  SELECT p0.image_key, p0.idx, p0.px, p0.py, p0.val, aa.c AS km
  FROM px0 p0 JOIN a{max_iter} aa
    ON aa.image_key = p0.image_key AND aa.val = p0.val
),
edges AS MATERIALIZED (
  {_dir_pairs("kmz", "a.idx AS i1, b.idx AS i2", " AND b.km = a.km")}
),
relax AS (
  SELECT image_key, idx, idx AS lab FROM kmz
  UNION
  SELECT e.image_key, e.i2 AS idx, r.lab
  FROM relax r JOIN edges e ON e.image_key = r.image_key AND e.i1 = r.idx
  WHERE r.lab < e.i2
),
cc AS MATERIALIZED (SELECT image_key, idx, MIN(lab) AS lab FROM relax GROUP BY 1, 2),
pxr0 AS MATERIALIZED (
  SELECT p0.image_key, p0.px, p0.py, p0.val, c.lab
  FROM px0 p0 JOIN cc c ON c.image_key = p0.image_key AND c.idx = p0.idx
)""")
    for r in range(1, min_size + 1):
        p.append(f""",
sz{r} AS MATERIALIZED (SELECT image_key, lab, COUNT(*) AS n, SUM(val) AS s
          FROM pxr{r - 1} GROUP BY 1, 2),
adj{r} AS MATERIALIZED (
  SELECT DISTINCT image_key, la, lb FROM (
    {_dir_pairs(f"pxr{r - 1}", "a.lab AS la, b.lab AS lb")}
  ) u WHERE la <> lb
),
mrg{r} AS MATERIALIZED (
  SELECT image_key, la, lb FROM (
    SELECT pj.image_key, pj.la, pj.lb,
           ROW_NUMBER() OVER (PARTITION BY pj.image_key, pj.la ORDER BY
             (sa.s / sa.n - sb.s / sb.n) * (sa.s / sa.n - sb.s / sb.n) ASC,
             pj.lb ASC) AS rn
    FROM adj{r} pj
    JOIN sz{r} sa ON sa.image_key = pj.image_key AND sa.lab = pj.la
    JOIN sz{r} sb ON sb.image_key = pj.image_key AND sb.lab = pj.lb
    WHERE sa.n <= {r} AND sa.n < {min_size} AND sb.n > sa.n
  ) t WHERE rn = 1
),
ptr{r}_0 AS MATERIALIZED (
  SELECT s.image_key, s.lab, COALESCE(m.lb, s.lab) AS dst
  FROM sz{r} s LEFT JOIN mrg{r} m
    ON m.image_key = s.image_key AND m.la = s.lab
)""")
        for j in range(1, min_size + 1):
            p.append(f""",
ptr{r}_{j} AS MATERIALIZED (
  SELECT pp.image_key, pp.lab, qq.dst
  FROM ptr{r}_{j - 1} pp JOIN ptr{r}_{j - 1} qq
    ON qq.image_key = pp.image_key AND qq.lab = pp.dst
)""")
        p.append(f""",
pxr{r} AS MATERIALIZED (
  SELECT pq.image_key, pq.px, pq.py, pq.val, t.dst AS lab
  FROM pxr{r - 1} pq JOIN ptr{r}_{min_size} t
    ON t.image_key = pq.image_key AND t.lab = pq.lab
)""")
    p.append(f""",
segsz AS MATERIALIZED (SELECT image_key, lab, COUNT(*) AS n FROM pxr{min_size} GROUP BY 1, 2)
SELECT image_key, COUNT(*) AS n_segments,
       MIN(n) AS min_seg_px, MAX(n) AS max_seg_px
FROM segsz GROUP BY image_key
""")
    return "".join(p)


ORACLE_Q103 = _shepherd_oracle_sql()


def q104_accuracy_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification accuracy assessment
    (classaccuracymetrics.calc_class_accuracy_metrics:120 +
    cls_quantity_accuracy:46 — Pontius & Millones Q/A): per-class
    precision/recall/F1 plus overall accuracy, Cohen's kappa, and
    quantity/allocation disagreement over a deterministic
    ref/pred labelling of the point table. Every metric is one division
    of BIGINT quantities, so the oracle hashes bit-for-bit."""
    from rsgislib_spark.functions.accuracy import class_accuracy_metrics

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select(
        (F.col("pt_id") % 4).alias("ref_cls"),
        F.when((F.col("pt_id") * 11) % 10 < 6, F.col("pt_id") % 4)
        .otherwise((F.col("pt_id") * 3) % 4)
        .alias("pred_cls"),
    )
    return class_accuracy_metrics(pts, "ref_cls", "pred_cls")


ORACLE_Q104 = _cte("""
, lab AS (
  SELECT pt_id % 4 AS ref,
         CASE WHEN (pt_id * 11) % 10 < 6 THEN pt_id % 4
              ELSE (pt_id * 3) % 4 END AS pred
  FROM geo_points
), cm AS (SELECT ref, pred, COUNT(*) AS n FROM lab GROUP BY 1, 2),
rowt AS (SELECT ref, SUM(n) AS row_n FROM cm GROUP BY 1),
colt AS (SELECT pred, SUM(n) AS col_n FROM cm GROUP BY 1),
diag AS (SELECT ref AS class_id, n AS diag_n FROM cm WHERE ref = pred),
cls AS (SELECT ref AS class_id FROM rowt UNION SELECT pred FROM colt),
per AS (
  SELECT c.class_id,
         CAST(COALESCE(r.row_n, 0) AS BIGINT) AS support,
         CAST(COALESCE(co.col_n, 0) AS BIGINT) AS n_pred,
         CAST(COALESCE(d.diag_n, 0) AS BIGINT) AS n_correct
  FROM cls c
  LEFT JOIN rowt r ON r.ref = c.class_id
  LEFT JOIN colt co ON co.pred = c.class_id
  LEFT JOIN diag d ON d.class_id = c.class_id
), tot AS (
  SELECT CAST(SUM(support) AS BIGINT) AS n,
         CAST(SUM(n_correct) AS BIGINT) AS sum_diag,
         CAST(SUM(support * n_pred) AS BIGINT) AS sum_rowcol,
         CAST(SUM(ABS(support - n_pred)) AS BIGINT) AS sum_absdiff,
         CAST(SUM(LEAST(support - n_correct, n_pred - n_correct)) AS BIGINT) AS sum_minco
  FROM per
)
SELECT p.class_id, p.support, p.n_pred, p.n_correct,
       ROUND(CASE WHEN p.n_pred > 0 THEN p.n_correct / p.n_pred ELSE 0.0 END, 6) AS precision,
       ROUND(CASE WHEN p.support > 0 THEN p.n_correct / p.support ELSE 0.0 END, 6) AS recall,
       ROUND(CASE WHEN p.support + p.n_pred > 0
                  THEN 2.0 * p.n_correct / (p.support + p.n_pred) ELSE 0.0 END, 6) AS f1,
       ROUND(t.sum_diag / t.n, 6) AS overall_accuracy,
       ROUND((t.n * t.sum_diag - t.sum_rowcol) / (t.n * t.n - t.sum_rowcol), 6) AS cohen_kappa,
       ROUND(t.sum_absdiff / (2.0 * t.n), 6) AS quantity_dis,
       ROUND(t.sum_minco / t.n, 6) AS allocation_dis,
       ROUND(t.sum_diag / t.n, 6) AS proportion_correct
FROM per p CROSS JOIN tot t
""")


def q105_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image Otsu auto-threshold (tools/stats.calc_otsu_threshold,
    stats.py:641-676; windowed application calc_split_win_thresholds,
    imagecalc/__init__.py:1581+). Pixel pass = per-image value
    histogram (kernel bincount, tiny output); threshold selection =
    pure-Catalyst window argmax over (c1·c2)·(s1/c1 − s2/c2)² — the
    identical double expression the oracle evaluates, so the argmax
    matches bit-for-bit. Value-domain bins (documented deviation from
    the reference's sqrt-rule approximate binning)."""
    from rsgislib_spark.functions.thresholds import otsu_threshold_from_histogram
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _hist(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                v = BK.synth_band_grid(k, w, h, "red")
                cnt = np.bincount(v.ravel())
                nz = np.nonzero(cnt)[0]
                rows.append(
                    pd.DataFrame({"image_key": k, "v": nz.astype(np.int64),
                                  "n": cnt[nz].astype(np.int64)})
                )
            yield pd.concat(rows, ignore_index=True)

    hist = gi.mapInPandas(_hist, schema="image_key long, v long, n long")
    return otsu_threshold_from_histogram(hist, ["image_key"])


ORACLE_Q105 = _cte(f""",
px AS MATERIALIZED (
  SELECT image_key,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS v
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), hist AS MATERIALIZED (SELECT image_key, v, COUNT(*) AS n FROM px GROUP BY 1, 2),
cum AS (
  SELECT image_key, v,
         CAST(SUM(n) OVER (PARTITION BY image_key ORDER BY v) AS BIGINT) AS c1,
         CAST(SUM(n * v) OVER (PARTITION BY image_key ORDER BY v) AS BIGINT) AS s1
  FROM hist
), tot AS (SELECT image_key, CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n * v) AS BIGINT) AS st FROM hist GROUP BY 1),
m AS (
  SELECT c.image_key, c.v, c.c1, t.nt - c.c1 AS c2, c.s1, t.st - c.s1 AS s2
  FROM cum c JOIN tot t ON t.image_key = c.image_key
  WHERE t.nt - c.c1 > 0
)
SELECT image_key, v AS thres_v, c1 AS n_lo, c2 AS n_hi FROM (
  SELECT image_key, v, c1, c2,
         ROW_NUMBER() OVER (
           PARTITION BY image_key
           ORDER BY (c1 * c2) * ((s1 / c1 - s2 / c2) * (s1 / c1 - s2 / c2)) DESC,
                    v ASC) AS rn
  FROM m
) WHERE rn = 1
""")


def q106_spectral_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky–Golay spectral smoothing (imageutils.spectral_smoothing,
    imageutils/__init__.py:4088-4180) over a deterministic 10-band
    stack: per-(image, interior-band) integer SG numerator sums — the
    central taps (−3,12,17,12,−3)/35 are exact integers, so the oracle
    evaluates the same lattice dot closed-form."""
    from rsgislib_spark.kernels.spectral import savgol_numerator

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                py, px = np.mgrid[0:h, 0:w]
                cube = np.stack(
                    [(k * 7 + px * 13 + py * 17 + b * 19) % 251 for b in range(10)]
                )
                num = savgol_numerator(cube, 5, 3)  # bands 2..7
                for i in range(num.shape[0]):
                    rows.append((k, i + 2, int(num[i].sum()), int(num[i].size)))
            yield pd.DataFrame(rows, columns=["image_key", "band", "sg_num", "n_px"])

    out = gi.mapInPandas(
        _run, schema="image_key long, band long, sg_num long, n_px long"
    )
    return out.withColumn(
        "sg_mean", F.round(F.col("sg_num") / (35.0 * F.col("n_px")), 6)
    )


_SGV = lambda o: f"(image_key * 7 + gx.px * 13 + gy.py * 17 + (b.band + {o}) * 19) % 251"
ORACLE_Q106 = _cte(f"""
SELECT image_key, b.band AS band,
       CAST(SUM(-3 * ({_SGV(-2)}) + 12 * ({_SGV(-1)}) + 17 * ({_SGV(0)})
              + 12 * ({_SGV(1)}) - 3 * ({_SGV(2)})) AS BIGINT) AS sg_num,
       COUNT(*) AS n_px,
       ROUND(CAST(SUM(-3 * ({_SGV(-2)}) + 12 * ({_SGV(-1)}) + 17 * ({_SGV(0)})
              + 12 * ({_SGV(1)}) - 3 * ({_SGV(2)})) AS BIGINT) / (35.0 * COUNT(*)), 6) AS sg_mean
FROM geo_images,
LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy,
LATERAL (SELECT unnest(generate_series(2, 7)) AS band) b
WHERE image_key % {FOCAL_SUBSET} = 0
GROUP BY image_key, b.band
""")


def q107_mnf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum Noise Fraction (perform_image_mnf,
    imagecalc/__init__.py:708-830 = whiten_image ZCA + PCA on an
    every-Nth sample). The engine fits via SVD/eigh; the oracle exploits
    that the MNF eigenvalues are the GENERALIZED eigenvalues of
    (C_sample, C_full) — a closed-form quadratic for 2 bands — and that
    the Catalyst-projected score variance must reproduce them.
    ROUND 5 absorbs LAPACK-vs-quadratic-formula last bits."""
    from rsgislib_spark.functions.pca import mnf_apply, mnf_fit

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select("pt_id", "f1", "f2")
    sample = pts.filter(F.col("pt_id") % 7 == 0)
    model = mnf_fit(pts, ["f1", "f2"], sample=sample)
    proj = mnf_apply(sample, model)
    r = proj.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col(f"mnf{i+1}") * F.col(f"mnf{i+1}")).alias(f"ss{i}") for i in range(2)],
        *[F.sum(F.col(f"mnf{i+1}")).alias(f"s{i}") for i in range(2)],
    ).first()
    n = float(r["n"])
    rows = []
    for i in range(2):
        var = r[f"ss{i}"] / n - (r[f"s{i}"] / n) ** 2
        rows.append(
            (
                i + 1,
                int(n),
                _round_half_away(float(model.eigenvalues[i]), 5),
                _round_half_away(float(var), 5),
            )
        )
    return spark.createDataFrame(
        rows, "comp int, n_sample long, eigenvalue_r5 double, proj_var_r5 double"
    )


ORACLE_Q107 = _cte("""
, fs AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
         CAST(SUM(f1*f1) AS BIGINT) AS s11, CAST(SUM(f1*f2) AS BIGINT) AS s12,
         CAST(SUM(f2*f2) AS BIGINT) AS s22
  FROM geo_points
), ss AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
         CAST(SUM(f1*f1) AS BIGINT) AS s11, CAST(SUM(f1*f2) AS BIGINT) AS s12,
         CAST(SUM(f2*f2) AS BIGINT) AS s22
  FROM geo_points WHERE pt_id % 7 = 0
), cf AS (
  SELECT (s11 - CAST(s1 AS DOUBLE) * s1 / n) / n AS c11,
         (s12 - CAST(s1 AS DOUBLE) * s2 / n) / n AS c12,
         (s22 - CAST(s2 AS DOUBLE) * s2 / n) / n AS c22
  FROM fs
), cs AS (
  SELECT n,
         (s11 - CAST(s1 AS DOUBLE) * s1 / n) / n AS c11,
         (s12 - CAST(s1 AS DOUBLE) * s2 / n) / n AS c12,
         (s22 - CAST(s2 AS DOUBLE) * s2 / n) / n AS c22
  FROM ss
), quad AS (
  SELECT cs.n AS n_sample,
         cf.c11 * cf.c22 - cf.c12 * cf.c12 AS qa,
         cs.c11 * cf.c22 + cs.c22 * cf.c11 - 2 * cs.c12 * cf.c12 AS qb,
         cs.c11 * cs.c22 - cs.c12 * cs.c12 AS qc
  FROM cs CROSS JOIN cf
), roots AS (
  SELECT n_sample,
         (qb + SQRT(qb * qb - 4 * qa * qc)) / (2 * qa) AS lam1,
         (qb - SQRT(qb * qb - 4 * qa * qc)) / (2 * qa) AS lam2
  FROM quad
)
SELECT 1 AS comp, n_sample, ROUND(lam1, 5) AS eigenvalue_r5, ROUND(lam1, 5) AS proj_var_r5 FROM roots
UNION ALL
SELECT 2 AS comp, n_sample, ROUND(lam2, 5) AS eigenvalue_r5, ROUND(lam2, 5) AS proj_var_r5 FROM roots
""")


def q108_line_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-geometry family (vectorgeoms get_pt_on_line:154,
    find_pt_to_side:206, closest_line_intersection): per zone, walk 100
    units along the bbox diagonal, project a right-hand orthogonal point
    50 units off the line, and intersect the diagonal with the
    horizontal midline. Vector-algebra forms (sqrt-only — documented
    deviation from the reference's atan/sin/cos quadrant cases, tested
    equivalent in tests/test_lines.py); the oracle evaluates the
    identical expressions."""
    from rsgislib_spark.kernels import lines as LK

    load_views(spark, sf_dir)
    z = _geo_zones(spark).select("zone_id", "minx", "miny", "maxx", "maxy")

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            x1 = pdf["minx"].to_numpy(np.float64)
            y1 = pdf["miny"].to_numpy(np.float64)
            x2 = pdf["maxx"].to_numpy(np.float64)
            y2 = pdf["maxy"].to_numpy(np.float64)
            px, py = LK.pt_on_line(x1, y1, x2, y2, 100.0)
            ox, oy = LK.pt_to_side(x1, y1, px, py, x2, y2, 50.0)
            ymid = (y1 + y2) / 2.0
            hit, t, ix, iy = LK.segment_intersection(
                x1, y1, x2, y2, x1, ymid, x2, ymid
            )
            yield pd.DataFrame(
                {
                    "zone_id": pdf["zone_id"].to_numpy(np.int64),
                    "pt_x": np.round(px, 6), "pt_y": np.round(py, 6),
                    "orth_x": np.round(ox, 6), "orth_y": np.round(oy, 6),
                    "cross_hit": hit.astype(np.int64),
                    "cross_x": np.round(ix, 6), "cross_y": np.round(iy, 6),
                }
            )

    return widen(z).mapInPandas(
        _run,
        schema="zone_id long, pt_x double, pt_y double, orth_x double, "
        "orth_y double, cross_hit long, cross_x double, cross_y double",
    )


ORACLE_Q108 = _cte("""
, g AS (
  SELECT zone_id, minx, miny, maxx, maxy,
         maxx - minx AS dx, maxy - miny AS dy,
         SQRT((maxx - minx) * (maxx - minx) + (maxy - miny) * (maxy - miny)) AS ln,
         (miny + maxy) / 2.0 AS ymid
  FROM geo_zones
), p AS (
  SELECT zone_id, minx, miny, maxx, maxy, dx, dy, ln, ymid,
         minx + 100.0 * (dx / ln) AS pt_x,
         miny + 100.0 * (dy / ln) AS pt_y
  FROM g
), ix AS (
  SELECT *,
         -- segment_intersection of diagonal with the horizontal midline:
         -- r=(dx,dy), s=(dx,0), qp=(0, ymid-miny)
         (dx * (ymid - ymid) - dy * (maxx - minx)) AS denom,
         ((minx - minx) * (ymid - ymid) - (ymid - miny) * (maxx - minx)) AS tnum
  FROM p
)
SELECT zone_id,
       ROUND(pt_x, 6) AS pt_x, ROUND(pt_y, 6) AS pt_y,
       ROUND(pt_x + 50.0 * (dy / ln), 6) AS orth_x,
       ROUND(pt_y + 50.0 * (-dx / ln), 6) AS orth_y,
       CASE WHEN denom != 0 AND tnum / denom BETWEEN 0 AND 1 THEN 1 ELSE 0 END AS cross_hit,
       ROUND(minx + (tnum / denom) * dx, 6) AS cross_x,
       ROUND(miny + (tnum / denom) * dy, 6) AS cross_y
FROM ix
""")


def q109_poly_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon hole handling (get_poly_hole_area, delete_polygon_holes,
    calc_poly_centroids — vectorgeoms/__init__.py): each zone becomes a
    2-ring WKB polygon (shell + 25%-inset hole); the kernel round-trips
    WKB, computes shoelace net/hole areas, the shell centroid, and the
    hole-dropped area. Areas are exact in float64 (all shoelace terms
    are 1/16-granular below 2^53); the centroid's >2^53 intermediate
    sums are order-replicated term-by-term in the oracle."""
    from rsgislib_spark.kernels import geom as GK

    load_views(spark, sf_dir)
    z = _geo_zones(spark).select("zone_id", "minx", "miny", "maxx", "maxy")

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                x1, y1, x2, y2 = float(rec.minx), float(rec.miny), float(rec.maxx), float(rec.maxy)
                dx, dy = x2 - x1, y2 - y1
                shell = np.array([[x1, y1], [x2, y1], [x2, y2], [x1, y2]])
                hole = np.array(
                    [
                        [x1 + dx / 4.0, y1 + dy / 4.0],
                        [x2 - dx / 4.0, y1 + dy / 4.0],
                        [x2 - dx / 4.0, y2 - dy / 4.0],
                        [x1 + dx / 4.0, y2 - dy / 4.0],
                    ]
                )
                rings = GK.wkb_to_polygon(GK.polygon_to_wkb([shell, hole]))
                cx, cy = GK.polygon_centroid(rings)
                rows.append(
                    (
                        int(rec.zone_id),
                        GK.polygon_area(GK.drop_holes(rings)),
                        GK.poly_hole_area(rings),
                        GK.polygon_area(rings),
                        round(cx, 6),
                        round(cy, 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["zone_id", "outer_area", "hole_area", "net_area", "cx", "cy"],
            )

    return widen(z).mapInPandas(
        _run,
        schema="zone_id long, outer_area double, hole_area double, "
        "net_area double, cx double, cy double",
    )


ORACLE_Q109 = _cte("""
, g AS (
  SELECT zone_id, minx, miny, maxx, maxy,
         maxx - minx AS dx, maxy - miny AS dy,
         minx * miny - maxx * miny AS c0,
         maxx * maxy - maxx * miny AS c1,
         maxx * maxy - minx * maxy AS c2,
         minx * miny - minx * maxy AS c3
  FROM geo_zones
), a AS (
  SELECT *, (c0 + c1 + c2 + c3) / 2.0 AS shoelace_a FROM g
)
SELECT zone_id,
       dx * dy AS outer_area,
       (dx / 2.0) * (dy / 2.0) AS hole_area,
       dx * dy - (dx / 2.0) * (dy / 2.0) AS net_area,
       ROUND(((minx + maxx) * c0 + (maxx + maxx) * c1 + (maxx + minx) * c2
              + (minx + minx) * c3) / (6.0 * shoelace_a), 6) AS cx,
       ROUND(((miny + miny) * c0 + (miny + maxy) * c1 + (maxy + maxy) * c2
              + (maxy + miny) * c3) / (6.0 * shoelace_a), 6) AS cy
FROM a
""")


def q110_warp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affine warp fit from tie points (imageregistration GCP →
    polynomial warp, order 1; tie-point generation itself is q66).
    Deterministic tie points: an affine transform of the point table
    plus lattice noise — every moment sum is an exact multiple of 1/16
    below 2^53, so Spark's partial aggregation is order-free exact and
    the oracle replays the cofactor solve and moment-sum SSE
    expression-for-expression."""
    from rsgislib_spark.functions.warpfit import affine_fit

    load_views(spark, sf_dir)
    p = _geo_points(spark).select(
        "pt_id", "x", "y",
        (F.lit(12.25) + 1.25 * F.col("x") + 0.5 * F.col("y")
         + ((F.col("pt_id") * 7) % 11 - 5) * 0.25).alias("tx"),
        (F.lit(-8.5) + 0.75 * F.col("y") - 0.25 * F.col("x")
         + ((F.col("pt_id") * 13) % 9 - 4) * 0.25).alias("ty"),
    )
    m = affine_fit(p, "x", "y", "tx", "ty")
    row = (
        m.n,
        *[_round_half_away(v, 6) for v in m.a],
        *[_round_half_away(v, 6) for v in m.b],
        _round_half_away(m.rmse_x, 6),
        _round_half_away(m.rmse_y, 6),
    )
    return spark.createDataFrame(
        [row],
        "n long, a0 double, a1 double, a2 double, "
        "b0 double, b1 double, b2 double, rmse_x double, rmse_y double",
    )


ORACLE_Q110 = _cte("""
, tp AS (
  SELECT x, y,
         12.25 + 1.25 * x + 0.5 * y + ((pt_id * 7) % 11 - 5) * 0.25 AS tx,
         -8.5 + 0.75 * y - 0.25 * x + ((pt_id * 13) % 9 - 4) * 0.25 AS ty
  FROM geo_points
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy,
         SUM(tx) AS stx, SUM(ty) AS sty,
         SUM(x * tx) AS sxtx, SUM(y * tx) AS sytx,
         SUM(x * ty) AS sxty, SUM(y * ty) AS syty,
         SUM(tx * tx) AS stxtx, SUM(ty * ty) AS styty
  FROM tp
), d AS (
  SELECT *,
         n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy)
           + sy * (sx * sxy - sxx * sy) AS det
  FROM m
), coef AS (
  SELECT *,
    (stx * (sxx * syy - sxy * sxy) - sx * (sxtx * syy - sxy * sytx)
       + sy * (sxtx * sxy - sxx * sytx)) / det AS a0,
    (n * (sxtx * syy - sxy * sytx) - stx * (sx * syy - sxy * sy)
       + sy * (sx * sytx - sxtx * sy)) / det AS a1,
    (n * (sxx * sytx - sxtx * sxy) - sx * (sx * sytx - sxtx * sy)
       + stx * (sx * sxy - sxx * sy)) / det AS a2,
    (sty * (sxx * syy - sxy * sxy) - sx * (sxty * syy - sxy * syty)
       + sy * (sxty * sxy - sxx * syty)) / det AS b0,
    (n * (sxty * syy - sxy * syty) - sty * (sx * syy - sxy * sy)
       + sy * (sx * syty - sxty * sy)) / det AS b1,
    (n * (sxx * syty - sxty * sxy) - sx * (sx * syty - sxty * sy)
       + sty * (sx * sxy - sxx * sy)) / det AS b2
  FROM d
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(a0, 6) AS a0, ROUND(a1, 6) AS a1, ROUND(a2, 6) AS a2,
       ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
       ROUND(SQRT(GREATEST(stxtx - 2.0 * (a0 * stx + a1 * sxtx + a2 * sytx)
         + (a0 * a0 * n + a1 * a1 * sxx + a2 * a2 * syy
            + 2.0 * (a0 * a1 * sx + a0 * a2 * sy + a1 * a2 * sxy)), 0.0) / n), 6) AS rmse_x,
       ROUND(SQRT(GREATEST(styty - 2.0 * (b0 * sty + b1 * sxty + b2 * syty)
         + (b0 * b0 * n + b1 * b1 * sxx + b2 * b2 * syy
            + 2.0 * (b0 * b1 * sx + b0 * b2 * sy + b1 * b2 * sxy)), 0.0) / n), 6) AS rmse_y
FROM coef
""")


def q111_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance correction (classimblearn
    random_undersample_smpls:230 / rand_oversample_smpls:102):
    deterministic hash-ranked undersample-to-minority and
    oversample-to-majority over a skewed 6:3:1 labelling. Identity sums
    over the kept/replicated rows pin the exact selection, which the
    oracle replays with the same md5 ranking."""
    from rsgislib_spark.functions.sampling import (
        oversample_balanced,
        undersample_balanced,
    )

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select(
        "pt_id",
        F.when(F.col("pt_id") % 10 < 6, 0)
        .when(F.col("pt_id") % 10 < 9, 1)
        .otherwise(2)
        .alias("cls"),
    )
    under = undersample_balanced(pts, "cls", F.col("pt_id"))
    over = oversample_balanced(pts, "cls", F.col("pt_id"))
    a = pts.groupBy("cls").agg(F.count("*").alias("n_before"))
    u = under.groupBy("cls").agg(
        F.count("*").alias("n_under"),
        F.sum("pt_id").alias("sum_under_ids"),
    )
    o = over.groupBy("cls").agg(
        F.count("*").alias("n_over"),
        F.sum("pt_id").alias("sum_over_ids"),
    )
    return a.join(u, "cls").join(o, "cls")


ORACLE_Q111 = _cte("""
, lab AS (
  SELECT pt_id,
         CASE WHEN pt_id % 10 < 6 THEN 0
              WHEN pt_id % 10 < 9 THEN 1 ELSE 2 END AS cls
  FROM geo_points
), ranked AS (
  SELECT pt_id, cls,
         ROW_NUMBER() OVER (PARTITION BY cls
                            ORDER BY md5(CAST(pt_id AS VARCHAR)), pt_id) AS rk
  FROM lab
), counts AS (SELECT cls, COUNT(*) AS n FROM lab GROUP BY 1),
mn AS (SELECT MIN(n) AS mn FROM counts),
mx AS (SELECT MAX(n) AS mx FROM counts),
under AS (
  SELECT r.cls, COUNT(*) AS n_under, CAST(SUM(r.pt_id) AS BIGINT) AS sum_under_ids
  FROM ranked r CROSS JOIN mn WHERE r.rk <= mn.mn GROUP BY r.cls
), reps AS (
  SELECT r.cls, r.pt_id,
         mx.mx // c.n + CASE WHEN r.rk <= mx.mx % c.n THEN 1 ELSE 0 END AS nrep
  FROM ranked r
  JOIN counts c ON c.cls = r.cls
  CROSS JOIN mx
), over_t AS (
  SELECT cls, CAST(SUM(nrep) AS BIGINT) AS n_over,
         CAST(SUM(pt_id * nrep) AS BIGINT) AS sum_over_ids
  FROM reps GROUP BY cls
)
SELECT c.cls, c.n AS n_before, u.n_under, u.sum_under_ids, o.n_over, o.sum_over_ids
FROM counts c JOIN under u ON u.cls = c.cls JOIN over_t o ON o.cls = c.cls
""")


def q112_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1;
    training-data family beyond the reference): per-document duplicate-
    word fraction and top-bigram coverage, all JVM-side Catalyst
    (split → posexplode → LEAD window → two doc-key aggregations)."""
    from rsgislib_spark.functions.textops import repetition_stats

    load_views(spark, sf_dir)
    return repetition_stats(spark.table("documents"), "text", "doc_id")


ORACLE_Q112 = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), words AS (
  SELECT doc_id, ws[i.i] AS w, i.i AS pos
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) i
), base AS (
  SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT w) AS n_distinct
  FROM words GROUP BY 1
), lead_w AS (
  SELECT doc_id, w, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM words
), big AS (
  SELECT doc_id, w, w2, COUNT(*) AS n FROM lead_w WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
), top AS (
  SELECT doc_id, n AS top_bigram_n FROM (
    SELECT doc_id, n,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, w ASC, w2 ASC) AS rn
    FROM big
  ) WHERE rn = 1
)
SELECT b.doc_id, b.n_words, b.n_distinct,
       ROUND(1.0 - b.n_distinct / b.n_words, 6) AS dup_word_frac,
       t.top_bigram_n,
       ROUND(t.top_bigram_n / (b.n_words - 1), 6) AS top_bigram_frac
FROM base b JOIN top t USING (doc_id)
"""


def q113_otsu_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class Otsu outlier change detection (changedetect
    find_class_otsu_outliers, pxloutlierchng.py:344-433): each class
    thresholds its own value histogram; values strictly below the
    class threshold are flagged 'chng' (2). Rolled up per class; the
    oracle replays the q105 argmax per group plus the flag counts."""
    from rsgislib_spark.functions.thresholds import otsu_outliers

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select(
        "pt_id", (F.col("pt_id") % 4).alias("cls"), F.col("v").cast("long").alias("v")
    )
    flagged = otsu_outliers(pts, "v", ["cls"], low_tail=True)
    return flagged.groupBy("cls").agg(
        F.min("thres_v").alias("thres_v"),
        F.count("*").alias("n_in_class"),
        F.sum(F.when(F.col("chng_cls") == 2, 1).otherwise(0)).alias("n_chng"),
        F.sum(F.when(F.col("chng_cls") == 2, F.col("pt_id")).otherwise(0)).alias("sum_chng_ids"),
    )


ORACLE_Q113 = _cte("""
, pts AS (
  SELECT pt_id, pt_id % 4 AS cls, CAST(v AS BIGINT) AS v FROM geo_points
), hist AS MATERIALIZED (SELECT cls, v, COUNT(*) AS n FROM pts GROUP BY 1, 2),
cum AS (
  SELECT cls, v,
         CAST(SUM(n) OVER (PARTITION BY cls ORDER BY v) AS BIGINT) AS c1,
         CAST(SUM(n * v) OVER (PARTITION BY cls ORDER BY v) AS BIGINT) AS s1
  FROM hist
), tot AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n * v) AS BIGINT) AS st FROM hist GROUP BY 1),
m AS (
  SELECT c.cls, c.v, c.c1, t.nt - c.c1 AS c2, c.s1, t.st - c.s1 AS s2
  FROM cum c JOIN tot t ON t.cls = c.cls WHERE t.nt - c.c1 > 0
), th AS (
  SELECT cls, v AS thres_v FROM (
    SELECT cls, v,
           ROW_NUMBER() OVER (
             PARTITION BY cls
             ORDER BY (c1 * c2) * ((s1 / c1 - s2 / c2) * (s1 / c1 - s2 / c2)) DESC,
                      v ASC) AS rn
    FROM m
  ) WHERE rn = 1
)
SELECT p.cls, MIN(t.thres_v) AS thres_v,
       COUNT(*) AS n_in_class,
       CAST(SUM(CASE WHEN p.v < t.thres_v THEN 1 ELSE 0 END) AS BIGINT) AS n_chng,
       CAST(SUM(CASE WHEN p.v < t.thres_v THEN p.pt_id ELSE 0 END) AS BIGINT) AS sum_chng_ids
FROM pts p JOIN th t ON t.cls = p.cls
GROUP BY p.cls
""")


def q114_kfold_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold cross-validated OLS (regresssklearn.perform_kfold_fit
    :213-335 metrics; tools/stats.bias_score:1016): 4 hash folds, each
    fold's model trained on the COMPLEMENT via moment-sum subtraction —
    k models + all per-fold metrics from ONE scan. The oracle replays
    fold assignment, the cofactor solve, and every metric formula; the
    lattice target keeps all sums float64-exact. ROUND 6."""
    from rsgislib_spark.functions.regression import kfold_ols_metrics

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select(
        "pt_id", "f1", "f2",
        (F.lit(7.25) + 0.5 * F.col("f1") - 0.25 * F.col("f2")
         + ((F.col("pt_id") * 11) % 13 - 6) * 0.25).alias("t"),
    )
    out = kfold_ols_metrics(pts, ["f1", "f2"], "t", F.col("pt_id"), k=4)
    rc = [c for c in out.columns if c not in ("fold", "n_test")]
    return out.select("fold", "n_test", *[F.round(F.col(c), 6).alias(c) for c in rc])


ORACLE_Q114 = _cte("""
, tp AS (
  SELECT pt_id, f1, f2,
         7.25 + 0.5 * f1 - 0.25 * f2 + ((pt_id * 11) % 13 - 6) * 0.25 AS t,
         CAST(('0x' || substr(md5(CAST(pt_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS fold
  FROM geo_points
), fm AS (
  SELECT fold, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(CAST(f1 AS DOUBLE)) AS sx, SUM(CAST(f2 AS DOUBLE)) AS sy,
         SUM(CAST(f1 AS DOUBLE) * f1) AS sxx, SUM(CAST(f1 AS DOUBLE) * f2) AS sxy,
         SUM(CAST(f2 AS DOUBLE) * f2) AS syy,
         SUM(t) AS st, SUM(f1 * t) AS sxt, SUM(f2 * t) AS syt, SUM(t * t) AS stt
  FROM tp GROUP BY 1
), cm AS (
  SELECT fold, n, sx, sy, sxx, sxy, syy, st, sxt, syt, stt,
         SUM(n) OVER () - n AS tn, SUM(sx) OVER () - sx AS tsx,
         SUM(sy) OVER () - sy AS tsy, SUM(sxx) OVER () - sxx AS tsxx,
         SUM(sxy) OVER () - sxy AS tsxy, SUM(syy) OVER () - syy AS tsyy,
         SUM(st) OVER () - st AS tst, SUM(sxt) OVER () - sxt AS tsxt,
         SUM(syt) OVER () - syt AS tsyt
  FROM fm
), dd AS (
  SELECT *,
         tn * (tsxx * tsyy - tsxy * tsxy) - tsx * (tsx * tsyy - tsxy * tsy)
           + tsy * (tsx * tsxy - tsxx * tsy) AS det
  FROM cm
), coef AS (
  SELECT *,
    (tst * (tsxx * tsyy - tsxy * tsxy) - tsx * (tsxt * tsyy - tsxy * tsyt)
       + tsy * (tsxt * tsxy - tsxx * tsyt)) / det AS a0,
    (tn * (tsxt * tsyy - tsxy * tsyt) - tst * (tsx * tsyy - tsxy * tsy)
       + tsy * (tsx * tsyt - tsxt * tsy)) / det AS a1,
    (tn * (tsxx * tsyt - tsxt * tsxy) - tsx * (tsx * tsyt - tsxt * tsy)
       + tst * (tsx * tsxy - tsxx * tsy)) / det AS a2
  FROM dd
), met AS (
  SELECT fold, n, a0, a1, a2, st, stt,
         stt - 2.0 * (a0 * st + a1 * sxt + a2 * syt)
           + (a0 * a0 * n + a1 * a1 * sxx + a2 * a2 * syy
              + 2.0 * (a0 * a1 * sx + a0 * a2 * sy + a1 * a2 * sxy)) AS sse,
         a0 * n + a1 * sx + a2 * sy AS sum_yhat
  FROM coef
)
SELECT fold, CAST(n AS BIGINT) AS n_test,
       ROUND(a0, 6) AS a0, ROUND(a1, 6) AS a1, ROUND(a2, 6) AS a2,
       ROUND(SQRT(GREATEST(sse, 0.0) / n), 6) AS rmse,
       ROUND((SQRT(GREATEST(sse, 0.0) / n) / (st / n)) * 100.0, 6) AS norm_rmse,
       ROUND((sum_yhat - st) / n, 6) AS bias,
       ROUND((((sum_yhat - st) / n) / (st / n)) * 100.0, 6) AS norm_bias,
       ROUND(1.0 - sse / (stt - (st * st) / n), 6) AS r2
FROM met
""")


def q115_spectral_unmixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unconstrained spectral unmixing (spec_unmix_spts_ucls,
    specunmixing/__init__.py:244): per-image MEAN abundances for two
    integer endmembers over the (red, nir) lattice bands. The UCLS
    operator is linear, so applying it to the per-image integer band
    SUMS equals the sum of per-pixel abundances — the Catalyst-literal
    projection runs on aggregate rows while the oracle evaluates the
    closed-form (adj/det) normal equations on the same exact sums;
    ROUND 6 absorbs LAPACK-inverse vs rational-literal last bits."""
    from rsgislib_spark.functions.unmixing import ucls_unmix
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _sums(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                r = BK.synth_band_grid(k, w, h, "red")
                n = BK.synth_band_grid(k, w, h, "nir")
                rows.append((k, r.size, int(r.sum()), int(n.sum())))
            yield pd.DataFrame(rows, columns=["image_key", "n_px", "sum_red", "sum_nir"])

    sums = gi.mapInPandas(
        _sums, schema="image_key long, n_px long, sum_red long, sum_nir long"
    )
    E = [[3.0, 1.0], [1.0, 4.0]]  # endmembers (rows) × bands
    out = ucls_unmix(sums, ["sum_red", "sum_nir"], E)
    return out.select(
        "image_key", "n_px", "sum_red", "sum_nir",
        F.round(F.col("ab1") / F.col("n_px"), 6).alias("mean_ab1"),
        F.round(F.col("ab2") / F.col("n_px"), 6).alias("mean_ab2"),
    )


ORACLE_Q115 = _cte(f"""
, s AS (
  SELECT image_key, COUNT(*) AS n_px,
         CAST(SUM((image_key * 7 + gx.px * 13 + gy.py * 17) % 251) AS BIGINT) AS sum_red,
         CAST(SUM((image_key * 11 + gx.px * 5 + gy.py * 3) % 241) AS BIGINT) AS sum_nir
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
  GROUP BY image_key
)
-- E = [[3,1],[1,4]]; G = EE' = [[10,7],[7,17]], det 121,
-- U = adj(G)E/det = [[44,-11],[-11,33]]/121
SELECT image_key, n_px, sum_red, sum_nir,
       ROUND((44.0 * sum_red - 11.0 * sum_nir) / 121.0 / n_px, 6) AS mean_ab1,
       ROUND((-11.0 * sum_red + 33.0 * sum_nir) / 121.0 / n_px, 6) AS mean_ab2
FROM s
""")


def q121_isodata_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISODATA with the SPLIT step (isodata_clustering,
    imagecalc.cpp:1888-1942; addRemoveClusters split rule
    src/math/RSGISClustering.cpp:1113-1141): init k=4 → one Lloyd
    update → one assign/moments round → clusters whose mean per-dim σ
    exceeds the threshold (and n > 2·min_size) split into centre ± σ/2
    → final assignment per split centre set. All sums are integer-exact
    doubles, so every branch decision (who splits) is bit-identical to
    the relational oracle's unroll."""
    from rsgislib_spark.functions.clustering import isodata_fit, kmeans_assign

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select("pt_id", "f1", "f2", "f3")
    feats = ["f1", "f2", "f3"]
    cents = isodata_fit(
        pts, feats, k=4, n_iter=1, min_cluster_size=1, id_col="pt_id",
        min_dist_clusters=0.0, max_std_dev=450.0, min_n_clusters=1,
    )
    final = kmeans_assign(pts, feats, cents)
    return final.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.sum(F.col(c).cast("double")) / F.count("*"), 6).alias(f"mean_{c}")
            for c in feats
        ],
    )


ORACLE_Q121 = _cte("""
, pts AS (
  SELECT pt_id, CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
         CAST(f3 AS DOUBLE) AS f3
  FROM geo_points
), init AS (
  SELECT ROW_NUMBER() OVER (ORDER BY pt_id) - 1 AS c, f1 AS m1, f2 AS m2, f3 AS m3
  FROM pts ORDER BY pt_id LIMIT 4
), a1 AS (
  SELECT pt_id, f1, f2, f3, c FROM (
    SELECT p.pt_id, p.f1, p.f2, p.f3, i.c,
           ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
             (p.f1 - i.m1) * (p.f1 - i.m1) + (p.f2 - i.m2) * (p.f2 - i.m2)
             + (p.f3 - i.m3) * (p.f3 - i.m3) ASC, i.c ASC) AS rn
    FROM pts p CROSS JOIN init i
  ) t WHERE rn = 1
), upd AS (
  SELECT c, COUNT(*) AS n, SUM(f1) AS sf1, SUM(f2) AS sf2, SUM(f3) AS sf3
  FROM a1 GROUP BY c
), kcent AS (
  SELECT i.c,
         COALESCE(u.sf1 / u.n, i.m1) AS m1,
         COALESCE(u.sf2 / u.n, i.m2) AS m2,
         COALESCE(u.sf3 / u.n, i.m3) AS m3
  FROM init i LEFT JOIN upd u ON u.c = i.c
), a2 AS (
  SELECT pt_id, f1, f2, f3, c FROM (
    SELECT p.pt_id, p.f1, p.f2, p.f3, k.c,
           ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
             (p.f1 - k.m1) * (p.f1 - k.m1) + (p.f2 - k.m2) * (p.f2 - k.m2)
             + (p.f3 - k.m3) * (p.f3 - k.m3) ASC, k.c ASC) AS rn
    FROM pts p CROSS JOIN kcent k
  ) t WHERE rn = 1
), mom AS (
  SELECT c, COUNT(*) AS n,
         SUM(f1) AS s1, SUM(f2) AS s2, SUM(f3) AS s3,
         SUM(f1 * f1) AS q1, SUM(f2 * f2) AS q2, SUM(f3 * f3) AS q3
  FROM a2 GROUP BY c
), stat AS (
  SELECT c, n, s1 / n AS m1, s2 / n AS m2, s3 / n AS m3,
         SQRT(GREATEST(q1 / n - (s1 / n) * (s1 / n), 0.0)) AS d1,
         SQRT(GREATEST(q2 / n - (s2 / n) * (s2 / n), 0.0)) AS d2,
         SQRT(GREATEST(q3 / n - (s3 / n) * (s3 / n), 0.0)) AS d3
  FROM mom
), surv AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c) - 1 AS pos,
         (SELECT COUNT(*) FROM stat) AS n_surv,
         CASE WHEN (d1 + d2 + d3) / 3 > 450.0 AND n > 2 THEN 1 ELSE 0 END AS splits,
         c, n, m1, m2, m3, d1, d2, d3
  FROM stat
), cents3 AS (
  SELECT pos AS c,
         CASE WHEN splits = 1 THEN m1 + d1 / 2 ELSE m1 END AS m1,
         CASE WHEN splits = 1 THEN m2 + d2 / 2 ELSE m2 END AS m2,
         CASE WHEN splits = 1 THEN m3 + d3 / 2 ELSE m3 END AS m3
  FROM surv
  UNION ALL
  SELECT n_surv + ROW_NUMBER() OVER (ORDER BY c) - 1 AS c,
         m1 - d1 / 2 AS m1, m2 - d2 / 2 AS m2, m3 - d3 / 2 AS m3
  FROM surv WHERE splits = 1
), a3 AS (
  SELECT pt_id, f1, f2, f3, c FROM (
    SELECT p.pt_id, p.f1, p.f2, p.f3, k.c,
           ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
             (p.f1 - k.m1) * (p.f1 - k.m1) + (p.f2 - k.m2) * (p.f2 - k.m2)
             + (p.f3 - k.m3) * (p.f3 - k.m3) ASC, k.c ASC) AS rn
    FROM pts p CROSS JOIN cents3 k
  ) t WHERE rn = 1
)
SELECT c AS cluster, COUNT(*) AS n,
       ROUND(SUM(f1) / COUNT(*), 6) AS mean_f1,
       ROUND(SUM(f2) / COUNT(*), 6) AS mean_f2,
       ROUND(SUM(f3) / COUNT(*), 6) AS mean_f3
FROM a3 GROUP BY c
""")


_FCLS_SUBSET = 41  # ~50 images at sf0.01: enough spectra to hit every support
_FCLS_E = [[120.0, 30.0, 60.0], [40.0, 200.0, 100.0], [20.0, 60.0, 180.0]]


def q120_fcls_unmixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT fully-constrained spectral unmixing (spec_unmix_spts_fcls,
    specunmixing/__init__.py:418): per-image 3-band spectra (integer-sum
    means + a key-derived third band, all exactly derivable in SQL) are
    unmixed against 3 endmembers under a ≥ 0, Σa = 1 via the
    support-enumeration KKT kernel. The oracle replays the SAME
    per-support linear solvers (coefficients embedded as shortest
    round-trip doubles) with the identical feasibility threshold and
    min-residual selection, so the fully constrained optimum is
    hash-gated — no approximation."""
    from rsgislib_spark.functions.unmixing import fcls_unmix_kernel
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % _FCLS_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _spec(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = np.asarray(_FCLS_E)
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                n = w * h
                sr = int(BK.synth_band_grid(k, w, h, "red").sum())
                sn = int(BK.synth_band_grid(k, w, h, "nir").sum())
                rows.append((k, n, sr, sn))
            pdf2 = pd.DataFrame(rows, columns=["image_key", "n_px", "sum_red", "sum_nir"])
            if len(pdf2):
                X = np.stack(
                    [
                        pdf2.sum_red.to_numpy(np.float64) / pdf2.n_px.to_numpy(np.float64)
                        + (pdf2.image_key.to_numpy(np.int64) % 83),
                        pdf2.sum_nir.to_numpy(np.float64) / pdf2.n_px.to_numpy(np.float64)
                        + (pdf2.image_key.to_numpy(np.int64) * 3 % 97),
                        (pdf2.image_key.to_numpy(np.int64) * 37 % 200).astype(np.float64),
                    ],
                    axis=1,
                )
                A = fcls_unmix_kernel(X, E)
                R = X - A @ E
                pdf2["a1"], pdf2["a2"], pdf2["a3"] = A[:, 0], A[:, 1], A[:, 2]
                pdf2["res"] = (R * R).sum(1)
            else:
                pdf2["a1"] = pdf2["a2"] = pdf2["a3"] = pdf2["res"] = np.float64(0)
            yield pdf2

    out = gi.mapInPandas(
        _spec,
        schema="image_key long, n_px long, sum_red long, sum_nir long, "
        "a1 double, a2 double, a3 double, res double",
    )
    return out.select(
        "image_key", "n_px", "sum_red", "sum_nir",
        F.round("a1", 6).alias("a1"),
        F.round("a2", 6).alias("a2"),
        F.round("a3", 6).alias("a3"),
        F.round("res", 4).alias("res"),
    )


def _fcls_oracle_sql() -> str:
    """Candidate-replay oracle text: per support S the equality-
    constrained solver a_S = A·x + b (the same numpy-computed
    coefficients the kernel uses, as shortest-round-trip literals),
    feasibility a ≥ −1e-9, min-residual ROW_NUMBER selection."""
    from rsgislib_spark.functions.unmixing import fcls_support_solvers

    E = np.asarray(_FCLS_E)
    xs = ["mr", "mn", "mb"]
    cands = []
    for mi, (sel, A, b) in enumerate(fcls_support_solvers(E)):
        a_expr = {}
        for row, j in enumerate(sel):
            terms = " + ".join(
                f"({float(A[row, c])!r}) * {xs[c]}" for c in range(3)
            )
            a_expr[j] = f"({terms} + ({float(b[row])!r}))"
        full = [a_expr.get(j, "0.0") for j in range(3)]
        mix = []
        for bnd in range(3):
            mterms = " + ".join(
                f"{a_expr[j]} * ({float(E[j, bnd])!r})" for j in sel
            )
            mix.append(f"({mterms})")
        res = " + ".join(
            f"({xs[bnd]} - {mix[bnd]}) * ({xs[bnd]} - {mix[bnd]})" for bnd in range(3)
        )
        feas = " AND ".join(f"{a_expr[j]} >= -1e-9" for j in sel)
        cands.append(
            f"SELECT image_key, n_px, sum_red, sum_nir, {mi} AS mask, "
            f"{full[0]} AS a1, {full[1]} AS a2, {full[2]} AS a3, "
            f"({res}) AS res, CASE WHEN {feas} THEN 1 ELSE 0 END AS feas FROM x"
        )
    cands_sql = " UNION ALL ".join(cands)
    return _cte(f""", s AS (
  SELECT image_key, COUNT(*) AS n_px,
         CAST(SUM((image_key * 7 + gx.px * 13 + gy.py * 17) % 251) AS BIGINT) AS sum_red,
         CAST(SUM((image_key * 11 + gx.px * 5 + gy.py * 3) % 241) AS BIGINT) AS sum_nir
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {_FCLS_SUBSET} = 0
  GROUP BY image_key
),
x AS (
  SELECT image_key, n_px, sum_red, sum_nir,
         CAST(sum_red AS DOUBLE) / n_px + (image_key % 83) AS mr,
         CAST(sum_nir AS DOUBLE) / n_px + (image_key * 3 % 97) AS mn,
         CAST(image_key * 37 % 200 AS DOUBLE) AS mb
  FROM s
),
cand AS ({cands_sql}),
pick AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY image_key
    ORDER BY CASE WHEN feas = 1 THEN res ELSE 1e308 END ASC, mask ASC
  ) AS rn
  FROM cand
)
SELECT image_key, n_px, sum_red, sum_nir,
       ROUND(a1, 6) AS a1, ROUND(a2, 6) AS a2, ROUND(a3, 6) AS a3,
       ROUND(res, 4) AS res
FROM pick WHERE rn = 1
""")


ORACLE_Q120 = _fcls_oracle_sql()


def q116_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data filter (the composite a 100 TB corpus
    pipeline runs): per-document token/repetition quality signals +
    exact near-identical dedup (md5 canonical = min doc_id per text
    hash), then a per-language funnel report. One plan: the quality
    stats reuse q112's word explode, dedup is one hash groupBy; every
    count is integer-exact."""
    from rsgislib_spark.functions.textops import repetition_stats

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    stats = repetition_stats(docs, "text", "doc_id")
    canon = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("canon_id")
    )
    joined = (
        docs.join(stats, "doc_id")
        .withColumn("h", F.md5("text"))
        .join(canon, "h")
        .withColumn("is_dup", (F.col("doc_id") != F.col("canon_id")).cast("int"))
        .withColumn(
            "low_quality",
            ((F.col("n_words") < 20) | (F.col("dup_word_frac") > 0.7)).cast("int"),
        )
    )
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").alias("n_dropped_dup"),
        F.sum(F.when((F.col("is_dup") == 0) & (F.col("low_quality") == 1), 1)
              .otherwise(0)).alias("n_dropped_quality"),
        F.sum(F.when((F.col("is_dup") == 0) & (F.col("low_quality") == 0), 1)
              .otherwise(0)).alias("n_kept"),
        F.sum(F.when((F.col("is_dup") == 0) & (F.col("low_quality") == 0),
                     F.col("doc_id")).otherwise(0)).alias("kept_id_sum"),
    )


ORACLE_Q116 = """
WITH docs AS (
  SELECT doc_id, text, lang, string_split(text, ' ') AS ws FROM documents
), words AS (
  SELECT doc_id, ws[i.i] AS w, i.i AS pos
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) i
), base AS (
  SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT w) AS n_distinct
  FROM words GROUP BY 1
), canon AS (
  SELECT md5(text) AS h, MIN(doc_id) AS canon_id FROM documents GROUP BY 1
), j AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN d.doc_id != c.canon_id THEN 1 ELSE 0 END AS is_dup,
         CASE WHEN b.n_words < 20
                OR ROUND(1.0 - b.n_distinct / b.n_words, 6) > 0.7
              THEN 1 ELSE 0 END AS low_quality
  FROM documents d
  JOIN base b ON b.doc_id = d.doc_id
  JOIN canon c ON c.h = md5(d.text)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dropped_dup,
       CAST(SUM(CASE WHEN is_dup = 0 AND low_quality = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_quality,
       CAST(SUM(CASE WHEN is_dup = 0 AND low_quality = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN is_dup = 0 AND low_quality = 0 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM j GROUP BY lang
"""


def q117_polygonise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster → vector conversion family (polygonise_raster_to_vec_lyr,
    vectorutils/createvectors.py:20-117; vectorise_pxls_to_pts :119-180):
    each class region decomposes into maximal pixel-aligned rectangles
    (merge identical horizontal runs down consecutive rows — the
    deterministic, SQL-replayable polygonise), plus pixel-centroid
    points for one target value. Per (image, class): pixel count, run
    count, rectangle-part count, target-value point count and exact
    centroid-x sum."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.operators.segmentation import polygonise_rect_parts

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                v = BK.synth_band_grid(k, w, h, "red")
                cls = v // 64
                parts = polygonise_rect_parts(cls)
                runs_start = np.ones_like(cls, bool)
                runs_start[:, 1:] = cls[:, 1:] != cls[:, :-1]
                is42 = v == 42
                xs42 = np.nonzero(is42)[1]
                for c in np.unique(cls):
                    sel = cls == c
                    psel = parts[parts[:, 0] == c]
                    n42 = int((is42 & sel).sum())
                    sx = float(((np.nonzero(is42 & sel)[1] + 0.5) * 10.0).sum())
                    rows.append(
                        (
                            k, int(c), int(sel.sum()),
                            int(runs_start[sel].sum()),
                            len(psel),
                            int(((psel[:, 3] - psel[:, 1]) * (psel[:, 4] - psel[:, 2])).sum()),
                            n42, sx,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_key", "cls", "n_px", "n_runs", "n_parts",
                         "parts_area", "n_val42", "sum_x42"],
            )

    return gi.mapInPandas(
        _run,
        schema="image_key long, cls long, n_px long, n_runs long, n_parts long, "
        "parts_area long, n_val42 long, sum_x42 double",
    )


ORACLE_Q117 = _cte(f""",
px AS MATERIALIZED (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS v,
         ((image_key * 7 + gx.px * 13 + gy.py * 17) % 251) // 64 AS cls
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), runs AS MATERIALIZED (
  SELECT image_key, py, MIN(cls) AS cls, MIN(px) AS x0, MAX(px) + 1 AS x1
  FROM (
    SELECT *, SUM(flag) OVER (PARTITION BY image_key, py ORDER BY px) AS grp
    FROM (
      SELECT *, CASE WHEN px = 0
                     OR cls != LAG(cls) OVER (PARTITION BY image_key, py ORDER BY px)
                     THEN 1 ELSE 0 END AS flag
      FROM px
    )
  ) GROUP BY image_key, py, grp
), rect AS (
  SELECT image_key, cls, x0, x1, py,
         CASE WHEN py = LAG(py) OVER (PARTITION BY image_key, cls, x0, x1 ORDER BY py) + 1
              THEN 0 ELSE 1 END AS new_rect
  FROM runs
), per_run AS (
  SELECT image_key, cls,
         CAST(COUNT(*) AS BIGINT) AS n_runs,
         CAST(SUM(x1 - x0) AS BIGINT) AS n_px,
         CAST(SUM(new_rect) AS BIGINT) AS n_parts
  FROM rect GROUP BY 1, 2
), pts AS (
  SELECT image_key, cls,
         CAST(SUM(CASE WHEN v = 42 THEN 1 ELSE 0 END) AS BIGINT) AS n_val42,
         SUM(CASE WHEN v = 42 THEN (px + 0.5) * 10.0 ELSE 0.0 END) AS sum_x42
  FROM px GROUP BY 1, 2
)
SELECT r.image_key, r.cls, r.n_px, r.n_runs, r.n_parts,
       r.n_px AS parts_area,
       p.n_val42, p.sum_x42
FROM per_run r JOIN pts p ON p.image_key = r.image_key AND p.cls = r.cls
""")


def q118_chip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-centred training-chip extraction (zonalstats chip tensors,
    zonalstats/__init__.py:1674-1904): every (covering image, point)
    pair yields a FULL 8×8 chip, edge chips re-anchored inside the
    image (the square-block convention). The oracle replays the floor
    pixel lookup, the clamp, and the 64-term lattice chip sum."""
    from rsgislib_spark.operators.chips import extract_chips

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark))
    return extract_chips(gi, _geo_points(spark), chip_size=8)


ORACLE_Q118 = _cte(f""",
j AS (
  SELECT p.pt_id, g.image_key, g.w, g.h,
         CAST(FLOOR((p.x - g.minx) / 10.0) AS BIGINT) AS px,
         CAST(FLOOR((g.maxy - p.y) / 10.0) AS BIGINT) AS py
  FROM geo_points p JOIN geo_images g
    ON p.x >= g.minx AND p.x < g.maxx AND p.y > g.miny AND p.y <= g.maxy
), a AS (
  SELECT pt_id, image_key,
         LEAST(GREATEST(px - 4, 0), w - 8) AS x0,
         LEAST(GREATEST(py - 4, 0), h - 8) AS y0
  FROM j
)
SELECT a.pt_id, a.image_key, a.x0, a.y0,
       CAST(SUM((a.image_key * 7 + (a.x0 + dx.i) * 13 + (a.y0 + dy.i) * 17) % 251) AS BIGINT) AS chip_sum
FROM a,
LATERAL (SELECT unnest(generate_series(0, 7)) AS i) dx,
LATERAL (SELECT unnest(generate_series(0, 7)) AS i) dy
GROUP BY 1, 2, 3, 4
""")


def q26_zone_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbour pairs (find_neighbours, rastergis.cpp:1907-1914): zones
    whose rectangles intersect, each unordered pair once. Broadcast
    range self-join — zone side is small by design."""
    load_views(spark, sf_dir)
    z = _geo_zones(spark).select("zone_id", "minx", "miny", "maxx", "maxy")
    a, b = z.alias("a"), F.broadcast(z.alias("b"))
    return (
        a.join(
            b,
            (F.col("a.zone_id") < F.col("b.zone_id"))
            & (F.col("a.minx") <= F.col("b.maxx")) & (F.col("a.maxx") >= F.col("b.minx"))
            & (F.col("a.miny") <= F.col("b.maxy")) & (F.col("a.maxy") >= F.col("b.miny")),
        )
        .select(F.col("a.zone_id").alias("zone_a"), F.col("b.zone_id").alias("zone_b"))
    )


ORACLE_Q26 = _cte("""
SELECT a.zone_id AS zone_a, b.zone_id AS zone_b
FROM geo_zones a JOIN geo_zones b
ON a.zone_id < b.zone_id
AND a.minx <= b.maxx AND a.maxx >= b.minx
AND a.miny <= b.maxy AND a.maxy >= b.miny
""")


def q27_meanlit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-lit conditional stats (populate_rat_with_meanlit_stats,
    rastergis.cpp:2028-2062): group mean first pass, join back, aggregate
    only rows above their group mean."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    means = li.groupBy("l_returnflag").agg(F.avg("l_quantity").alias("grp_mean"))
    return (
        li.join(F.broadcast(means), "l_returnflag")
        .filter(F.col("l_quantity") > F.col("grp_mean"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.sum("l_quantity"), 2).alias("sum_above"),
            F.round(F.avg("l_quantity"), 6).alias("avg_above"),
            F.min("l_quantity").alias("min_above"),
        )
    )


ORACLE_Q27 = """
WITH m AS (SELECT l_returnflag, AVG(l_quantity) AS grp_mean FROM lineitem GROUP BY 1)
SELECT l.l_returnflag, COUNT(*) AS n_above,
       ROUND(SUM(l_quantity), 2) AS sum_above,
       ROUND(AVG(l_quantity), 6) AS avg_above,
       MIN(l_quantity) AS min_above
FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
WHERE l.l_quantity > m.grp_mean
GROUP BY l.l_returnflag
"""


def q28_stratum_location_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clumps_spatial_location + clumps_spatial_extent
    (rastergis.cpp:1692-1739): per-stratum centroid (coordinate means)
    and min/max bbox."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark).withColumn("stratum", (F.col("pt_id") % 5).cast("long"))
    return pts.groupBy("stratum").agg(
        F.count("*").alias("n"),
        F.round(F.avg("x"), 6).alias("cx"),
        F.round(F.avg("y"), 6).alias("cy"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


ORACLE_Q28 = _cte("""
SELECT pt_id % 5 AS stratum, COUNT(*) AS n,
       ROUND(AVG(x), 6) AS cx, ROUND(AVG(y), 6) AS cy,
       MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
FROM geo_points GROUP BY 1
""")


def q29_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation — free via Catalyst (SURVEY §2.4 notes the
    reference lacks grouping sets entirely)."""
    load_views(spark, sf_dir)
    c = spark.table("customer")
    n = spark.table("nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return (
        j.rollup("n_name", "c_mktsegment")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
        .select(
            F.coalesce("n_name", F.lit("<all>")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("<all>")).alias("segment"),
            "n_cust", "sum_bal",
        )
    )


ORACLE_Q29 = """
SELECT COALESCE(n_name, '<all>') AS nation,
       COALESCE(c_mktsegment, '<all>') AS segment,
       COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
"""


# ----------------------------------------------------------- dedup / embed

def q38_embed_near_dup(
    spark: SparkSession, sf_dir: str, max_broadcast_rows: int = 500_000
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — JVM-side dot product via
    F.aggregate/zip_with (no Python UDF in the pair loop). This is the
    O(N²) correctness BASELINE for q41/q42; it broadcasts one full side,
    so it is fenced with the same explicit row ceiling as
    ``cosine_block_pairs`` — beyond it, use the LSH/IVF scale paths
    (functions.similarity)."""
    load_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"q38_embed_near_dup broadcasts one full side of an O(N²) "
            f"crossJoin: {n} rows > max_broadcast_rows={max_broadcast_rows}. "
            "Use lsh_bucketed_topk/ivf_topk (functions.similarity) instead."
        )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot / (nrm(F.col("va")) * nrm(F.col("vb"))), 4))
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", "cos")
    )
    return pairs


ORACLE_Q38 = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.35
"""


def q93_minhash_128perm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH at the PRODUCTION configuration — 128 permutations /
    16 bands of 8 rows (the classic web-dedup setting; the catalog's
    q35 uses a 4-perm toy config) — so the scale configuration, not the
    toy one, is what the driver gates. Same md5-min hash family as q35
    (oracle recomputes signatures byte-identically); plan shape is
    unchanged: token explode → 128 min-aggs → 16-band self-join on the
    band signature, candidates only."""
    from rsgislib_spark.functions.dedup import minhash_band_pairs

    load_views(spark, sf_dir)
    pairs = minhash_band_pairs(spark.table("documents"), n_seeds=128, n_bands=16)
    return pairs.groupBy().agg(F.count("*").alias("n_candidate_pairs")).crossJoin(
        pairs.groupBy("id_a").agg(F.count("*").alias("c")).agg(
            F.count("*").alias("n_docs_with_candidates")
        )
    )


def _build_oracle_q93(n_seeds: int = 128, n_bands: int = 16) -> str:
    rows = n_seeds // n_bands
    sig_cols = ",\n         ".join(
        f"MIN(md5(token || '#seed{s}')) AS mh_{s}" for s in range(n_seeds)
    )
    band_sel = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {cat} AS sig FROM sig".format(
            b=b, cat=" || ".join(f"mh_{b * rows + r}" for r in range(rows))
        )
        for b in range(n_bands)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM toks GROUP BY doc_id
), bands AS (
{band_sel}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT (SELECT COUNT(*) FROM pairs) AS n_candidate_pairs,
       (SELECT COUNT(DISTINCT id_a) FROM pairs) AS n_docs_with_candidates
"""


ORACLE_Q93 = _build_oracle_q93()


def q95_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP assignment — the stage after candidate generation
    that every real dedup pipeline needs (verified pairs → duplicate
    groups → canonical doc): exact token-Jaccard >= 0.8 pairs (the q36
    edge set; in production the LSH candidates feed the same verify) →
    distributed connected components (min-label propagation + pointer
    jumping, functions/dedup.py — the edge-list analogue of the
    reference's union-find clumping, segmentation/RSGISClumpPnts).
    Output: one row per duplicate group, group_id = min doc id (the
    keep-first canonical), n_docs = group size. Oracle: DuckDB
    recursive-CTE transitive closure over the same pairs. At sf0.01 the
    synthetic docs give 10 groups (one 342-doc template cluster + nine
    genuine dup pairs), so the gate discriminates group structure, not
    just pair counts."""
    from rsgislib_spark.functions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    load_views(spark, sf_dir)
    pairs = ngram_jaccard_pairs(spark.table("documents"), threshold=0.8)
    labels = connected_components(pairs, "id_a", "id_b")
    return labels.groupBy(F.col("label").alias("group_id")).agg(
        F.count("*").alias("n_docs")
    )


ORACLE_Q95 = """
WITH RECURSIVE toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
             JOIN sizes sb ON inter.id_b = sb.doc_id
  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_tok + sb.n_tok - inter), 6) >= 0.8
), edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), lab AS (
  SELECT u AS node, LEAST(u, MIN(v)) AS group_id FROM reach GROUP BY u
)
SELECT CAST(group_id AS BIGINT) AS group_id, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM lab GROUP BY group_id
"""


# ------------------------------------------------------------- sampling

def q43_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic sampling (take_random_sample family, SURVEY
    §2.6) — sample is a pure function of the row key, so it is stable
    across partitioning, retries, and cluster size (seeded RNG is not)."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit("#"), F.col("l_linenumber").cast("string")
    )
    sampled = li.filter(F.substring(F.md5(key), 1, 1).isin("0", "1", "2", "3"))
    return sampled.groupBy("l_returnflag").agg(
        F.count("*").alias("n_sampled"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


ORACLE_Q43 = """
SELECT l_returnflag, COUNT(*) AS n_sampled, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)), 1, 1)
      IN ('0', '1', '2', '3')
GROUP BY l_returnflag
"""


# --------------------------------------------------------------- set ops

def q44_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION cardinalities (vector merge/difference
    family, SURVEY §2.7) — distinct set semantics both engines."""
    load_views(spark, sf_dir)
    a = spark.table("customer").filter("c_mktsegment = 'BUILDING'").select("c_custkey")
    b = (
        spark.table("orders").filter("o_totalprice > 150000").select(
            F.col("o_custkey").alias("c_custkey")
        ).distinct()
    )
    # one plan, one job — not three driver-side .count() actions
    def _counted(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        _counted("intersect", a.intersect(b))
        .unionByName(_counted("a_except_b", a.subtract(b)))
        .unionByName(_counted("union", a.union(b).distinct()))
    )


ORACLE_Q44 = """
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000)
SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT 'a_except_b', COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
UNION ALL
SELECT 'union', COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)
"""


# ---------------------------------------------------- comparison metrics

def q45_band_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calculate_img_band_rmse + PSNR parity metric (imagecalc.cpp:2030;
    are_imgs_equal philosophy) between the red and nir synthetic bands —
    integer SSD accumulated by the numpy kernel."""
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _ssd(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                red = BK.synth_band_grid(k, w, h, "red")
                nir = BK.synth_band_grid(k, w, h, "nir")
                rows.append((k, w * h, BK.rmse_sq_sum(red, nir)))
            yield pd.DataFrame(rows, columns=["image_key", "n_px", "ssd"])

    out = gi.mapInPandas(_ssd, schema="image_key long, n_px long, ssd long")
    mse = F.col("ssd") / F.col("n_px")
    return out.select(
        "image_key", "n_px", "ssd",
        F.round(F.sqrt(mse), 6).alias("rmse"),
        F.round(10.0 * F.log10(F.lit(255.0 * 255.0) / mse), 3).alias("psnr_db"),
    )


ORACLE_Q45 = _cte(f""", {PIXELS_CTE}
SELECT image_key, COUNT(*) AS n_px,
       CAST(SUM((red - nir) * (red - nir)) AS BIGINT) AS ssd,
       ROUND(SQRT(CAST(SUM((red - nir) * (red - nir)) AS DOUBLE) / COUNT(*)), 6) AS rmse,
       ROUND(10.0 * LOG10(255.0 * 255.0 / (CAST(SUM((red - nir) * (red - nir)) AS DOUBLE) / COUNT(*))), 3) AS psnr_db
FROM pixels GROUP BY image_key
""")


def q46_prop_true_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calc_prop_true_exp (imagecalc.cpp:2223-2245): proportion of rows
    where a boolean expression holds, per group."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    cond = (F.col("l_discount") > 0.05) & (F.col("l_quantity") < 25)
    return li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(cond.cast("int")).alias("n_true"),
        F.round(F.avg(cond.cast("int")), 6).alias("prop_true"),
    )


ORACLE_Q46 = """
SELECT l_linestatus, COUNT(*) AS n,
       CAST(SUM(CASE WHEN l_discount > 0.05 AND l_quantity < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       ROUND(AVG(CASE WHEN l_discount > 0.05 AND l_quantity < 25 THEN 1 ELSE 0 END), 6) AS prop_true
FROM lineitem GROUP BY l_linestatus
"""


def q47_unpack_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpack_pxl_vals (imageutils.cpp:2749-2760): bit-plane expansion of
    a flags byte — shiftright + AND column expressions, fully codegen'd."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem")
    flags = F.col("l_orderkey") % 256
    aggs = [
        F.sum(F.shiftright(flags, i).bitwiseAND(F.lit(1))).alias(f"bit{i}")
        for i in range(8)
    ]
    return li.groupBy("l_returnflag").agg(F.count("*").alias("n"), *aggs)


ORACLE_Q47 = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM((l_orderkey % 256 >> 0) & 1) AS BIGINT) AS bit0,
       CAST(SUM((l_orderkey % 256 >> 1) & 1) AS BIGINT) AS bit1,
       CAST(SUM((l_orderkey % 256 >> 2) & 1) AS BIGINT) AS bit2,
       CAST(SUM((l_orderkey % 256 >> 3) & 1) AS BIGINT) AS bit3,
       CAST(SUM((l_orderkey % 256 >> 4) & 1) AS BIGINT) AS bit4,
       CAST(SUM((l_orderkey % 256 >> 5) & 1) AS BIGINT) AS bit5,
       CAST(SUM((l_orderkey % 256 >> 6) & 1) AS BIGINT) AS bit6,
       CAST(SUM((l_orderkey % 256 >> 7) & 1) AS BIGINT) AS bit7
FROM lineitem GROUP BY l_returnflag
"""


def q48_stretch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear stretch to 8-bit + histogram (stretch_img,
    imageutils.cpp:1927-2035): two-pass — global min/max agg broadcast
    back, then integer-cent arithmetic so binning is exact."""
    load_views(spark, sf_dir)
    li = spark.table("lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    mm = li.agg(F.min("cents").alias("minc"), F.max("cents").alias("maxc"))
    j = li.crossJoin(F.broadcast(mm))
    bin_ = F.floor(
        (F.col("cents") - F.col("minc")) * 256.0 / (F.col("maxc") - F.col("minc") + 1)
    ).cast("long")
    return j.select(bin_.alias("bin")).groupBy("bin").agg(F.count("*").alias("cnt"))


ORACLE_Q48 = """
WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
     mm AS (SELECT MIN(cents) AS minc, MAX(cents) AS maxc FROM c)
SELECT CAST(FLOOR((cents - minc) * 256.0 / (maxc - minc + 1)) AS BIGINT) AS bin,
       COUNT(*) AS cnt
FROM c CROSS JOIN mm GROUP BY 1
"""


# ------------------------------------------------------------ as-of / time

def q51_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest-in-time predecessor — the reference's
    gen_timeseries_fill_composite_img shape, imageutils.cpp:2706-2721):
    for every purchase, the user's latest prior-or-same-time click.
    Single-pass window with IGNORE NULLS — no range join, no shuffle
    beyond one partition-by-user sort."""
    load_views(spark, sf_dir)
    ev = spark.table("events")
    win = (
        W.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    out = (
        ev.withColumn("last_click_id", F.last(click_id, ignorenulls=True).over(win))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.coalesce("last_click_id", F.lit(-1)).alias("last_click_id"),
        )
    )
    return out


ORACLE_Q51 = """
SELECT event_id, user_id, COALESCE(last_click_id, -1) AS last_click_id FROM (
  SELECT event_id, user_id, event_type,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
  FROM events
) t WHERE event_type = 'purchase'
"""


def q96_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join via time-bucket blocking
    (operators/temporal.range_join_bucketed): per user, every click/view
    landing inside a purchase's attribution window [ts, ts + (1..48) h].
    A naive range join plans as BroadcastNestedLoopJoin; the bucketed
    path is a plain (user, bucket) equi-join + exact containment filter
    — exact because an interval containing t also covers t's bucket.
    Epoch-microsecond arithmetic: any engine-level timestamp offset
    shifts points and interval bounds equally, so containment (and the
    output, which has no timestamps) is shift-invariant."""
    from rsgislib_spark.operators.temporal import range_join_bucketed

    load_views(spark, sf_dir)
    ev = spark.table("events")
    hours = (F.col("event_id") % 48 + 1).cast("long")
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + hours * F.lit(3600000000)).alias("end_us"),
        F.col("event_id").alias("purchase_id"),
    )
    pt = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"), F.col("event_id").alias("point_id")
    )
    joined = range_join_bucketed(
        pt, iv, "t_us", "start_us", "end_us", by=["user_id"],
        bucket=48 * 3600 * 1_000_000,
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("point_id").alias("n_points"),
        F.countDistinct("purchase_id").alias("n_windows"),
    )


ORACLE_Q96 = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + (event_id % 48 + 1) * 3600000000 AS end_us,
         event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
), pt AS (
  SELECT user_id, epoch_us(ts) AS t_us, event_id AS point_id
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT pt.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT pt.point_id) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT iv.purchase_id) AS BIGINT) AS n_windows
FROM pt JOIN iv ON pt.user_id = iv.user_id
              AND pt.t_us BETWEEN iv.start_us AND iv.end_us
GROUP BY pt.user_id
"""


def q97_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (functions/packing.pack_sequences): pack
    each source's documents, in doc_id order, into 512-token training
    sequences by next-fit (fits → same bin, else new bin; oversize doc
    gets its own bin). Per-source stats close over the whole greedy
    state chain, so the oracle (a DuckDB recursive CTE replaying the
    identical scan) discriminates every step."""
    from rsgislib_spark.functions.packing import pack_sequences

    load_views(spark, sf_dir)
    docs = spark.table("documents").select(
        "source",
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).cast("long").alias("n_tok"),
    )
    packed = pack_sequences(docs, "source", "doc_id", "n_tok", capacity=512)
    return packed.groupBy("source").agg(
        (F.max("bin") + 1).alias("n_bins"),
        F.sum("n_tok").alias("total_tokens"),
        F.count("*").alias("n_docs"),
        F.max("fill").alias("max_fill"),
    )


ORACLE_Q97 = """
WITH RECURSIVE d AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), pack(source, rn, n_tok, bin, fill) AS (
  SELECT source, rn, n_tok, CAST(0 AS BIGINT), n_tok FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.rn, d.n_tok,
         CASE WHEN p.fill + d.n_tok <= 512 THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.fill + d.n_tok <= 512 THEN p.fill + d.n_tok ELSE d.n_tok END
  FROM pack p JOIN d ON d.source = p.source AND d.rn = p.rn + 1
)
SELECT source, CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(fill) AS BIGINT) AS max_fill
FROM pack GROUP BY source
"""


# ------------------------------------------------------------- covariance

def q52_feature_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix entries (the agg half of get_pca_eigen_vector,
    imagecalc/__init__.py:594-647; SVD of the 3×3 result happens on the
    driver). Manual moment formula over integer sums — cross-engine exact."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    sums = pts.agg(
        F.count("*").alias("n"),
        *[F.sum(c).cast("long").alias(f"s_{c}") for c in ("f1", "f2", "f3")],
        *[
            F.sum(F.col(a) * F.col(b)).cast("long").alias(f"s_{a}{b}")
            for a, b in (("f1", "f1"), ("f1", "f2"), ("f1", "f3"), ("f2", "f2"), ("f2", "f3"), ("f3", "f3"))
        ],
    )
    n = F.col("n").cast("double")

    def cov(ab, a, b):
        return F.round((F.col(f"s_{ab}") - F.col(f"s_{a}") * F.col(f"s_{b}") / n) / n, 6)

    return sums.select(
        "n",
        cov("f1f1", "f1", "f1").alias("var_f1"),
        cov("f2f2", "f2", "f2").alias("var_f2"),
        cov("f3f3", "f3", "f3").alias("var_f3"),
        cov("f1f2", "f1", "f2").alias("cov_f1f2"),
        cov("f1f3", "f1", "f3").alias("cov_f1f3"),
        cov("f2f3", "f2", "f3").alias("cov_f2f3"),
    )


ORACLE_Q52 = _cte("""
, s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(f1) AS BIGINT) AS s_f1, CAST(SUM(f2) AS BIGINT) AS s_f2, CAST(SUM(f3) AS BIGINT) AS s_f3,
         CAST(SUM(f1*f1) AS BIGINT) AS s_f1f1, CAST(SUM(f1*f2) AS BIGINT) AS s_f1f2,
         CAST(SUM(f1*f3) AS BIGINT) AS s_f1f3, CAST(SUM(f2*f2) AS BIGINT) AS s_f2f2,
         CAST(SUM(f2*f3) AS BIGINT) AS s_f2f3, CAST(SUM(f3*f3) AS BIGINT) AS s_f3f3
  FROM geo_points
)
SELECT n,
       ROUND((s_f1f1 - CAST(s_f1 AS DOUBLE) * s_f1 / n) / n, 6) AS var_f1,
       ROUND((s_f2f2 - CAST(s_f2 AS DOUBLE) * s_f2 / n) / n, 6) AS var_f2,
       ROUND((s_f3f3 - CAST(s_f3 AS DOUBLE) * s_f3 / n) / n, 6) AS var_f3,
       ROUND((s_f1f2 - CAST(s_f1 AS DOUBLE) * s_f2 / n) / n, 6) AS cov_f1f2,
       ROUND((s_f1f3 - CAST(s_f1 AS DOUBLE) * s_f3 / n) / n, 6) AS cov_f1f3,
       ROUND((s_f2f3 - CAST(s_f2 AS DOUBLE) * s_f3 / n) / n, 6) AS cov_f2f3
FROM s
""")


# ------------------------------------------------------------ kNN variants

def q53_knn_chebyshev_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply_rat_knn with Chebyshev distance + mode summary
    (metrics enum python/rsgislib/__init__.py:160-166, summary :168-177;
    RSGISRATKNN.cpp:390-420). k=5, integer distance, tie-break on
    (count desc, label asc) like the reference's first-max scan."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    train = pts.filter("is_train = 1").select(
        F.col("pt_id").alias("train_id"),
        F.col("f1").alias("t1"), F.col("f2").alias("t2"), F.col("f3").alias("t3"),
        (F.col("v").cast("long") % 5).alias("lab"),
    )
    ap = pts.filter("is_train = 0").select("pt_id", "f1", "f2", "f3")
    cheb = F.greatest(
        F.abs(F.col("f1") - F.col("t1")),
        F.abs(F.col("f2") - F.col("t2")),
        F.abs(F.col("f3") - F.col("t3")),
    )
    j = ap.crossJoin(F.broadcast(train)).withColumn("d", cheb)
    topk = (
        j.withColumn(
            "rn", F.row_number().over(W.partitionBy("pt_id").orderBy(F.asc("d"), F.asc("train_id")))
        ).filter(F.col("rn") <= 5)
    )
    counts = topk.groupBy("pt_id", "lab").agg(F.count("*").alias("c"))
    pick = W.partitionBy("pt_id").orderBy(F.desc("c"), F.asc("lab"))
    return (
        counts.withColumn("rk", F.row_number().over(pick))
        .filter("rk = 1")
        .select("pt_id", F.col("lab").alias("knn_mode_lab"), F.col("c").alias("votes"))
    )


ORACLE_Q53 = _cte("""
, train AS (
  SELECT pt_id AS train_id, f1 t1, f2 t2, f3 t3, CAST(v AS BIGINT) % 5 AS lab
  FROM geo_points WHERE is_train = 1
), ap AS (SELECT pt_id, f1, f2, f3 FROM geo_points WHERE is_train = 0),
j AS (
  SELECT ap.pt_id, train.train_id, train.lab,
         GREATEST(ABS(f1 - t1), ABS(f2 - t2), ABS(f3 - t3)) AS d
  FROM ap CROSS JOIN train
), topk AS (
  SELECT pt_id, lab FROM (
    SELECT pt_id, lab, ROW_NUMBER() OVER (PARTITION BY pt_id ORDER BY d ASC, train_id ASC) AS rn
    FROM j
  ) WHERE rn <= 5
), counts AS (
  SELECT pt_id, lab, COUNT(*) AS c FROM topk GROUP BY 1, 2
)
SELECT pt_id, lab AS knn_mode_lab, c AS votes FROM (
  SELECT pt_id, lab, c, ROW_NUMBER() OVER (PARTITION BY pt_id ORDER BY c DESC, lab ASC) AS rk
  FROM counts
) WHERE rk = 1
""")


def q54_majority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_class_majority (rastergis.cpp:1887-1906): label each image with
    the majority class among bbox-intersecting zones; ties → class asc."""
    load_views(spark, sf_dir)
    gi = _geo_images(spark).select("image_key", "minx", "miny", "maxx", "maxy")
    z = _geo_zones(spark).select(
        F.col("minx").alias("zminx"), F.col("miny").alias("zminy"),
        F.col("maxx").alias("zmaxx"), F.col("maxy").alias("zmaxy"), "class_name",
    )
    j = gi.join(
        F.broadcast(z),
        (F.col("minx") <= F.col("zmaxx")) & (F.col("maxx") >= F.col("zminx"))
        & (F.col("miny") <= F.col("zmaxy")) & (F.col("maxy") >= F.col("zminy")),
    )
    counts = j.groupBy("image_key", "class_name").agg(F.count("*").alias("c"))
    pick = W.partitionBy("image_key").orderBy(F.desc("c"), F.asc("class_name"))
    return (
        counts.withColumn("rk", F.row_number().over(pick))
        .filter("rk = 1")
        .select("image_key", F.col("class_name").alias("majority_class"), F.col("c").alias("votes"))
    )


ORACLE_Q54 = _cte("""
, j AS (
  SELECT i.image_key, z.class_name
  FROM geo_images i JOIN geo_zones z
  ON i.minx <= z.maxx AND i.maxx >= z.minx AND i.miny <= z.maxy AND i.maxy >= z.miny
), counts AS (
  SELECT image_key, class_name, COUNT(*) AS c FROM j GROUP BY 1, 2
)
SELECT image_key, class_name AS majority_class, c AS votes FROM (
  SELECT image_key, class_name, c,
         ROW_NUMBER() OVER (PARTITION BY image_key ORDER BY c DESC, class_name ASC) AS rk
  FROM counts
) WHERE rk = 1
""")


def q55_salted_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's deterministic hot-cell salted join (operators.salting)
    vs a plain-SQL cell join oracle — proves salting changes only the
    physical key distribution, never the result (north-rule skew
    strategy, SURVEY §4.2). hot_threshold is set low so salting actually
    triggers at sf0.01."""
    from rsgislib_spark.operators.salting import salted_cell_join

    load_views(spark, sf_dir)
    gi = _geo_images(spark).withColumn(
        "cell",
        F.floor(F.col("minx") / CELL).cast("long") * F.lit(GRID_DIM)
        + F.floor(F.col("miny") / CELL).cast("long"),
    ).select("image_key", "cell")
    z = _geo_zones(spark).select(
        "zone_id",
        F.floor(F.col("minx") / CELL).cast("long").alias("cx0"),
        F.floor(F.col("maxx") / CELL).cast("long").alias("cx1"),
        F.floor(F.col("miny") / CELL).cast("long").alias("cy0"),
        F.floor(F.col("maxy") / CELL).cast("long").alias("cy1"),
    )
    zone_cells = (
        z.withColumn("cx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("cy", F.explode(F.sequence("cy0", "cy1")))
        .select("zone_id", (F.col("cx") * GRID_DIM + F.col("cy")).alias("cell"))
    )
    out = salted_cell_join(
        gi, zone_cells, big_id="image_key", n_salts=4, hot_threshold=20
    )
    return out.select("image_key", "zone_id")


ORACLE_Q55 = _cte(f"""
SELECT i.image_key, z.zone_id
FROM geo_images i JOIN geo_zones z
ON FLOOR(i.minx / {CELL}) BETWEEN FLOOR(z.minx / {CELL}) AND FLOOR(z.maxx / {CELL})
AND FLOOR(i.miny / {CELL}) BETWEEN FLOOR(z.miny / {CELL}) AND FLOOR(z.maxy / {CELL})
""")


# ------------------------------------------------- multimodal (rows-only)

def q60_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image-payload pipeline on the input_hint table (real
    bytes): decode (kernels.codecs) → per-image pixel stats + phash
    verify + PSNR-vs-reencode ≥ 40 dB check, aggregated per format.

    Rows-only (DuckDB cannot decode the payload); per-row invariants are
    additionally asserted in tests/test_operators.py. Data is the
    deterministic seeded generator (datagen) — no external input.

    Payloads cross the boundary via mapInArrow + codecs.arrow_batch_cols
    (zero-copy views) — the repo's Arrow-boundary rule; each stored
    payload and its re-encode roundtrip decode once through
    codecs.decode_image, so no row depends on its batch mates."""
    from rsgislib_spark import datagen
    from rsgislib_spark.kernels import codecs

    pdf = datagen.gen_images(150, seed=42)
    sdf = spark.createDataFrame(
        pdf[["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]]
    ).repartition(8)

    def _proc(it):
        import pyarrow as pa

        from rsgislib_spark.kernels.phash import phash64

        for b in it:
            if not b.num_rows:
                continue
            views, ws, hs, fmts, phashes = codecs.arrow_batch_cols(
                b, "bytes", "w", "h", "fmt", "phash"
            )
            out = {"fmt": [], "px_mean": [], "px_std": [], "phash_ok": [], "psnr_ok": []}
            for k in range(b.num_rows):
                h, w = int(hs[k]), int(ws[k])
                img = codecs.decode_image(views[k], fmts[k], h, w)
                rt = codecs.decode_image(codecs.encode_image(img, fmts[k]), fmts[k], h, w)
                p_db = codecs.psnr(img.astype(np.float64), rt.astype(np.float64))
                out["fmt"].append(fmts[k])
                out["px_mean"].append(float(img.mean()))
                out["px_std"].append(float(img.std()))
                out["phash_ok"].append(
                    int(phash64(img)) == int(phashes[k]) if fmts[k] != "jpg" else True
                )
                out["psnr_ok"].append(bool(p_db >= 40.0))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["fmt"], pa.string()),
                    pa.array(out["px_mean"], pa.float64()),
                    pa.array(out["px_std"], pa.float64()),
                    pa.array(out["phash_ok"], pa.bool_()),
                    pa.array(out["psnr_ok"], pa.bool_()),
                ],
                names=["fmt", "px_mean", "px_std", "phash_ok", "psnr_ok"],
            )

    stats = sdf.select("bytes", "w", "h", "fmt", "phash").mapInArrow(
        _proc, schema="fmt string, px_mean double, px_std double, phash_ok boolean, psnr_ok boolean"
    )
    return stats.groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.round(F.avg("px_mean"), 2).alias("avg_px_mean"),
        F.sum(F.col("phash_ok").cast("int")).alias("n_phash_ok"),
        F.sum(F.col("psnr_ok").cast("int")).alias("n_psnr_ok"),
    )


def q56_resample_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbour 2× downsample then band stats
    (resample_img_to_match interp=nearest, imageutils/__init__.py:2104-2209)
    — engine slices the decoded grid; oracle selects the even lattice."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.operators.multimodal import resize_nearest

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _rs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                grid = BK.synth_band_grid(k, w, h, "red")
                small = resize_nearest(grid, h // 2, w // 2)
                rows.append((k, small.size, int(small.sum())))
            yield pd.DataFrame(rows, columns=["image_key", "n_out_px", "sum_out"])

    return gi.mapInPandas(_rs, schema="image_key long, n_out_px long, sum_out long")


# resize_nearest with out = in//2 picks src indices floor(i * h/(h//2));
# for even sizes that is exactly the even lattice 0,2,4,... (our SIZES
# are all even), which the oracle reproduces relationally.
ORACLE_Q56 = _cte(f""", {PIXELS_CTE}
SELECT image_key, COUNT(*) AS n_out_px, CAST(SUM(red) AS BIGINT) AS sum_out
FROM pixels
WHERE px % 2 = 0 AND py % 2 = 0 AND px < 2 * (w // 2) AND py < 2 * (h // 2)
GROUP BY image_key
""")


def q57_overlay_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-producing overlay join (vectorgeoms intersection,
    vectorgeoms/__init__.py:1137-1188): clipped rectangle + its area per
    intersecting image×zone pair — pure column expressions."""
    load_views(spark, sf_dir)
    gi = _geo_images(spark)
    z = _geo_zones(spark).select(
        "zone_id",
        F.col("minx").alias("zminx"), F.col("miny").alias("zminy"),
        F.col("maxx").alias("zmaxx"), F.col("maxy").alias("zmaxy"),
    )
    j = gi.join(
        F.broadcast(z),
        (F.col("minx") < F.col("zmaxx")) & (F.col("maxx") > F.col("zminx"))
        & (F.col("miny") < F.col("zmaxy")) & (F.col("maxy") > F.col("zminy")),
    )
    ix0 = F.greatest("minx", "zminx")
    iy0 = F.greatest("miny", "zminy")
    ix1 = F.least("maxx", "zmaxx")
    iy1 = F.least("maxy", "zmaxy")
    return j.select(
        "image_key", "zone_id",
        ix0.alias("ix0"), iy0.alias("iy0"), ix1.alias("ix1"), iy1.alias("iy1"),
        ((ix1 - ix0) * (iy1 - iy0)).alias("area"),
    )


ORACLE_Q57 = _cte("""
SELECT i.image_key, z.zone_id,
       GREATEST(i.minx, z.minx) AS ix0, GREATEST(i.miny, z.miny) AS iy0,
       LEAST(i.maxx, z.maxx) AS ix1, LEAST(i.maxy, z.maxy) AS iy1,
       (LEAST(i.maxx, z.maxx) - GREATEST(i.minx, z.minx))
       * (LEAST(i.maxy, z.maxy) - GREATEST(i.miny, z.miny)) AS area
FROM geo_images i JOIN geo_zones z
ON i.minx < z.maxx AND i.maxx > z.minx AND i.miny < z.maxy AND i.maxy > z.miny
""")


def q58_pixel_band_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_pixel_column_summary (imagecalc.cpp:1967-1981): per-pixel
    reduction ACROSS the band axis (min/max/sum of [red, nir]), rolled up
    per image with integer-exact accumulators."""
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _sm(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                red = BK.synth_band_grid(k, w, h, "red")
                nir = BK.synth_band_grid(k, w, h, "nir")
                rows.append(
                    (
                        k,
                        int(np.minimum(red, nir).sum()),
                        int(np.maximum(red, nir).sum()),
                        int((red + nir).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["image_key", "sum_px_min", "sum_px_max", "sum_px_tot"]
            )

    return gi.mapInPandas(
        _sm, schema="image_key long, sum_px_min long, sum_px_max long, sum_px_tot long"
    )


ORACLE_Q58 = _cte(f""", {PIXELS_CTE}
SELECT image_key,
       CAST(SUM(LEAST(red, nir)) AS BIGINT) AS sum_px_min,
       CAST(SUM(GREATEST(red, nir)) AS BIGINT) AS sum_px_max,
       CAST(SUM(red + nir) AS BIGINT) AS sum_px_tot
FROM pixels GROUP BY image_key
""")


def q62_streaming_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming availableNow over the events table, then
    aggregate the streamed output — the ORACLE is the plain batch SQL, so
    streaming/batch parity is itself correctness-gated. Uses a per-call
    temp dir, REMOVED before returning (repeated sweeps on a shared
    host must not accumulate stream output under /tmp): the small
    aggregate is localCheckpoint'ed so the returned plan no longer
    reads the deleted parquet."""
    import os
    import shutil
    import tempfile

    load_views(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="rsgis_stream_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        os.symlink(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
        out_dir = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")

        from rsgislib_spark.streaming.incremental import incremental_event_counts

        incremental_event_counts(spark, src, out_dir, ckpt)
        streamed = spark.read.parquet(out_dir)
        return streamed.groupBy("hour", "event_type").agg(
            F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


ORACLE_Q62 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q63_clump_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clumping with tiled labelling + cross-tile
    reconcile (segmentation clump + merge_equiv_clumps,
    tiledclump.py:134-224). Hash-gated: the oracle labels components by
    a DIFFERENT algorithm (run-length contraction + recursive-CTE
    min-label propagation, see ORACLE_Q63) and compares the
    label-invariant outputs (component count, largest size). Whole-image
    BFS parity is additionally asserted in
    tests/test_clump_multimodal.py."""
    from rsgislib_spark.operators.clump import clump_images

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0))
    return clump_images(gi, threshold=125, tile=96).orderBy("image_key")


def _clump_oracle_sql(threshold: int = 125) -> str:
    """Relational replay of clump_images via run-length contraction:
    each maximal horizontal run of masked pixels becomes ONE node (the
    lattice's +13/px step bounds runs to ~10 px, a ~7× node and ~50×
    edge-pair reduction vs pixel-level propagation), vertical adjacency
    is a range-overlap join between consecutive rows, and the recursive
    min-label relax (the q103 pattern) runs over runs, not pixels.
    Component count and largest-component pixel sum are label-invariant,
    so they compare exactly against the engine's union-find labels."""
    from rsgislib_spark.qcommon import GEO_IMAGES_SQL

    return f"""
WITH RECURSIVE geo_images AS ({GEO_IMAGES_SQL}),
px AS MATERIALIZED (
  SELECT image_key, w, gx.px AS px, gy.py AS py
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
    AND (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 > {threshold}
),
runs AS MATERIALIZED (
  SELECT image_key, py, MIN(px) AS x0, MAX(px) AS x1,
         MIN(py * w + px) AS rid, COUNT(*) AS n
  FROM (
    SELECT image_key, w, px, py,
           px - ROW_NUMBER() OVER (PARTITION BY image_key, py ORDER BY px) AS grp
    FROM px
  ) t GROUP BY image_key, py, grp
),
edges AS MATERIALIZED (
  SELECT a.image_key, a.rid AS i1, b.rid AS i2
  FROM runs a JOIN runs b
    ON b.image_key = a.image_key AND b.py = a.py + 1
   AND b.x0 <= a.x1 AND a.x0 <= b.x1
  UNION ALL
  SELECT a.image_key, b.rid AS i1, a.rid AS i2
  FROM runs a JOIN runs b
    ON b.image_key = a.image_key AND b.py = a.py + 1
   AND b.x0 <= a.x1 AND a.x0 <= b.x1
),
relax AS (
  SELECT image_key, rid, rid AS lab FROM runs
  UNION
  SELECT e.image_key, e.i2 AS rid, r.lab
  FROM relax r JOIN edges e ON e.image_key = r.image_key AND e.i1 = r.rid
  WHERE r.lab < e.i2
),
cc AS MATERIALIZED (SELECT image_key, rid, MIN(lab) AS lab FROM relax GROUP BY 1, 2),
comp AS MATERIALIZED (
  SELECT c.image_key, c.lab, SUM(r.n) AS npx
  FROM cc c JOIN runs r ON r.image_key = c.image_key AND r.rid = c.rid
  GROUP BY 1, 2
)
SELECT image_key, CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(MAX(npx) AS BIGINT) AS largest_px
FROM comp GROUP BY image_key
"""


ORACLE_Q63 = _clump_oracle_sql()


def q61_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction over real payload bytes (decode →
    mean/std/thumbnail/phash; operators.multimodal). Rows-only."""
    from rsgislib_spark import datagen
    from rsgislib_spark.operators.multimodal import image_features

    pdf = datagen.gen_images(100, seed=42)
    sdf = spark.createDataFrame(
        pdf[["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]]
    ).repartition(8)
    feats = image_features(sdf)
    return feats.select(
        "image_id", F.round("px_mean", 3).alias("px_mean"), "phash"
    ).orderBy("image_id")


def q122_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_features over STORED BYTES, hash-gated: the lattice band is
    encoded with the EXACT raw/png codecs (pipeline.encode_images_df —
    the q91 bytes table), decoded by the multimodal operator, and the
    extracted features (mean, moment-form std, 4×4 nearest-neighbour
    thumbnail sum) are closed forms of integer pixel sums the oracle
    recomputes relationally. Upgrades the decode→feature path from
    rows-only (q61 keeps the mixed-format lossy table) to hash-exact."""
    from rsgislib_spark.operators.multimodal import image_features
    from rsgislib_spark.pipeline import encode_images_df

    load_views(spark, sf_dir)
    # Predicate goes INTO encode_images_df so the subset is taken before
    # the opaque encode mapInPandas (a .filter() here would encode all
    # 20k images at sf0.1 and keep ~1.2k).
    imgs = encode_images_df(spark, sf_dir, where=F.col("image_key") % 17 == 0)
    src = imgs.select(
        F.col("image_key").cast("string").alias("image_id"), "bytes", "w", "h", "fmt"
    )
    feats = image_features(src)
    return feats.select(
        F.col("image_id").cast("long").alias("image_key"),
        F.round("px_mean", 6).alias("px_mean"),
        F.round("px_std", 6).alias("px_std"),
        F.round(F.expr("aggregate(thumb16, 0D, (a, x) -> a + x)"), 6).alias("thumb_sum"),
    )


ORACLE_Q122 = _cte("""
, px AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS red
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % 17 = 0
), mom AS (
  SELECT image_key, COUNT(*) AS n,
         CAST(SUM(red) AS DOUBLE) AS s, CAST(SUM(red * red) AS DOUBLE) AS q
  FROM px GROUP BY image_key
), thumb AS (
  -- resize_nearest(img, 4, 4): samples pixels at (i*h//4, j*w//4)
  SELECT image_key, CAST(SUM(red) AS DOUBLE) AS tsum
  FROM px
  WHERE px IN (0 * w // 4, 1 * w // 4, 2 * w // 4, 3 * w // 4)
    AND py IN (0 * h // 4, 1 * h // 4, 2 * h // 4, 3 * h // 4)
  GROUP BY image_key
)
SELECT m.image_key,
       ROUND(m.s / m.n, 6) AS px_mean,
       ROUND(SQRT(GREATEST(m.q / m.n - (m.s / m.n) * (m.s / m.n), 0.0)), 6) AS px_std,
       ROUND(t.tsum, 6) AS thumb_sum
FROM mom m JOIN thumb t ON t.image_key = m.image_key
""")


def q123_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (8-token span) cross-document duplication stats
    (Lee et al. 2022 exact-substring dedup, reduced to per-doc span
    counts) — functions/dedup.duplicated_span_stats over the documents
    table. Both engines key spans by md5 of the space-joined window, so
    the oracle joins on the identical 16-byte key."""
    from rsgislib_spark.functions.dedup import duplicated_span_stats

    load_views(spark, sf_dir)
    return duplicated_span_stats(spark.table("documents"), n=8, min_docs=2)


ORACLE_Q123 = """
WITH alld AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok
  FROM documents
), base AS (
  SELECT doc_id, t, n_tok FROM alld WHERE n_tok >= 8
), spans AS (
  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM base, LATERAL (SELECT unnest(generate_series(1, n_tok - 7)) AS i) s
), per AS (
  SELECT g, doc_id, COUNT(*) AS c FROM spans GROUP BY 1, 2
), dup AS (
  SELECT g FROM per GROUP BY g HAVING COUNT(*) >= 2
), docdup AS (
  SELECT p.doc_id, SUM(p.c) AS n_dup FROM per p JOIN dup USING (g) GROUP BY 1
)
SELECT b.doc_id,
       CAST(GREATEST(b.n_tok - 7, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN b.n_tok - 7 > 0
            THEN ROUND(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / (b.n_tok - 7), 6)
            ELSE 0.0 END AS dup_ratio
FROM alld b LEFT JOIN docdup d USING (doc_id)
"""


def q124_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring removal (the scrub half of Lee et al. 2022):
    drop every token covered by a cross-document duplicated 8-token
    span; fingerprint the scrubbed text with md5 so the oracle verifies
    the reconstructed documents byte-for-byte, not just the counts."""
    from rsgislib_spark.functions.dedup import remove_duplicated_spans

    load_views(spark, sf_dir)
    return remove_duplicated_spans(spark.table("documents"), n=8, min_docs=2)


ORACLE_Q124 = """
WITH alld AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok
  FROM documents
), base AS (
  SELECT doc_id, t, n_tok FROM alld WHERE n_tok >= 8
), spans AS (
  SELECT doc_id, i AS start, md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM base, LATERAL (SELECT unnest(generate_series(1, n_tok - 7)) AS i) s
), dup AS (
  SELECT g FROM spans GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), dstart AS (
  SELECT sp.doc_id, sp.start FROM spans sp JOIN dup USING (g)
), tokpos AS (
  SELECT doc_id, i, t[i] AS tok
  FROM alld, LATERAL (SELECT unnest(generate_series(1, n_tok)) AS i) s
  WHERE n_tok >= 1
), kept AS (
  SELECT tp.doc_id, tp.i, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM dstart d
    WHERE d.doc_id = tp.doc_id AND tp.i BETWEEN d.start AND d.start + 7
  )
), kagg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(array_to_string(list(tok ORDER BY i), ' ')) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(b.n_tok - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(k.kept_md5, md5('')) AS kept_md5
FROM alld b LEFT JOIN kagg k USING (doc_id)
"""


def q125_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram decontamination (GPT-3/PaLM-style eval-overlap filter):
    documents whose doc_id % 97 == 0 stand in for the held-out eval
    set; the rest of the corpus is flagged by 8-token span overlap.
    Probe grams broadcast — zero shuffle of corpus span rows."""
    from rsgislib_spark.functions.dedup import decontaminate

    load_views(spark, sf_dir)
    docs = spark.table("documents")
    probes = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, probes, n=8)


ORACLE_Q125 = """
WITH alld AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t,
         len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok
  FROM documents
), base AS (
  SELECT doc_id, t, n_tok FROM alld WHERE n_tok >= 8
), spans AS (
  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM base, LATERAL (SELECT unnest(generate_series(1, n_tok - 7)) AS i) s
), probe_g AS (
  SELECT DISTINCT g FROM spans WHERE doc_id % 97 = 0
), hits AS (
  SELECT sp.doc_id, COUNT(*) AS n_hits
  FROM spans sp JOIN probe_g USING (g)
  WHERE sp.doc_id % 97 <> 0
  GROUP BY sp.doc_id
)
SELECT b.doc_id,
       CAST(GREATEST(b.n_tok - 7, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS is_contaminated
FROM alld b LEFT JOIN hits h USING (doc_id)
WHERE b.doc_id % 97 <> 0
"""


def q126_streaming_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decode ingest, hash-gated: the q122 bytes table lands
    as parquet files, a Structured Streaming availableNow pass decodes
    and featurizes each image (streaming_image_features — the stateless
    mapInArrow plan runs unchanged under streaming), and the streamed
    output must match the BATCH oracle (ORACLE_Q122) hash-exactly —
    streaming/batch parity for the decode path, the q62 pattern applied
    to the 100 TB continuous-ingest shape. The per-call temp dir (which
    briefly holds a bytes-table copy) is REMOVED before returning; the
    skinny feature result is localCheckpoint'ed so the returned plan no
    longer reads the deleted stream output."""
    import os
    import shutil
    import tempfile

    from rsgislib_spark.pipeline import encode_images_df
    from rsgislib_spark.streaming.incremental import streaming_image_features

    load_views(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="rsgis_sdec_")
    try:
        src = os.path.join(work, "src")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        imgs = encode_images_df(spark, sf_dir, where=F.col("image_key") % 17 == 0)
        imgs.select(
            F.col("image_key").cast("string").alias("image_id"), "bytes", "w", "h", "fmt"
        ).write.parquet(src)
        streaming_image_features(spark, src, out, ckpt)
        feats = spark.read.parquet(out)
        return feats.select(
            F.col("image_id").cast("long").alias("image_key"),
            F.round("px_mean", 6).alias("px_mean"),
            F.round("px_std", 6).alias("px_std"),
            F.round(F.expr("aggregate(thumb16, 0D, (a, x) -> a + x)"), 6).alias("thumb_sum"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q127_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/textops.scrub_pii) hash-gated: the
    synthetic corpus carries no PII, so the query deterministically
    injects one email + one phone per document with engine-identical
    string ops (concat/lpad), scrubs them, and the oracle reproduces
    injection + scrub byte-for-byte (md5 of the scrubbed text)."""
    from rsgislib_spark.functions.textops import scrub_pii

    load_views(spark, sf_dir)
    docs = spark.table("documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example org tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("scrubbed").alias("scrub_md5")
    )


ORACLE_Q127 = """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example org tel 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS BIGINT)
           AS n_emails,
         regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g') AS t1
  FROM aug
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(t1, '[0-9]{3}-[0-9]{4}', '<TEL>', 'g')) AS scrub_md5
FROM s1
"""


def q64_north_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-star pipeline (rsgislib_spark.pipeline.north_star):
    footprints → fused tiler+band+focal kernels with per-image rollup →
    map-side STRtree zonal match with partial aggregation → per-zone
    stats. Oracle trick: per-image focal totals equal
    Σ v(p)·cx(p)·cy(p) where cx/cy are the per-axis window-membership
    counts (3 interior, 2 at edges) — no 9× neighbour blow-up needed."""
    from rsgislib_spark.pipeline import north_star

    load_views(spark, sf_dir)
    return north_star(spark, sf_dir)


ORACLE_Q64 = _cte("""
, pixels_all AS (
  SELECT image_key, minx, miny, maxx, maxy, w, h,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS red,
         CASE WHEN gx.px = 0 OR gx.px = w - 1 THEN 2 ELSE 3 END AS cx,
         CASE WHEN gy.py = 0 OR gy.py = h - 1 THEN 2 ELSE 3 END AS cy
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
), per_img AS (
  SELECT image_key, MIN(minx) minx, MIN(miny) miny, MIN(maxx) maxx, MIN(maxy) maxy,
         ((MIN(w) + 95) // 96) * ((MIN(h) + 95) // 96) AS n_tiles,
         COUNT(*) AS n_px, SUM(red) AS sum_v, MIN(red) AS min_v, MAX(red) AS max_v,
         SUM(red * cx * cy) AS focal_sum, SUM(cx * cy) AS focal_cnt
  FROM pixels_all GROUP BY image_key
)
SELECT z.zone_id, COUNT(*) AS n_images,
       CAST(SUM(i.n_tiles) AS BIGINT) AS n_tiles,
       CAST(SUM(i.n_px) AS BIGINT) AS n_px,
       CAST(SUM(i.sum_v) AS BIGINT) AS sum_v,
       CAST(MIN(i.min_v) AS BIGINT) AS min_v,
       CAST(MAX(i.max_v) AS BIGINT) AS max_v,
       ROUND(CAST(SUM(i.focal_sum) AS DOUBLE) / SUM(i.focal_cnt), 6) AS mean_focal
FROM per_img i JOIN geo_zones z
ON i.minx <= z.maxx AND i.maxx >= z.minx AND i.miny <= z.maxy AND i.maxy >= z.miny
GROUP BY z.zone_id
""")


def q91_north_star_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECODE-INCLUSIVE north star (pipeline.north_star_decoded):
    bytes-bearing image rows → in-house codec decode (raw/png-class mix)
    → band/focal kernels → per-image rollup → STRtree zonal match →
    per-zone stats. The executor reads real pixel payloads exactly as
    the reference executor does (src/img/RSGISCalcImage.cpp:149-230);
    the raw/png codecs are exact, so decode(encode(grid)) == grid and
    the q64 oracle math applies unchanged — this closes the gap between
    the benched pipeline and the 100 TB claim, where decode dominates."""
    from rsgislib_spark.pipeline import north_star_decoded

    load_views(spark, sf_dir)
    return north_star_decoded(spark, sf_dir)


ORACLE_Q91 = ORACLE_Q64


def q65_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity linear trend fit (timeseries/modelfitting.py:54-264,
    trend component) via groupBy + applyInPandas normal equations.
    t = whole days since 2024-01-01; y scaled to integer-valued doubles
    so the moment sums are order-independent-exact in both engines."""
    from rsgislib_spark.operators.timeseries import linear_trend_fit

    load_views(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        F.datediff(F.col("ts"), F.lit("2024-01-01").cast("date")).cast("double").alias("t"),
        F.round(F.col("value") * 10000).alias("y"),
    )
    out = linear_trend_fit(ev, group_col="user_id", t_col="t", y_col="y")
    return out.select(
        "user_id", "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


ORACLE_Q65 = """
WITH d AS (
  SELECT user_id,
         CAST(datediff('day', DATE '2024-01-01', ts) AS DOUBLE) AS t,
         ROUND(value * 10000) AS y
  FROM events
), s AS (
  SELECT user_id, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
         SUM(t * t) AS stt, SUM(t * y) AS sty
  FROM d GROUP BY user_id
)
SELECT user_id, n,
       ROUND(CASE WHEN n * stt - st * st = 0 THEN 0.0
            ELSE (n * sty - st * sy) / (n * stt - st * st) END, 6) AS slope,
       ROUND(CASE WHEN n * stt - st * st = 0 THEN sy / n
            ELSE (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n END, 6) AS intercept
FROM s
"""


def q66_band_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-correlation registration (find_image_offset /
    correlation_window, python/src/imageregistration.cpp:245-361): find
    the (dx,dy) ∈ [-1,1]² shift of the nir band that maximises Pearson
    correlation with red. Integer moment sums → cross-engine exact;
    tie-break (r desc, dx asc, dy asc)."""
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _reg(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                red = BK.synth_band_grid(k, w, h, "red")
                nir = BK.synth_band_grid(k, w, h, "nir")
                best = None
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        a = red[max(dy, 0) : h + min(dy, 0), max(dx, 0) : w + min(dx, 0)]
                        b = nir[max(-dy, 0) : h - max(dy, 0), max(-dx, 0) : w - max(dx, 0)]
                        n = a.size
                        sa, sb = int(a.sum()), int(b.sum())
                        sab = int((a * b).sum())
                        saa = int((a * a).sum())
                        sbb = int((b * b).sum())
                        num = n * sab - sa * sb
                        den = np.sqrt(float(n * saa - sa * sa)) * np.sqrt(
                            float(n * sbb - sb * sb)
                        )
                        r = num / den if den else 0.0
                        cand = (-r, dx, dy)
                        if best is None or cand < best:
                            best = cand
                rows.append((k, best[1], best[2], round(-best[0], 6)))
            yield pd.DataFrame(rows, columns=["image_key", "best_dx", "best_dy", "best_r"])

    return gi.mapInPandas(
        _reg, schema="image_key long, best_dx int, best_dy int, best_r double"
    )


ORACLE_Q66 = _cte(f"""
, offs AS (
  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
), px AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), pairs AS (
  SELECT p.image_key, o.dx, o.dy,
         (p.image_key * 7 + p.px * 13 + p.py * 17) % 251 AS a,
         (p.image_key * 11 + (p.px - o.dx) * 5 + (p.py - o.dy) * 3) % 241 AS b
  FROM px p CROSS JOIN offs o
  WHERE p.px - o.dx >= 0 AND p.px - o.dx < p.w
    AND p.py - o.dy >= 0 AND p.py - o.dy < p.h
), s AS (
  SELECT image_key, dx, dy, COUNT(*) AS n,
         SUM(a) sa, SUM(b) sb, SUM(a*b) sab, SUM(a*a) saa, SUM(b*b) sbb
  FROM pairs GROUP BY 1, 2, 3
), r AS (
  SELECT image_key, dx, dy,
         CASE WHEN (n*saa - sa*sa) = 0 OR (n*sbb - sb*sb) = 0 THEN 0.0
              ELSE (n*sab - sa*sb) / (SQRT(CAST(n*saa - sa*sa AS DOUBLE)) * SQRT(CAST(n*sbb - sb*sb AS DOUBLE)))
         END AS r
  FROM s
)
SELECT image_key, CAST(dx AS INT) AS best_dx, CAST(dy AS INT) AS best_dy,
       ROUND(r, 6) AS best_r
FROM (
  SELECT image_key, dx, dy, r,
         ROW_NUMBER() OVER (PARTITION BY image_key ORDER BY r DESC, dx ASC, dy ASC) AS rk
  FROM r
) WHERE rk = 1
""")


def q67_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radiometric calibration family (imagecalibration.cpp:1665-1954):
    DN → radiance (per-band gain/offset) → TOA reflectance, rolled up per
    image. Radiance sums decompose to gain·ΣDN + n·offset over
    integer-exact ΣDN, so the double arithmetic is identical per engine."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels import calibration as CAL

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")
    d = CAL.solar_distance(166)  # fixed acquisition DOY for the fixture
    cos_sza = float(np.cos(np.radians(35.0)))

    def _cal(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                n = w * h
                out = [k, n]
                for band in ("red", "nir"):
                    g, o = CAL.BAND_COEFFS[band]
                    dn = BK.synth_band_grid(k, w, h, band)
                    # aggregate the integer DN first (order-exact), then
                    # apply the linear/reflectance maps — Σρ = c·ΣL exactly
                    sum_l = g * int(dn.sum()) + n * o
                    sum_rho = (np.pi * sum_l * float(d) * float(d)) / (
                        CAL.ESUN[band] * cos_sza
                    )
                    # half-away-from-zero like DuckDB ROUND (Python round()
                    # is banker's half-to-even — a cross-engine hazard)
                    out += [_round_half_away(sum_l, 4), _round_half_away(sum_rho, 4)]
                rows.append(tuple(out))
            yield pd.DataFrame(
                rows,
                columns=["image_key", "n_px", "sum_l_red", "sum_rho_red",
                         "sum_l_nir", "sum_rho_nir"],
            )

    return gi.mapInPandas(
        _cal,
        schema="image_key long, n_px long, sum_l_red double, sum_rho_red double, "
        "sum_l_nir double, sum_rho_nir double",
    )


_CAL_D = "(1.0 - 0.01672 * COS(RADIANS(0.9856 * (166 - 4))))"
ORACLE_Q67 = _cte(f""", {PIXELS_CTE}
, s AS (
  SELECT image_key, COUNT(*) AS n, SUM(red) AS s_red, SUM(nir) AS s_nir
  FROM pixels GROUP BY image_key
)
SELECT image_key, n AS n_px,
       ROUND(0.01 * s_red + n * -0.1, 4) AS sum_l_red,
       ROUND((PI() * (0.01 * s_red + n * -0.1) * {_CAL_D} * {_CAL_D}) / (1536.0 * COS(RADIANS(35.0))), 4) AS sum_rho_red,
       ROUND(0.008 * s_nir + n * -0.05, 4) AS sum_l_nir,
       ROUND((PI() * (0.008 * s_nir + n * -0.05) * {_CAL_D} * {_CAL_D}) / (1145.0 * COS(RADIANS(35.0))), 4) AS sum_rho_nir
FROM s
""")


_CAL119_COEFFS_SQL = """
SELECT * FROM (VALUES
  ('red', CAST(-6.2 AS DOUBLE), CAST(293.7 AS DOUBLE), CAST(1.0 AS DOUBLE),
   CAST(255.0 AS DOUBLE), CAST(1.17662 AS DOUBLE), CAST(-6.2 AS DOUBLE),
   CAST(1.3 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.00965 AS DOUBLE),
   CAST(0.0625 AS DOUBLE), CAST(774.89 AS DOUBLE), CAST(1321.08 AS DOUBLE),
   CAST(1536.0 AS DOUBLE), CAST(2.5 AS DOUBLE), CAST(0.1 AS DOUBLE),
   CAST(0.5 AS DOUBLE), CAST(0.02 AS DOUBLE)),
  ('nir', CAST(-6.4 AS DOUBLE), CAST(300.9 AS DOUBLE), CAST(1.0 AS DOUBLE),
   CAST(255.0 AS DOUBLE), CAST(1.20512 AS DOUBLE), CAST(-6.4 AS DOUBLE),
   CAST(1.6 AS DOUBLE), CAST(0.2 AS DOUBLE), CAST(0.01045 AS DOUBLE),
   CAST(0.0985 AS DOUBLE), CAST(607.76 AS DOUBLE), CAST(1260.56 AS DOUBLE),
   CAST(1145.0 AS DOUBLE), CAST(2.2 AS DOUBLE), CAST(0.08 AS DOUBLE),
   CAST(0.45 AS DOUBLE), CAST(0.015 AS DOUBLE))
) AS t(band, lmin, lmax, qcalmin, qcalmax, mult, addv, gain, bias,
       abscal, effbw, k1, k2, esun, ax, bx, cx, doff)
"""

_CAL119_CZ = "COS(RADIANS(35.0))"


def q119_calibration_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibration sensor-transform family as PURE Catalyst column
    maps (kernels/calibration.py *_col builders) — one row per
    (band, DN) with eight transforms applied: gradient DN→radiance,
    multi/add DN→radiance, SPOT5, WorldView2, thermal brightness, TOA
    reflectance, its inverse, 6S single-param SREF, and dark-object
    subtraction. Per-VALUE outputs (no double sums) keep cross-engine
    parity a pure scalar-map check; at 100 TB each map fuses into the
    scan under whole-stage codegen (imagecalibration.cpp:1665-1954)."""
    from rsgislib_spark.kernels import calibration as CAL

    load_views(spark, sf_dir)
    coeffs = spark.sql(_CAL119_COEFFS_SQL)
    dn = spark.sql("SELECT DISTINCT p_partkey % 256 AS dn FROM part")
    df = dn.crossJoin(F.broadcast(coeffs))
    d = float(CAL.solar_distance(166))
    cz = float(np.cos(np.radians(35.0)))
    dncol = F.col("dn")
    l_ma = CAL.dn_to_radiance_multi_add_col(dncol, F.col("mult"), F.col("addv"))
    rho = CAL.radiance_to_toa_refl_col(l_ma, F.col("esun"), d, cz)
    r6 = lambda col, name: F.round(col, 6).alias(name)
    return df.select(
        "band",
        "dn",
        r6(CAL.dn_to_radiance_grad_col(
            dncol, F.col("lmin"), F.col("lmax"), F.col("qcalmin"), F.col("qcalmax")
        ), "l_grad"),
        r6(l_ma, "l_ma"),
        r6(CAL.spot5_to_radiance_col(dncol, F.col("gain"), F.col("bias")), "l_spot5"),
        r6(CAL.worldview2_to_radiance_col(dncol, F.col("abscal"), F.col("effbw")), "l_wv2"),
        r6(CAL.thermal_rad_to_brightness_col(l_ma, F.col("k1"), F.col("k2")), "bt_c"),
        r6(rho, "rho"),
        r6(CAL.toa_refl_to_radiance_col(rho, F.col("esun"), d, cz), "l_inv"),
        r6(CAL.apply_6s_coeff_single_col(rho, F.col("ax"), F.col("bx"), F.col("cx")), "sref"),
        r6(CAL.subtract_offsets_col(rho, F.col("doff"), 0.01), "dos"),
    )


ORACLE_Q119 = f"""
WITH dnv AS (SELECT DISTINCT p_partkey % 256 AS dn FROM part),
c AS ({_CAL119_COEFFS_SQL}),
base AS (
  SELECT band, dn, lmin, lmax, qcalmin, qcalmax, mult, addv, gain, bias,
         abscal, effbw, k1, k2, esun, ax, bx, cx, doff,
         mult * dn + addv AS l_ma
  FROM dnv CROSS JOIN c
),
base2 AS (
  SELECT *, PI() * l_ma * {_CAL_D} * {_CAL_D} / (esun * {_CAL119_CZ}) AS rho
  FROM base
),
base3 AS (
  SELECT *, ax * rho - bx AS y6s FROM base2
)
SELECT band, dn,
       ROUND((lmax - lmin) / (qcalmax - qcalmin) * (dn - qcalmin) + lmin, 6) AS l_grad,
       ROUND(l_ma, 6) AS l_ma,
       ROUND(dn / gain + bias, 6) AS l_spot5,
       ROUND(abscal * dn / effbw, 6) AS l_wv2,
       ROUND(CASE WHEN l_ma > 0
                  THEN (k2 / LN(k1 / l_ma + 1.0) - 273.15) * 1.0
                  ELSE 0.0 END, 6) AS bt_c,
       ROUND(rho, 6) AS rho,
       ROUND(rho / 1.0 * esun * {_CAL119_CZ} / (PI() * {_CAL_D} * {_CAL_D}), 6) AS l_inv,
       ROUND(GREATEST(0.0, LEAST(1000.0, y6s / (1.0 + cx * y6s) * 1000.0)), 6) AS sref,
       ROUND(CASE WHEN rho - doff + 0.01 <= 0 THEN 1.0
                  ELSE rho - doff + 0.01 END, 6) AS dos
FROM base3
"""


# --------------------------------------------------------------------------
# q128 — the REST of the calibration family (VERDICT r4 task 2): the
# remaining sensor DN→radiance maps (Ikonos/ASTER/IRS/Quickbird 16/8),
# saturation mask, single-offset DOS, 6S elevation-LUT (interpolated)
# and elevation×AOT-LUT SREF, Shepherd-Dymond 2010 irradiance (Eq 1)
# and standardised reflectance (Eq 8), nadir view angle, ESUN
# back-solve, visibility→AOT. Every transform is a pure Catalyst column
# map (kernels/calibration.py) over an integer-derived coefficient
# lattice, hash-gated against a DuckDB oracle that replicates the LUT
# nearest/neighbour/blend scheme relationally.
# --------------------------------------------------------------------------

#: 6S elevation LUT: (elev_m, aX, bX, cX) — elevation order.
CAL128_ELEV_LUT = [
    (0.0, 0.92, 0.05, 0.0015),
    (1000.0, 0.95, 0.04, 0.0012),
    (2000.0, 0.98, 0.03, 0.0010),
]
#: 6S elevation×AOT LUT: (elev_m, [(aot, aX, bX, cX), ...]).
CAL128_AOT_LUT = [
    (0.0, [(0.0, 0.90, 0.06, 0.0016), (0.4, 0.93, 0.05, 0.0013)]),
    (1000.0, [(0.0, 0.94, 0.045, 0.0011), (0.4, 0.97, 0.035, 0.0009)]),
]
#: Irradiance LUT: (elev_m, dirIrr, difIrr, envIrr) — same knots as
#: CAL128_ELEV_LUT so the oracle reuses one blend derivation.
CAL128_IRR_LUT = [
    (0.0, 1300.0, 300.0, 60.0),
    (1000.0, 1400.0, 260.0, 50.0),
    (2000.0, 1500.0, 220.0, 40.0),
]

# Derivation CTE — PORTABLE SQL text run verbatim in BOTH engines (the
# q119/qcommon parity trick), so every derived input is bit-identical
# before any transform applies.
_CAL128_BASE_SQL = f"""
WITH dnv AS (SELECT DISTINCT p_partkey % 256 AS dn FROM part),
base AS (
  SELECT dn,
         CAST((dn * 37) % 2100 AS DOUBLE) AS elev,
         CAST(dn % 5 AS DOUBLE) / 10.0 AS aot,
         CAST(dn % 60 + 5 AS DOUBLE) AS inc_ang,
         CAST(dn % 25 AS DOUBLE) AS exit_ang,
         CAST(dn % 30 AS DOUBLE) AS slope,
         CAST(CASE WHEN dn % 7 = 0 THEN 1 ELSE 0 END AS INT) AS shadow,
         CAST(dn * 10 AS DOUBLE) AS px_c,
         CAST(dn * 3 AS DOUBLE) AS py_c,
         CAST(5 + dn % 40 AS DOUBLE) AS vis,
         1.17662 * dn + -6.2 AS l_ma
  FROM dnv
)
SELECT *, PI() * l_ma * {_CAL_D} * {_CAL_D} / (1536.0 * {_CAL119_CZ}) * 1.0 AS rho
FROM base
"""


def q128_calibration_family_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining calibration transforms as Catalyst column maps — see
    the block comment above. Reference bindings:
    imagecalibration.cpp:1726-1954; impls
    RSGISStandardDN2RadianceCalibration.cpp:99-210,
    RSGISApply6SCoefficients.cpp:142-800, RSGISApplySubtractOffsets.cpp
    :98-135, RSGISImgCalibUtils.cpp:28-115."""
    from rsgislib_spark.kernels import calibration as CAL

    load_views(spark, sf_dir)
    df = spark.sql(_CAL128_BASE_SQL)
    d = float(CAL.solar_distance(166))
    cz = float(np.cos(np.radians(35.0)))
    dn = F.col("dn")
    r6 = lambda col, name: F.round(col, 6).alias(name)
    sref_elev = CAL.apply_6s_coeff_elev_lut_col(
        F.col("rho"), F.col("elev"), CAL128_ELEV_LUT, 1000.0
    )
    dirc, difc, envc, totc = CAL.irradiance_elev_lut_cols(
        F.col("elev"), F.col("inc_ang"), F.col("slope"), F.col("shadow"),
        CAL128_IRR_LUT, 35.0, 0.2,
    )
    return df.select(
        "dn",
        r6(CAL.ikonos_to_radiance_col(dn, 728.0, 0.0713), "l_ikonos"),
        r6(CAL.aster_to_radiance_col(dn, 0.676), "l_aster"),
        r6(CAL.irs_to_radiance_col(dn, 0.0, 152.0, 1.0, 255.0), "l_irs"),
        r6(CAL.quickbird16_to_radiance_col(dn, 0.01604, 0.0713), "l_qb16"),
        r6(CAL.quickbird8_to_radiance_col(dn, 0.01604, 1.02, 0.0713), "l_qb8"),
        r6(CAL.saturated_pixel_mask_col(dn, 255), "sat_mask"),
        r6(CAL.subtract_single_offsets_col(dn, 12.0, 0.02, no_data_val=0.0), "dos_single"),
        r6(sref_elev, "sref_elev"),
        r6(CAL.apply_6s_coeff_elev_aot_lut_col(
            F.col("rho"), F.col("elev"), F.col("aot"), CAL128_AOT_LUT, 1000.0
        ), "sref_elev_aot"),
        r6(dirc, "irr_dir"),
        r6(difc, "irr_dif"),
        r6(envc, "irr_env"),
        r6(totc, "irr_tot"),
        r6(CAL.standardised_reflectance_sd2010_col(
            sref_elev, dirc, difc, totc, F.col("inc_ang"), F.col("exit_ang"),
        ), "std_refl"),
        r6(CAL.nadir_view_angle_col(
            F.col("px_c"), F.col("py_c"), 0.75, 1234.5, 705000.0
        ), "view_ang"),
        r6(CAL.esun_from_known_col(F.col("l_ma"), F.col("rho"), d, cz), "esun_chk"),
        r6(CAL.visibility_to_aot_col(F.col("vis")), "aot_est"),
    )


def _sql_sref_6s(a, b, c, refl="rho", scale="1000.0"):
    y = f"({a} * {refl} - {b})"
    return f"{y} / (1.0 + {c} * {y}) * {scale}"


def _sql_nearest3(v, k0, k1, k2):
    """0-based nearest-knot index, iterative-min first-wins semantics
    (mirrors calibration._lut_nearest_idx exactly)."""
    d0 = f"(({v} - {k0}) * ({v} - {k0}))"
    d1 = f"(({v} - {k1}) * ({v} - {k1}))"
    d2 = f"(({v} - {k2}) * ({v} - {k2}))"
    return (
        f"CASE WHEN {d1} < {d0} THEN (CASE WHEN {d2} < {d1} THEN 2 ELSE 1 END) "
        f"ELSE (CASE WHEN {d2} < {d0} THEN 2 ELSE 0 END) END"
    )


def _sql_nearest2(v, k0, k1):
    return (
        f"CASE WHEN (({v} - {k1}) * ({v} - {k1})) < (({v} - {k0}) * ({v} - {k0})) "
        f"THEN 1 ELSE 0 END"
    )


def _build_oracle_q128() -> str:
    e = CAL128_ELEV_LUT
    knots = [k for k, *_ in e]
    srefs = [_sql_sref_6s(a, b, c) for _, a, b, c in e]
    dirs = [d for _, d, _, _ in CAL128_IRR_LUT]
    difs = [d for _, _, d, _ in CAL128_IRR_LUT]
    tots = [a + b + c for _, a, b, c in CAL128_IRR_LUT]
    pick3 = lambda col, vals: (
        f"CASE WHEN {col} = 0 THEN {vals[0]} WHEN {col} = 1 THEN {vals[1]} "
        f"ELSE {vals[2]} END"
    )
    # elev×AOT nested nearest (2×2)
    al = CAL128_AOT_LUT
    ia = _sql_nearest2("elev", al[0][0], al[1][0])
    ja = _sql_nearest2("aot", al[0][1][0][0], al[0][1][1][0])
    s = {
        (i, j): _sql_sref_6s(*al[i][1][j][1:4])
        for i in range(2)
        for j in range(2)
    }
    sref_aot = (
        f"LEAST(1000.0, CASE WHEN iel2 = 0 THEN "
        f"(CASE WHEN ia2 = 0 THEN {s[(0,0)]} ELSE {s[(0,1)]} END) ELSE "
        f"(CASE WHEN ia2 = 0 THEN {s[(1,0)]} ELSE {s[(1,1)]} END) END)"
    )
    return f"""
WITH b2 AS ({_CAL128_BASE_SQL.strip()}),
idx AS (
  SELECT *,
         {_sql_nearest3("elev", *knots)} AS i1,
         {ia} AS iel2,
         {ja} AS ia2
  FROM b2
),
idx2 AS (
  SELECT *,
         {pick3("i1", knots)} AS e1,
         CASE WHEN i1 = 0 THEN 1 WHEN i1 = 2 THEN 1
              ELSE (CASE WHEN elev - {pick3("i1", knots)} < 0 THEN 0 ELSE 2 END)
         END AS i2
  FROM idx
),
prop AS (
  SELECT *,
         {pick3("i2", knots)} AS e2,
         1.0 - ABS(elev - e1) / ABS(e1 - {pick3("i2", knots)}) AS prop1,
         1.0 - ABS(elev - {pick3("i2", knots)}) / ABS(e1 - {pick3("i2", knots)}) AS prop2
  FROM idx2
),
sref AS (
  SELECT *,
         LEAST(1000.0, {pick3("i1", srefs)} * prop1 + {pick3("i2", srefs)} * prop2) AS sref_elev_u,
         (CASE WHEN shadow = 1 THEN 0.0 ELSE 1.0 END)
           * (COS(RADIANS(inc_ang)) / COS(RADIANS(35.0)))
           * ({pick3("i1", dirs)} * prop1 + {pick3("i2", dirs)} * prop2) AS irr_dir_u,
         ((1.0 + COS(RADIANS(slope))) / 2.0)
           * ({pick3("i1", difs)} * prop1 + {pick3("i2", difs)} * prop2) AS irr_dif_u,
         ({pick3("i1", tots)} * prop1 + {pick3("i2", tots)} * prop2)
           * ((1.0 - COS(RADIANS(slope))) / 2.0) * 0.2 AS irr_env_u
  FROM prop
),
irr AS (
  SELECT *, irr_dir_u + irr_dif_u + irr_env_u AS irr_tot_u FROM sref
),
std AS (
  SELECT *,
         sref_elev_u / 1000.0 * irr_tot_u
           / (irr_dir_u * ((COS(RADIANS(inc_ang)) + COS(RADIANS(exit_ang)))
                           / (COS(RADIANS(0.0)) + COS(RADIANS(0.0))))
              + irr_dif_u * 1.0) * 1000.0 AS std_refl_u,
         py_c - (-1.0 / 0.75) * px_c AS orth_b
  FROM irr
),
na AS (
  SELECT *,
         (orth_b - 1234.5) / (0.75 - (-1.0 / 0.75)) AS ix
  FROM std
),
na2 AS (
  SELECT *,
         SQRT((ix - px_c) * (ix - px_c)
              + ((ix * 0.75 + 1234.5) - py_c) * ((ix * 0.75 + 1234.5) - py_c)) AS ndist
  FROM na
)
SELECT dn,
       ROUND(100000.0 * dn / (728.0 * 0.0713), 6) AS l_ikonos,
       ROUND((dn - 1.0) * 0.676, 6) AS l_aster,
       ROUND((152.0 - 0.0) / (255.0 - 1.0) * (dn - 1.0) + 0.0, 6) AS l_irs,
       ROUND(dn * 0.01604 / 0.0713, 6) AS l_qb16,
       ROUND(dn * 0.01604 * 1.02 / 0.0713, 6) AS l_qb8,
       ROUND(CASE WHEN dn = 255.0 THEN 1.0 ELSE 0.0 END, 6) AS sat_mask,
       ROUND(CASE WHEN dn = 0.0 THEN 0.0
                  WHEN dn - 12.0 + 0.02 <= 0 THEN 1.0
                  ELSE dn - 12.0 + 0.02 END, 6) AS dos_single,
       ROUND(sref_elev_u, 6) AS sref_elev,
       ROUND({sref_aot}, 6) AS sref_elev_aot,
       ROUND(irr_dir_u, 6) AS irr_dir,
       ROUND(irr_dif_u, 6) AS irr_dif,
       ROUND(irr_env_u, 6) AS irr_env,
       ROUND(irr_tot_u, 6) AS irr_tot,
       ROUND(CASE WHEN std_refl_u < 1 THEN 1.0 ELSE std_refl_u END, 6) AS std_refl,
       ROUND(90.0 - ATAN(705000.0 / ndist) * (180.0 / PI()), 6) AS view_ang,
       ROUND(PI() * l_ma * {_CAL_D} * {_CAL_D} / rho / {_CAL119_CZ}, 6) AS esun_chk,
       ROUND(3.9449 / vis + 0.08498, 6) AS aot_est
FROM na2
"""


ORACLE_Q128 = _build_oracle_q128()


def q68_distance_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-target-pixels (calc_dist_to_img_vals,
    imagecalc/__init__.py:136-236): exact chessboard distance transform
    per image (two-pass chamfer kernel), rolled up to integer-exact
    per-image sums. Targets = pixels where the band is 0."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels.disttrans import chebyshev_distance_transform

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _dt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                band = BK.synth_band_grid(k, w, h, "red")
                targets = band == 0
                if not targets.any():
                    continue  # oracle inner-join drops target-free images
                d = chebyshev_distance_transform(targets)
                rows.append((k, int(targets.sum()), int(d.sum()), int(d.max())))
            yield pd.DataFrame(rows, columns=["image_key", "n_targets", "sum_dist", "max_dist"])

    return gi.mapInPandas(
        _dt, schema="image_key long, n_targets long, sum_dist long, max_dist long"
    )


ORACLE_Q68 = _cte(f"""
, px AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS red
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), targets AS (
  SELECT image_key, px AS tx, py AS ty FROM px WHERE red = 0
), dist AS (
  SELECT p.image_key, p.px, p.py,
         MIN(GREATEST(ABS(p.px - t.tx), ABS(p.py - t.ty))) AS d
  FROM px p JOIN targets t ON p.image_key = t.image_key
  GROUP BY 1, 2, 3
)
SELECT d.image_key,
       (SELECT COUNT(*) FROM targets t WHERE t.image_key = d.image_key) AS n_targets,
       CAST(SUM(d.d) AS BIGINT) AS sum_dist, CAST(MAX(d.d) AS BIGINT) AS max_dist
FROM dist d GROUP BY d.image_key
""")


COARSE = 8


def q69_coarse_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_img_sum_stats_in_pxl (imagecalc.cpp:2383-2407): stats of fine
    pixels within each coarse pixel (resolution-ratio grouping), rolled
    up per image — engine uses reduceat block reductions."""
    from rsgislib_spark.kernels import bands as BK

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _cs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                g = BK.synth_band_grid(k, w, h, "red")
                xs = np.arange(0, w, COARSE)
                ys = np.arange(0, h, COARSE)
                mins = np.minimum.reduceat(np.minimum.reduceat(g, ys, 0), xs, 1)
                maxs = np.maximum.reduceat(np.maximum.reduceat(g, ys, 0), xs, 1)
                rows.append(
                    (k, mins.size, int(mins.sum()), int(maxs.sum()))
                )
            yield pd.DataFrame(
                rows, columns=["image_key", "n_coarse", "sum_cell_min", "sum_cell_max"]
            )

    return gi.mapInPandas(
        _cs, schema="image_key long, n_coarse long, sum_cell_min long, sum_cell_max long"
    )


ORACLE_Q69 = _cte(f""", {PIXELS_CTE}
, cells AS (
  SELECT image_key, px // {COARSE} AS cx, py // {COARSE} AS cy,
         MIN(red) AS cell_min, MAX(red) AS cell_max
  FROM pixels GROUP BY 1, 2, 3
)
SELECT image_key, COUNT(*) AS n_coarse,
       CAST(SUM(cell_min) AS BIGINT) AS sum_cell_min,
       CAST(SUM(cell_max) AS BIGINT) AS sum_cell_max
FROM cells GROUP BY image_key
""")


def q71_spatial_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perform_spatial_join with join_how='left'
    (vectorutils/__init__.py:2196-2207): unmatched images kept with null
    zone attributes (coalesced for stable hashing)."""
    from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark)).withColumnRenamed("image_key", "image_id")
    zones = spark.createDataFrame(_zones_with_wkb(spark))
    out = spatial_join_broadcast(
        gi, zones, join_op="within", join_how="left", id_col="image_id"
    )
    return out.select(
        F.col("image_id").alias("image_key"),
        F.coalesce("zone_id", F.lit(-1)).alias("zone_id"),
        F.coalesce("class_name", F.lit("<none>")).alias("class_name"),
    )


ORACLE_Q71 = _cte("""
SELECT i.image_key, COALESCE(z.zone_id, -1) AS zone_id,
       COALESCE(z.class_name, '<none>') AS class_name
FROM geo_images i LEFT JOIN geo_zones z
ON z.minx <= i.minx AND i.maxx <= z.maxx AND z.miny <= i.miny AND i.maxy <= z.maxy
""")


# q37 upgrade: the SimHash bit-majority IS ANSI-SQL-expressible — hex
# nibbles of md5 decode to the same 64 bits the engine's pandas UDF uses
# (first 8 digest bytes big-endian; bit b = nibble (15 - b//4) >> (b%4)).
ORACLE_Q37 = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM documents
), bits AS (
  SELECT doc_id, token, b.b AS b,
         (((strpos('0123456789abcdef', substr(md5(token), 16 - b.b // 4, 1)) - 1)
           >> (b.b % 4)) & 1) AS bit
  FROM toks, LATERAL (SELECT unnest(generate_series(0, 63)) AS b) b
), acc AS (
  SELECT doc_id, b, SUM(2 * bit - 1) AS a FROM bits GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN a > 0 THEN
            CASE WHEN b = 63 THEN -9223372036854775808
                 ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END
            ELSE 0 END) AS BIGINT) AS simhash
FROM acc GROUP BY doc_id
"""


def q73_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier train→broadcast→predict pattern (SURVEY §2.10:
    sklearn/xgboost wrappers fit locally on extracted samples, predict
    per block). Model = nearest-class-centroid on (f1,f2,f3), closed-form
    from integer sums so the oracle reproduces training relationally:
    train on is_train=1 (class = v ≥ 500), broadcast the centroids,
    predict the held-out points, emit the confusion matrix."""
    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    train = pts.filter("is_train = 1").withColumn(
        "cls", (F.col("v") >= 500).cast("int")
    )
    cents = {
        int(r["cls"]): (r["sf1"], r["sf2"], r["sf3"], r["n"])
        for r in train.groupBy("cls").agg(
            F.sum("f1").alias("sf1"), F.sum("f2").alias("sf2"),
            F.sum("f3").alias("sf3"), F.count("*").alias("n"),
        ).collect()
    }

    if len(cents) < 2:
        # a class absent from training ⇒ no model; the oracle's CROSS
        # JOIN with the empty centroid CTE yields zero rows — mirror it
        return spark.createDataFrame([], "true_cls int, pred_cls int, n long")

    def d2(c):
        sf1, sf2, sf3, n = cents[c]
        # distance² to the centroid scaled by n² so everything stays in
        # exact integer arithmetic: |n·x − Σf|²
        return (
            (F.col("f1") * n - sf1) * (F.col("f1") * n - sf1)
            + (F.col("f2") * n - sf2) * (F.col("f2") * n - sf2)
            + (F.col("f3") * n - sf3) * (F.col("f3") * n - sf3)
        ) / F.lit(float(n * n))

    test = pts.filter("is_train = 0").withColumn(
        "true_cls", (F.col("v") >= 500).cast("int")
    )
    pred = F.when(d2(0) <= d2(1), 0).otherwise(1)
    return (
        test.withColumn("pred_cls", pred)
        .groupBy("true_cls", "pred_cls")
        .agg(F.count("*").alias("n"))
    )


ORACLE_Q73 = _cte("""
, train AS (
  SELECT f1, f2, f3, CASE WHEN v >= 500 THEN 1 ELSE 0 END AS cls
  FROM geo_points WHERE is_train = 1
), c AS (
  SELECT cls, SUM(f1) sf1, SUM(f2) sf2, SUM(f3) sf3, COUNT(*) n
  FROM train GROUP BY cls
), c0 AS (SELECT * FROM c WHERE cls = 0), c1 AS (SELECT * FROM c WHERE cls = 1),
test AS (
  SELECT p.f1, p.f2, p.f3, CASE WHEN p.v >= 500 THEN 1 ELSE 0 END AS true_cls,
         ((p.f1 * c0.n - c0.sf1) * (p.f1 * c0.n - c0.sf1)
          + (p.f2 * c0.n - c0.sf2) * (p.f2 * c0.n - c0.sf2)
          + (p.f3 * c0.n - c0.sf3) * (p.f3 * c0.n - c0.sf3)) / CAST(c0.n * c0.n AS DOUBLE) AS d0,
         ((p.f1 * c1.n - c1.sf1) * (p.f1 * c1.n - c1.sf1)
          + (p.f2 * c1.n - c1.sf2) * (p.f2 * c1.n - c1.sf2)
          + (p.f3 * c1.n - c1.sf3) * (p.f3 * c1.n - c1.sf3)) / CAST(c1.n * c1.n AS DOUBLE) AS d1
  FROM geo_points p CROSS JOIN c0 CROSS JOIN c1
  WHERE p.is_train = 0
)
SELECT true_cls, CASE WHEN d0 <= d1 THEN 0 ELSE 1 END AS pred_cls, COUNT(*) AS n
FROM test GROUP BY 1, 2
""")


def q75_reproject_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRS reprojection (reproject_image / reproj_vector_layer,
    imageutils/__init__.py:2104-2450, vectorutils/__init__.py:779-1059):
    footprints treated as EPSG:3857 metres, transformed to EPSG:4326 by
    the pure-numpy CRS kernel, and round-tripped back. The oracle
    recomputes the FORWARD web-mercator formula in SQL (closed form) and
    the round-trip must land back on the integer lattice — both are
    hash-level statements about the kernel's correctness."""
    from rsgislib_spark.operators.reproject import reproject_footprints

    load_views(spark, sf_dir)
    gi = _geo_images(spark).select("image_key", "minx", "miny", "maxx", "maxy")
    deg = reproject_footprints(gi, 3857, 4326)
    back = reproject_footprints(deg, 4326, 3857)
    d = deg.select(
        "image_key",
        F.round("minx", 6).alias("lon_min"),
        F.round("miny", 6).alias("lat_min"),
        F.round("maxx", 6).alias("lon_max"),
        F.round("maxy", 6).alias("lat_max"),
    )
    b = back.select(
        "image_key",
        F.round("minx", 3).alias("rt_minx"),
        F.round("miny", 3).alias("rt_miny"),
        F.round("maxx", 3).alias("rt_maxx"),
        F.round("maxy", 3).alias("rt_maxy"),
    )
    return d.join(b, "image_key")


# R = WGS84 semi-major; forward spherical mercator inverse is closed-form
_MERC = "6378137.0"
ORACLE_Q75 = _cte(f"""
SELECT image_key,
       ROUND(DEGREES(minx / {_MERC}), 6) AS lon_min,
       ROUND(DEGREES(2 * ATAN(EXP(miny / {_MERC})) - PI() / 2), 6) AS lat_min,
       ROUND(DEGREES(maxx / {_MERC}), 6) AS lon_max,
       ROUND(DEGREES(2 * ATAN(EXP(maxy / {_MERC})) - PI() / 2), 6) AS lat_max,
       ROUND(minx, 3) AS rt_minx, ROUND(miny, 3) AS rt_miny,
       ROUND(maxx, 3) AS rt_maxx, ROUND(maxy, 3) AS rt_maxy
FROM geo_images
""")


def q76_resample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear resampling (resample_img_to_match interp=bilinear,
    imageutils/__init__.py:2104-2209): sample every image's red band at
    the (px+0.25, py+0.75) fractional lattice through the bilinear
    kernel. The 16× sample values are exact integers (weights 3/16, 1/16,
    9/16, 3/16 over int pixels), so the per-image sums are hash-exact
    against the relational 4-corner weighted sum."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels.resample import bilinear_sample

    load_views(spark, sf_dir)
    gi = _px_images(spark).select("image_key", "w", "h")

    def _bl(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                grid = BK.synth_band_grid(k, w, h, "red")
                gx, gy = np.meshgrid(
                    np.arange(w - 1, dtype=np.float64) + 0.25,
                    np.arange(h - 1, dtype=np.float64) + 0.75,
                )
                vals = bilinear_sample(grid, gx.ravel(), gy.ravel())
                s16 = int(np.rint(vals * 16.0).astype(np.int64).sum())
                rows.append((k, (w - 1) * (h - 1), s16))
            yield pd.DataFrame(rows, columns=["image_key", "n_samples", "sum16_bilinear"])

    return gi.mapInPandas(
        _bl, schema="image_key long, n_samples long, sum16_bilinear long"
    )


ORACLE_Q76 = _cte(f"""
, corners AS (
  SELECT image_key,
         (image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS v00,
         (image_key * 7 + (gx.px + 1) * 13 + gy.py * 17) % 251 AS v10,
         (image_key * 7 + gx.px * 13 + (gy.py + 1) * 17) % 251 AS v01,
         (image_key * 7 + (gx.px + 1) * 13 + (gy.py + 1) * 17) % 251 AS v11
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 2)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 2)) AS py) gy
  WHERE image_key % {PX_SUBSET} = 0
)
SELECT image_key, COUNT(*) AS n_samples,
       CAST(SUM(3 * v00 + v10 + 9 * v01 + 3 * v11) AS BIGINT) AS sum16_bilinear
FROM corners GROUP BY image_key
""")


def q77_overlay_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-output DIFFERENCE overlay (vec_lyr_difference / gp
    difference, vectorgeoms/__init__.py:1189-1240, :2321-2476): per
    image, the exact area of image − ∪zones from the engine's
    coordinate-compression sweep (operators/overlay.py). Areas are in
    1/16 world units (the zones' 0.25 lattice squared), so the oracle —
    an independent strip + interval-union sweep written in SQL window
    functions — must agree to the integer."""
    from rsgislib_spark.operators.overlay import overlay_difference

    load_views(spark, sf_dir)
    gi = _geo_images(spark)
    zones_pdf = _zones_with_wkb(spark)
    parts = overlay_difference(
        gi.select(F.col("image_key").alias("image_id"), "minx", "miny", "maxx", "maxy"),
        zones_pdf,
        id_col="image_id",
        scale=4,
    )
    agg = parts.groupBy(F.col("image_id").alias("image_key")).agg(
        F.sum("part_area_scaled").alias("diff_area16")
    )
    return (
        gi.select("image_key")
        .join(agg, "image_key", "left")
        .fillna({"diff_area16": 0})
        .select("image_key", F.col("diff_area16").cast("long").alias("diff_area16"))
    )


# Independent relational sweep: vertical strips from clipped zone x-edges;
# per strip, interval-union of active zone y-spans via a running-max
# window; covered = Σ strip_width × merged length. All on the ×4 integer
# lattice, so the comparison is exact.
ORACLE_Q77 = _cte("""
, cand AS (
  SELECT i.image_key,
         GREATEST(CAST(z.minx * 4 AS BIGINT), CAST(i.minx * 4 AS BIGINT)) AS zx0,
         GREATEST(CAST(z.miny * 4 AS BIGINT), CAST(i.miny * 4 AS BIGINT)) AS zy0,
         LEAST(CAST(z.maxx * 4 AS BIGINT), CAST(i.maxx * 4 AS BIGINT)) AS zx1,
         LEAST(CAST(z.maxy * 4 AS BIGINT), CAST(i.maxy * 4 AS BIGINT)) AS zy1
  FROM geo_images i JOIN geo_zones z
    ON z.minx < i.maxx AND z.maxx > i.minx AND z.miny < i.maxy AND z.maxy > i.miny
), xs AS (
  SELECT DISTINCT image_key, zx0 AS x FROM cand
  UNION SELECT DISTINCT image_key, zx1 FROM cand
), strips AS (
  SELECT image_key, x AS sx0,
         LEAD(x) OVER (PARTITION BY image_key ORDER BY x) AS sx1
  FROM xs
), iv AS (
  SELECT c.image_key, s.sx0, s.sx1, c.zy0, c.zy1
  FROM (SELECT * FROM strips WHERE sx1 IS NOT NULL) s
  JOIN cand c ON c.image_key = s.image_key AND c.zx0 <= s.sx0 AND c.zx1 >= s.sx1
), seg AS (
  SELECT image_key, sx0, sx1, zy0, zy1,
         MAX(zy1) OVER (PARTITION BY image_key, sx0 ORDER BY zy0, zy1
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
), cov AS (
  SELECT image_key,
         CAST(SUM((sx1 - sx0) *
              CASE WHEN pmax IS NULL OR pmax < zy0 THEN zy1 - zy0
                   WHEN pmax < zy1 THEN zy1 - pmax
                   ELSE 0 END) AS BIGINT) AS covered16
  FROM seg GROUP BY image_key
)
SELECT i.image_key,
       CAST((CAST(i.maxx * 4 AS BIGINT) - CAST(i.minx * 4 AS BIGINT))
            * (CAST(i.maxy * 4 AS BIGINT) - CAST(i.miny * 4 AS BIGINT))
            - COALESCE(c.covered16, 0) AS BIGINT) AS diff_area16
FROM geo_images i LEFT JOIN cov c USING (image_key)
""")


def q94_overlay_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTITY overlay (vectorgeoms/__init__.py:1295-1349,
    gp.overlay(how='identity')): per image, its pieces tagged by the
    covering zone (one part per overlapping pair) plus the uncovered
    remainder (null zone). Exact ×16 lattice areas; the oracle
    recomputes pair areas as clipped rects and the uncovered area with
    the q77 strip-sweep — covered + free must agree to the integer."""
    from rsgislib_spark.operators.overlay import overlay_identity

    load_views(spark, sf_dir)
    gi = _geo_images(spark)
    zones_pdf = _zones_with_wkb(spark)
    parts = overlay_identity(
        gi.select(F.col("image_key").alias("image_id"), "minx", "miny", "maxx", "maxy"),
        zones_pdf,
        id_col="image_id",
        scale=4,
    )
    return (
        parts.groupBy(F.col("image_id").alias("image_key"))
        .agg(
            F.count(F.col("zone_id")).alias("n_zone_parts"),
            F.coalesce(
                F.sum(F.when(F.col("zone_id").isNotNull(), F.col("part_area_scaled"))),
                F.lit(0),
            ).cast("long").alias("zone_area16"),
            F.coalesce(
                F.sum(F.when(F.col("zone_id").isNull(), F.col("part_area_scaled"))),
                F.lit(0),
            ).cast("long").alias("free_area16"),
        )
    )


ORACLE_Q94 = _cte("""
, cand AS (
  SELECT i.image_key,
         GREATEST(CAST(z.minx * 4 AS BIGINT), CAST(i.minx * 4 AS BIGINT)) AS zx0,
         GREATEST(CAST(z.miny * 4 AS BIGINT), CAST(i.miny * 4 AS BIGINT)) AS zy0,
         LEAST(CAST(z.maxx * 4 AS BIGINT), CAST(i.maxx * 4 AS BIGINT)) AS zx1,
         LEAST(CAST(z.maxy * 4 AS BIGINT), CAST(i.maxy * 4 AS BIGINT)) AS zy1
  FROM geo_images i JOIN geo_zones z
    ON z.minx < i.maxx AND z.maxx > i.minx AND z.miny < i.maxy AND z.maxy > i.miny
), pairs AS (
  SELECT image_key, COUNT(*) AS n_zone_parts,
         CAST(SUM((zx1 - zx0) * (zy1 - zy0)) AS BIGINT) AS zone_area16
  FROM cand GROUP BY image_key
), xs AS (
  SELECT DISTINCT image_key, zx0 AS x FROM cand
  UNION SELECT DISTINCT image_key, zx1 FROM cand
), strips AS (
  SELECT image_key, x AS sx0,
         LEAD(x) OVER (PARTITION BY image_key ORDER BY x) AS sx1
  FROM xs
), iv AS (
  SELECT c.image_key, s.sx0, s.sx1, c.zy0, c.zy1
  FROM (SELECT * FROM strips WHERE sx1 IS NOT NULL) s
  JOIN cand c ON c.image_key = s.image_key AND c.zx0 <= s.sx0 AND c.zx1 >= s.sx1
), seg AS (
  SELECT image_key, sx0, sx1, zy0, zy1,
         MAX(zy1) OVER (PARTITION BY image_key, sx0 ORDER BY zy0, zy1
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
), cov AS (
  SELECT image_key,
         CAST(SUM((sx1 - sx0) *
              CASE WHEN pmax IS NULL OR pmax < zy0 THEN zy1 - zy0
                   WHEN pmax < zy1 THEN zy1 - pmax
                   ELSE 0 END) AS BIGINT) AS covered16
  FROM seg GROUP BY image_key
)
SELECT i.image_key,
       CAST(COALESCE(p.n_zone_parts, 0) AS BIGINT) AS n_zone_parts,
       CAST(COALESCE(p.zone_area16, 0) AS BIGINT) AS zone_area16,
       CAST((CAST(i.maxx * 4 AS BIGINT) - CAST(i.minx * 4 AS BIGINT))
            * (CAST(i.maxy * 4 AS BIGINT) - CAST(i.miny * 4 AS BIGINT))
            - COALESCE(c.covered16, 0) AS BIGINT) AS free_area16
FROM geo_images i LEFT JOIN pairs p USING (image_key) LEFT JOIN cov c USING (image_key)
""")


def q78_overlay_symdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric-difference overlay per intersecting pair
    (vectorgeoms/__init__.py:1241-1294): |A△B| = |A| + |B| − 2|A∩B|,
    the intersection coming from the Sutherland–Hodgman clip kernel.
    Areas ×16 are integers on the fixture lattice."""
    from rsgislib_spark.operators.overlay import overlay_sym_difference_pairs

    load_views(spark, sf_dir)
    gi = _geo_images(spark)
    zones_pdf = _zones_with_wkb(spark)
    out = overlay_sym_difference_pairs(
        gi.select(F.col("image_key").alias("image_id"), "minx", "miny", "maxx", "maxy"),
        zones_pdf,
        id_col="image_id",
    )
    return out.select(
        F.col("image_id").alias("image_key"),
        "zone_id",
        F.round(F.col("sym_diff_area") * 16, 0).cast("long").alias("sym16"),
    )


ORACLE_Q78 = _cte("""
SELECT i.image_key, z.zone_id,
       CAST(ROUND(((i.maxx - i.minx) * (i.maxy - i.miny)
                   + (z.maxx - z.minx) * (z.maxy - z.miny)
                   - 2 * (LEAST(i.maxx, z.maxx) - GREATEST(i.minx, z.minx))
                       * (LEAST(i.maxy, z.maxy) - GREATEST(i.miny, z.miny))) * 16, 0)
            AS BIGINT) AS sym16
FROM geo_images i JOIN geo_zones z
  ON z.minx < i.maxx AND z.maxx > i.minx AND z.miny < i.maxy AND z.maxy > i.miny
""")


def q79_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (kmeans_clustering,
    imagecalc.cpp:1888-1942): init = features of the 4 smallest pt_ids,
    ONE Lloyd update, final assignment → per-cluster counts and means.
    The oracle unrolls both iterations relationally; every arithmetic
    step (integer sums, single-division means, left-to-right dist²) is
    written identically in both engines, so assignment is hash-exact
    with centroid-id tie-breaks."""
    from rsgislib_spark.functions.clustering import kmeans_assign, kmeans_fit

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select("pt_id", "f1", "f2", "f3")
    feats = ["f1", "f2", "f3"]
    cents = kmeans_fit(pts, feats, k=4, n_iter=1, id_col="pt_id")
    final = kmeans_assign(pts, feats, cents)
    return final.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.sum(F.col(c).cast("double")) / F.count("*"), 6).alias(f"mean_{c}")
            for c in feats
        ],
    )


ORACLE_Q79 = _cte("""
, pts AS (
  SELECT pt_id, CAST(f1 AS DOUBLE) AS f1, CAST(f2 AS DOUBLE) AS f2,
         CAST(f3 AS DOUBLE) AS f3
  FROM geo_points
), init AS (
  SELECT ROW_NUMBER() OVER (ORDER BY pt_id) - 1 AS c, f1 AS m1, f2 AS m2, f3 AS m3
  FROM pts ORDER BY pt_id LIMIT 4
), a1 AS (
  SELECT pt_id, f1, f2, f3, c FROM (
    SELECT p.pt_id, p.f1, p.f2, p.f3, i.c,
           ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
             (p.f1 - i.m1) * (p.f1 - i.m1) + (p.f2 - i.m2) * (p.f2 - i.m2)
             + (p.f3 - i.m3) * (p.f3 - i.m3) ASC, i.c ASC) AS rn
    FROM pts p CROSS JOIN init i
  ) t WHERE rn = 1
), upd AS (
  SELECT c, COUNT(*) AS n, SUM(f1) AS sf1, SUM(f2) AS sf2, SUM(f3) AS sf3
  FROM a1 GROUP BY c
), m1t AS (
  SELECT i.c,
         COALESCE(u.sf1 / u.n, i.m1) AS m1,
         COALESCE(u.sf2 / u.n, i.m2) AS m2,
         COALESCE(u.sf3 / u.n, i.m3) AS m3
  FROM init i LEFT JOIN upd u ON i.c = u.c
), a2 AS (
  SELECT pt_id, f1, f2, f3, c FROM (
    SELECT p.pt_id, p.f1, p.f2, p.f3, m.c,
           ROW_NUMBER() OVER (PARTITION BY p.pt_id ORDER BY
             (p.f1 - m.m1) * (p.f1 - m.m1) + (p.f2 - m.m2) * (p.f2 - m.m2)
             + (p.f3 - m.m3) * (p.f3 - m.m3) ASC, m.c ASC) AS rn
    FROM pts p CROSS JOIN m1t m
  ) t WHERE rn = 1
)
SELECT CAST(c AS INT) AS cluster, COUNT(*) AS n,
       ROUND(SUM(f1) / COUNT(*), 6) AS mean_f1,
       ROUND(SUM(f2) / COUNT(*), 6) AS mean_f2,
       ROUND(SUM(f3) / COUNT(*), 6) AS mean_f3
FROM a2 GROUP BY c
""")


def q80_pca_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA beyond the covariance matrix (get_pca_eigen_vector +
    perform_image_pca apply, imagecalc/__init__.py:594-818): fit the
    3-feature eigendecomposition, PROJECT every point through the
    Catalyst score expressions, and report per-component variance next
    to the eigenvalue — projected variance must equal the eigenvalue,
    which the oracle reproduces with the closed-form trigonometric
    eigenvalues of the symmetric 3×3 covariance. ROUND 2 absorbs the
    LAPACK-vs-closed-form last bits."""
    from rsgislib_spark.functions.pca import pca_apply, pca_fit

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select("f1", "f2", "f3")
    model = pca_fit(pts, ["f1", "f2", "f3"])
    proj = pca_apply(pts, model)
    r = proj.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col(f"pc{i+1}") * F.col(f"pc{i+1}")).alias(f"ss{i}") for i in range(3)],
        *[F.sum(F.col(f"pc{i+1}")).alias(f"s{i}") for i in range(3)],
    ).first()
    n = float(r["n"])
    rows = []
    for i in range(3):
        var = r[f"ss{i}"] / n - (r[f"s{i}"] / n) ** 2
        rows.append(
            (
                i + 1,
                _round_half_away(float(model.eigenvalues[i]), 2),
                _round_half_away(float(var), 2),
            )
        )
    return spark.createDataFrame(
        rows, "comp int, eigenvalue_r2 double, proj_var_r2 double"
    )


ORACLE_Q80 = _cte("""
, s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f2) AS BIGINT) AS s2,
         CAST(SUM(f3) AS BIGINT) AS s3,
         CAST(SUM(f1*f1) AS BIGINT) AS s11, CAST(SUM(f1*f2) AS BIGINT) AS s12,
         CAST(SUM(f1*f3) AS BIGINT) AS s13, CAST(SUM(f2*f2) AS BIGINT) AS s22,
         CAST(SUM(f2*f3) AS BIGINT) AS s23, CAST(SUM(f3*f3) AS BIGINT) AS s33
  FROM geo_points
), cv AS (
  SELECT (s11 - CAST(s1 AS DOUBLE) * s1 / n) / n AS a11,
         (s22 - CAST(s2 AS DOUBLE) * s2 / n) / n AS a22,
         (s33 - CAST(s3 AS DOUBLE) * s3 / n) / n AS a33,
         (s12 - CAST(s1 AS DOUBLE) * s2 / n) / n AS a12,
         (s13 - CAST(s1 AS DOUBLE) * s3 / n) / n AS a13,
         (s23 - CAST(s2 AS DOUBLE) * s3 / n) / n AS a23
  FROM s
), e AS (
  SELECT *, (a11 + a22 + a33) / 3.0 AS q,
         a12*a12 + a13*a13 + a23*a23 AS p1
  FROM cv
), e2 AS (
  SELECT *, SQRT(((a11-q)*(a11-q) + (a22-q)*(a22-q) + (a33-q)*(a33-q) + 2*p1) / 6.0) AS p
  FROM e
), e3 AS (
  SELECT *, ((a11-q)/p) * (((a22-q)/p)*((a33-q)/p) - (a23/p)*(a23/p))
          - (a12/p) * ((a12/p)*((a33-q)/p) - (a23/p)*(a13/p))
          + (a13/p) * ((a12/p)*(a23/p) - ((a22-q)/p)*(a13/p)) AS detb
  FROM e2
), e4 AS (
  SELECT *, ACOS(LEAST(GREATEST(detb / 2.0, -1.0), 1.0)) / 3.0 AS phi FROM e3
), lam AS (
  SELECT q + 2*p*COS(phi) AS l1,
         3*q - (q + 2*p*COS(phi)) - (q + 2*p*COS(phi + 2*PI()/3.0)) AS l2,
         q + 2*p*COS(phi + 2*PI()/3.0) AS l3
  FROM e4
)
SELECT 1 AS comp, ROUND(l1, 2) AS eigenvalue_r2, ROUND(l1, 2) AS proj_var_r2 FROM lam
UNION ALL SELECT 2, ROUND(l2, 2), ROUND(l2, 2) FROM lam
UNION ALL SELECT 3, ROUND(l3, 2), ROUND(l3, 2) FROM lam
""")


def _zone_value_hist_df(spark: SparkSession) -> DataFrame:
    """Shared per-(zone, pixel value) histogram over the synth red band
    (pixel-centre inclusion) — partials are ≤256 rows per zone per task,
    so the shuffle is O(zones·256) regardless of pixel count. Feeds both
    the mode/median (q81) and percentile (q92) finalizers."""
    gi = _px_images(spark).select("image_key", "minx", "maxy", "w", "h")
    zones = _geo_zones(spark).select("zone_id", "minx", "miny", "maxx", "maxy").collect()
    zarr = np.array([[z["zone_id"], z["minx"], z["miny"], z["maxx"], z["maxy"]] for z in zones])
    zb = spark.sparkContext.broadcast(zarr)
    from rsgislib_spark.kernels import bands as BK

    def _hist(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        za = zb.value
        for pdf in it:
            acc: dict = {}
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                minx, maxy = float(rec.minx), float(rec.maxy)
                grid = BK.synth_band_grid(k, w, h, "red")
                # candidate zones overlapping the footprint
                m = (
                    (za[:, 1] < minx + w * 10.0) & (za[:, 3] > minx)
                    & (za[:, 2] < maxy) & (za[:, 4] > maxy - h * 10.0)
                )
                for zid, zx0, zy0, zx1, zy1 in za[m]:
                    # pixel centres: minx + (ix+0.5)*10 ∈ [zx0, zx1] (no
                    # lattice ties: centres integer+5, zones +0.25)
                    ix0 = max(0, int(np.ceil((zx0 - minx) / 10.0 - 0.5)))
                    ix1 = min(w - 1, int(np.floor((zx1 - minx) / 10.0 - 0.5)))
                    iy0 = max(0, int(np.ceil((maxy - zy1) / 10.0 - 0.5)))
                    iy1 = min(h - 1, int(np.floor((maxy - zy0) / 10.0 - 0.5)))
                    if ix0 > ix1 or iy0 > iy1:
                        continue
                    vals = grid[iy0 : iy1 + 1, ix0 : ix1 + 1].ravel()
                    counts = np.bincount(vals, minlength=256)
                    zid = int(zid)
                    prev = acc.get(zid)
                    acc[zid] = counts if prev is None else prev + counts
            rows = []
            for zid, counts in acc.items():
                for v in np.flatnonzero(counts):
                    rows.append((zid, int(v), int(counts[v])))
            yield pd.DataFrame(rows, columns=["zone_id", "value", "cnt"])

    partial = gi.mapInPandas(_hist, schema="zone_id long, value int, cnt long")
    return partial.groupBy("zone_id", "value").agg(F.sum("cnt").alias("cnt"))


def q81_zonal_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon MODE + MEDIAN zonal stats (calc_zonal_band_stats
    mode/median columns, zonalstats/__init__.py:449-476) via exact
    per-zone value histograms: pixel centres inside the zone rect, synth
    red band, histogram partials (≤256 rows/zone shuffle), finalized by
    the shared cumulative-histogram mode/median (operators/zonal.py)."""
    from rsgislib_spark.operators.zonal import mode_median_from_histogram

    load_views(spark, sf_dir)
    return mode_median_from_histogram(_zone_value_hist_df(spark), ["zone_id"])


def q92_zonal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon PERCENTILES (p25/p50/p75) from the same exact per-zone
    value histograms — ``populate_rat_with_percentiles``
    (rastergis.cpp:1767-1791; impl RSGISPopRATWithStats.cpp:473-560:
    histogram fill :512, percentile from bins :536; golden values
    python_tests/test_zonalstats.py:108-1056). The reference
    approximates with 200 fixed bins; ours is exact because the 8-bit
    value domain IS the bin domain. Inverted-CDF convention: smallest
    value whose cumulative count reaches ceil(p·n)."""
    from rsgislib_spark.operators.zonal import percentiles_from_histogram

    load_views(spark, sf_dir)
    return percentiles_from_histogram(
        _zone_value_hist_df(spark), ["zone_id"], ps=(0.25, 0.50, 0.75)
    )


ORACLE_Q81 = _cte(f"""
, px AS (
  SELECT z.zone_id, (g.image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS v
  FROM geo_images g
  JOIN geo_zones z
    ON z.minx < g.maxx AND z.maxx > g.minx AND z.miny < g.maxy AND z.maxy > g.miny,
  LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS py) gy
  WHERE g.image_key % {PX_SUBSET} = 0
    AND g.minx + (gx.px + 0.5) * 10 >= z.minx AND g.minx + (gx.px + 0.5) * 10 <= z.maxx
    AND g.maxy - (gy.py + 0.5) * 10 >= z.miny AND g.maxy - (gy.py + 0.5) * 10 <= z.maxy
), hist AS (
  SELECT zone_id, v, COUNT(*) AS cnt FROM px GROUP BY 1, 2
), tot AS (
  SELECT zone_id, CAST(SUM(cnt) AS BIGINT) AS n_px FROM hist GROUP BY 1
), cum AS (
  SELECT zone_id, v, cnt, SUM(cnt) OVER (PARTITION BY zone_id ORDER BY v) AS cum
  FROM hist
), lo AS (
  SELECT c.zone_id, MIN(c.v) AS vlo
  FROM cum c JOIN tot t USING (zone_id) WHERE c.cum >= (t.n_px + 1) // 2 GROUP BY 1
), hi AS (
  SELECT c.zone_id, MIN(c.v) AS vhi
  FROM cum c JOIN tot t USING (zone_id) WHERE c.cum >= t.n_px // 2 + 1 GROUP BY 1
), md AS (
  SELECT zone_id, v AS mode FROM (
    SELECT zone_id, v, ROW_NUMBER() OVER (PARTITION BY zone_id ORDER BY cnt DESC, v ASC) AS rn
    FROM hist
  ) WHERE rn = 1
)
SELECT t.zone_id, t.n_px, CAST(md.mode AS INT) AS mode,
       ROUND((lo.vlo + hi.vhi) / 2.0, 1) AS median
FROM tot t JOIN md USING (zone_id) JOIN lo USING (zone_id) JOIN hi USING (zone_id)
""")


ORACLE_Q92 = _cte(f"""
, px AS (
  SELECT z.zone_id, (g.image_key * 7 + gx.px * 13 + gy.py * 17) % 251 AS v
  FROM geo_images g
  JOIN geo_zones z
    ON z.minx < g.maxx AND z.maxx > g.minx AND z.miny < g.maxy AND z.maxy > g.miny,
  LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS py) gy
  WHERE g.image_key % {PX_SUBSET} = 0
    AND g.minx + (gx.px + 0.5) * 10 >= z.minx AND g.minx + (gx.px + 0.5) * 10 <= z.maxx
    AND g.maxy - (gy.py + 0.5) * 10 >= z.miny AND g.maxy - (gy.py + 0.5) * 10 <= z.maxy
), hist AS (
  SELECT zone_id, v, COUNT(*) AS cnt FROM px GROUP BY 1, 2
), tot AS (
  SELECT zone_id, CAST(SUM(cnt) AS BIGINT) AS n_px FROM hist GROUP BY 1
), cum AS (
  SELECT zone_id, v, cnt, SUM(cnt) OVER (PARTITION BY zone_id ORDER BY v) AS cum
  FROM hist
), q25 AS (
  SELECT c.zone_id, CAST(MIN(c.v) AS INT) AS p25
  FROM cum c JOIN tot t USING (zone_id) WHERE c.cum >= CEIL(0.25 * t.n_px) GROUP BY 1
), q50 AS (
  SELECT c.zone_id, CAST(MIN(c.v) AS INT) AS p50
  FROM cum c JOIN tot t USING (zone_id) WHERE c.cum >= CEIL(0.5 * t.n_px) GROUP BY 1
), q75 AS (
  SELECT c.zone_id, CAST(MIN(c.v) AS INT) AS p75
  FROM cum c JOIN tot t USING (zone_id) WHERE c.cum >= CEIL(0.75 * t.n_px) GROUP BY 1
)
SELECT t.zone_id, t.n_px, q25.p25, q50.p50, q75.p75
FROM tot t JOIN q25 USING (zone_id) JOIN q50 USING (zone_id) JOIN q75 USING (zone_id)
""")


def q82_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain family (elevation.cpp: slope/aspect/hillshade): GDAL-
    formula hillshade of the synth red band as a DEM (Horn 3×3
    gradients, az 315°, alt 45°, res 10), interior pixels only so edge
    padding is out of scope. The oracle recomputes the closed-form
    neighbour gradients and the same trig relationally; per-image means
    rounded to 4 absorb summation-order ulps."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels import terrain as TK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _hs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                grid = BK.synth_band_grid(k, w, h, "red")
                hs = TK.hillshade(grid, res=10.0, azimuth=315.0, altitude=45.0)
                interior = hs[1:-1, 1:-1]
                rows.append(
                    (k, interior.size,
                     _round_half_away(float(interior.sum()) / interior.size, 4))
                )
            yield pd.DataFrame(rows, columns=["image_key", "n_px", "mean_hs"])

    return gi.mapInPandas(_hs, schema="image_key long, n_px long, mean_hs double")


ORACLE_Q82 = _cte(f"""
, g AS (
  SELECT image_key, gx.px AS px, gy.py AS py,
         ((image_key*7 + (gx.px+1)*13 + (gy.py-1)*17) % 251
          + 2*((image_key*7 + (gx.px+1)*13 + gy.py*17) % 251)
          + (image_key*7 + (gx.px+1)*13 + (gy.py+1)*17) % 251
          - ((image_key*7 + (gx.px-1)*13 + (gy.py-1)*17) % 251)
          - 2*((image_key*7 + (gx.px-1)*13 + gy.py*17) % 251)
          - ((image_key*7 + (gx.px-1)*13 + (gy.py+1)*17) % 251)) AS gx,
         ((image_key*7 + (gx.px-1)*13 + (gy.py+1)*17) % 251
          + 2*((image_key*7 + gx.px*13 + (gy.py+1)*17) % 251)
          + (image_key*7 + (gx.px+1)*13 + (gy.py+1)*17) % 251
          - ((image_key*7 + (gx.px-1)*13 + (gy.py-1)*17) % 251)
          - 2*((image_key*7 + gx.px*13 + (gy.py-1)*17) % 251)
          - ((image_key*7 + (gx.px+1)*13 + (gy.py-1)*17) % 251)) AS gy
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(1, w - 2)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(1, h - 2)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), hs AS (
  SELECT image_key,
         GREATEST(0.0, 255.0 * (
           COS(RADIANS(45.0)) * COS(ATAN(SQRT((gx/80.0)*(gx/80.0) + (gy/80.0)*(gy/80.0))))
           + SIN(RADIANS(45.0)) * SIN(ATAN(SQRT((gx/80.0)*(gx/80.0) + (gy/80.0)*(gy/80.0))))
             * COS(RADIANS(135.0) - ATAN2(gy/80.0, -(gx/80.0))))) AS v
  FROM g
)
SELECT image_key, COUNT(*) AS n_px, ROUND(SUM(v) / COUNT(*), 4) AS mean_hs
FROM hs GROUP BY image_key
""")


def q83_neigh_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbour-difference aggregates on the adjacency graph
    (calc_rel_diff_neigh_stats, rastergis.cpp:2002-2027): per zone, the
    stats of (own area − neighbour area) over the q26 adjacency edges —
    the aggregate half that was missing on top of the edge list."""
    from rsgislib_spark.operators.clump import rel_diff_neigh_stats

    load_views(spark, sf_dir)
    z = _geo_zones(spark)
    edges = q26_zone_adjacency(spark, sf_dir)
    # integer zone area as the attribute (zw·zh — integer-lattice exact)
    vals = z.select(
        "zone_id",
        ((F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny")))
        .cast("long")
        .alias("v"),
    )
    return rel_diff_neigh_stats(edges, vals)


ORACLE_Q83 = _cte("""
, vals AS (
  SELECT zone_id, CAST((maxx - minx) * (maxy - miny) AS BIGINT) AS v FROM geo_zones
), edges AS MATERIALIZED (
  SELECT a.zone_id AS zone_a, b.zone_id AS zone_b
  FROM geo_zones a JOIN geo_zones b
  ON a.zone_id < b.zone_id
  AND a.minx <= b.maxx AND a.maxx >= b.minx
  AND a.miny <= b.maxy AND a.maxy >= b.miny
), both_dir AS (
  SELECT zone_a AS zone_id, zone_b AS nbr FROM edges
  UNION ALL SELECT zone_b, zone_a FROM edges
), d AS (
  SELECT b.zone_id, vs.v - vn.v AS d
  FROM both_dir b JOIN vals vs ON vs.zone_id = b.zone_id
  JOIN vals vn ON vn.zone_id = b.nbr
)
SELECT zone_id, COUNT(*) AS n_neigh,
       MIN(d) AS min_diff, MAX(d) AS max_diff,
       CAST(SUM(d) AS BIGINT) AS sum_diff,
       ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS mean_diff
FROM d GROUP BY zone_id
""")


def q84_border_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Border-length + relative-border aggregates
    (calc_border_length / calc_rel_border, rastergis.cpp:1915-1965):
    classes = synth red band // 64; per (image, class), the count of
    4-adjacent pixel pairs whose classes differ (per side) and the
    fraction of that border shared with class 0."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.operators.clump import label_border_counts

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _bl(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                cls = BK.synth_band_grid(k, w, h, "red") // 64
                present, total, with_counts = label_border_counts(cls)
                for c in present:
                    nb = int(total[c])
                    nb0 = int(with_counts.get(int(c), {}).get(0, 0))
                    rows.append(
                        (k, int(c), nb, nb0, _round_half_away(nb0 / nb, 6))
                    )
            yield pd.DataFrame(
                rows, columns=["image_key", "cls", "n_border", "n_b0", "rel_b0"]
            )

    return gi.mapInPandas(
        _bl,
        schema="image_key long, cls int, n_border long, n_b0 long, rel_b0 double",
    )


ORACLE_Q84 = _cte(f"""
, px AS (
  SELECT image_key, w, h, gx.px AS px, gy.py AS py,
         ((image_key*7 + gx.px*13 + gy.py*17) % 251) // 64 AS c
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(0, w - 1)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(0, h - 1)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
), nb AS (
  SELECT image_key, c,
         CASE WHEN px + 1 < w AND ((image_key*7 + (px+1)*13 + py*17) % 251) // 64 <> c THEN 1 ELSE 0 END
         + CASE WHEN px - 1 >= 0 AND ((image_key*7 + (px-1)*13 + py*17) % 251) // 64 <> c THEN 1 ELSE 0 END
         + CASE WHEN py + 1 < h AND ((image_key*7 + px*13 + (py+1)*17) % 251) // 64 <> c THEN 1 ELSE 0 END
         + CASE WHEN py - 1 >= 0 AND ((image_key*7 + px*13 + (py-1)*17) % 251) // 64 <> c THEN 1 ELSE 0 END AS n_border,
         CASE WHEN px + 1 < w AND ((image_key*7 + (px+1)*13 + py*17) % 251) // 64 <> c
                   AND ((image_key*7 + (px+1)*13 + py*17) % 251) // 64 = 0 THEN 1 ELSE 0 END
         + CASE WHEN px - 1 >= 0 AND ((image_key*7 + (px-1)*13 + py*17) % 251) // 64 <> c
                   AND ((image_key*7 + (px-1)*13 + py*17) % 251) // 64 = 0 THEN 1 ELSE 0 END
         + CASE WHEN py + 1 < h AND ((image_key*7 + px*13 + (py+1)*17) % 251) // 64 <> c
                   AND ((image_key*7 + px*13 + (py+1)*17) % 251) // 64 = 0 THEN 1 ELSE 0 END
         + CASE WHEN py - 1 >= 0 AND ((image_key*7 + px*13 + (py-1)*17) % 251) // 64 <> c
                   AND ((image_key*7 + px*13 + (py-1)*17) % 251) // 64 = 0 THEN 1 ELSE 0 END AS n_b0
  FROM px
)
SELECT image_key, CAST(c AS INT) AS cls,
       CAST(SUM(n_border) AS BIGINT) AS n_border,
       CAST(SUM(n_b0) AS BIGINT) AS n_b0,
       ROUND(CAST(SUM(n_b0) AS DOUBLE) / SUM(n_border), 6) AS rel_b0
FROM nb GROUP BY 1, 2
HAVING SUM(n_border) > 0
""")


def q85_spatial_join_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast window join's pair list: (image, zone) pairs of an
    inner ``intersects`` join over the slim (image_id, bbox) projection,
    zone attributes dropped. Its oracle is q11's: the pairs must not
    depend on the image columns carried through the pass. Closed
    intervals, so an image that only touches a zone's edge is a pair."""
    from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

    load_views(spark, sf_dir)
    gi = _geo_images(spark).select(
        F.col("image_key").alias("image_id"), "minx", "miny", "maxx", "maxy"
    )
    zones = spark.createDataFrame(_zones_with_wkb(spark))
    out = spatial_join_broadcast(gi, zones, join_op="intersects", join_how="inner")
    return out.select(F.col("image_id").alias("image_key"), "zone_id")


ORACLE_Q85 = _cte("""
SELECT i.image_key, z.zone_id
FROM geo_images i JOIN geo_zones z
ON i.minx <= z.maxx AND i.maxx >= z.minx AND i.miny <= z.maxy AND i.maxy >= z.miny
""")


def q129_spatial_join_cells_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-join preservation with a zone subset: the q85 pairs as a
    ``left`` join (vectorutils/__init__.py:2159-2225) against the zones
    with ``zone_id % 3 = 0`` only, so some images meet no zone and must
    come back once each with a null zone_id."""
    from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

    load_views(spark, sf_dir)
    gi = _geo_images(spark).select(
        F.col("image_key").alias("image_id"), "minx", "miny", "maxx", "maxy"
    )
    zones = spark.createDataFrame(_zones_with_wkb(spark))
    zones = zones.filter(F.col("zone_id") % 3 == 0)
    out = spatial_join_broadcast(gi, zones, join_op="intersects", join_how="left")
    return out.select(F.col("image_id").alias("image_key"), "zone_id")


ORACLE_Q129 = _cte("""
SELECT i.image_key, z.zone_id
FROM geo_images i LEFT JOIN (SELECT * FROM geo_zones WHERE zone_id % 3 = 0) z
ON i.minx <= z.maxx AND i.maxx >= z.minx AND i.miny <= z.maxy AND i.maxy >= z.miny
""")


def q86_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED classifier training (classification/classsklearn.py
    train→broadcast→predict pattern, but the training itself is Spark):
    3 batch-GD logistic-regression steps, each ONE Catalyst aggregation
    of per-sample sigmoid residuals; weights are driver literals. The
    oracle replays all 3 steps relationally (same arithmetic order,
    gradient sums rounded to 9 before each update) and the predicted
    confusion matrix must hash-match."""
    from rsgislib_spark.functions.classify import logreg_fit, logreg_predict

    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    # linearly separable target (f1 + 2·f2 − f3 ≥ 2000) so the 3-step
    # model actually learns — the confusion matrix shows real skill, not
    # a constant predictor
    label = (F.col("f1") + 2 * F.col("f2") - F.col("f3") >= 2000).cast("int")
    train = pts.filter("is_train = 1").withColumn("y", label)
    model = logreg_fit(
        train, ["f1", "f2", "f3"], "y", n_iter=3, lr=0.5, feat_scale=2000.0
    )
    test = pts.filter("is_train = 0").withColumn("true_cls", label)
    return (
        logreg_predict(test, model, out="pred_cls")
        .groupBy("true_cls", "pred_cls")
        .agg(F.count("*").alias("n"))
    )


def _lr_step_sql(i: int) -> str:
    """One unrolled GD step: gradients with weights w{i-1}, update → w{i}."""
    zi = (f"(w.b + w.w1 * t.x1 + w.w2 * t.x2 + w.w3 * t.x3)")
    p = f"(1.0 / (1.0 + EXP(-{zi})))"
    return f"""
, g{i} AS (
  SELECT SUM(({p} - t.y) * t.x1) AS s1, SUM(({p} - t.y) * t.x2) AS s2,
         SUM(({p} - t.y) * t.x3) AS s3, SUM({p} - t.y) AS sb
  FROM tr t, w{i-1} w
), w{i} AS (
  SELECT ROUND(w.w1 - 0.5 * ROUND(g.s1 / n0.n, 9), 9) AS w1,
         ROUND(w.w2 - 0.5 * ROUND(g.s2 / n0.n, 9), 9) AS w2,
         ROUND(w.w3 - 0.5 * ROUND(g.s3 / n0.n, 9), 9) AS w3,
         ROUND(w.b - 0.5 * ROUND(g.sb / n0.n, 9), 9) AS b
  FROM g{i} g, w{i-1} w, n0
)"""


ORACLE_Q86 = _cte(f"""
, tr AS (
  SELECT f1 / 2000.0 AS x1, f2 / 2000.0 AS x2, f3 / 2000.0 AS x3,
         CASE WHEN f1 + 2 * f2 - f3 >= 2000 THEN 1.0 ELSE 0.0 END AS y
  FROM geo_points WHERE is_train = 1
), n0 AS (SELECT COUNT(*) AS n FROM tr)
, w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS b)
{_lr_step_sql(1)}
{_lr_step_sql(2)}
{_lr_step_sql(3)}
, test AS (
  SELECT f1 / 2000.0 AS x1, f2 / 2000.0 AS x2, f3 / 2000.0 AS x3,
         CASE WHEN f1 + 2 * f2 - f3 >= 2000 THEN 1 ELSE 0 END AS true_cls
  FROM geo_points WHERE is_train = 0
)
SELECT t.true_cls,
       CASE WHEN (w.b + w.w1 * t.x1 + w.w2 * t.x2 + w.w3 * t.x3) > 0
            THEN 1 ELSE 0 END AS pred_cls,
       COUNT(*) AS n
FROM test t, w3 w
GROUP BY 1, 2
""")


# Synthetic 62-bit phash with engineered near-dup clusters (groups of 8
# keys share a base hash; members 0-4 differ by ≤3 bits, the rest are
# far) — same integer formula in both engines.
_PH = (
    "xor(CAST((image_key // 8) * 2654435761 % 281474976710656 AS BIGINT) * 16384 "
    "    + CAST((image_key // 8) * 2654435761 % 281474976710656 AS BIGINT) % 16384, "
    "    CASE image_key % 8 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 "
    "         WHEN 3 THEN 4 WHEN 4 THEN 3 "
    "         ELSE image_key * 131071 % 281474976710656 END)"
)
def q87_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup mining by 64-bit phash Hamming blocking
    (functions/dedup.phash_near_dups): 4×16-bit band split — pigeonhole
    guarantees any pair within Hamming ≤ 3 shares a band — candidates
    equi-join on (band, sig), exact bit_count verify. The oracle is the
    BRUTE-FORCE all-pairs Hamming scan, so blocking must lose nothing."""
    from rsgislib_spark.functions.dedup import phash_near_dups

    load_views(spark, sf_dir)
    base = (
        (F.expr("image_key DIV 8") * F.lit(2654435761)) % F.lit(281474976710656)
    ).cast("long")
    flips = (
        F.when(F.col("image_key") % 8 == 0, 0)
        .when(F.col("image_key") % 8 == 1, 1)
        .when(F.col("image_key") % 8 == 2, 2)
        .when(F.col("image_key") % 8 == 3, 4)
        .when(F.col("image_key") % 8 == 4, 3)
        .otherwise((F.col("image_key") * 131071) % F.lit(281474976710656))
        .cast("long")
    )
    ph = (base * F.lit(16384) + base % F.lit(16384)).bitwiseXOR(flips)
    imgs = _geo_images(spark).select(
        F.col("image_key").alias("img_id"), ph.alias("phash")
    )
    out = phash_near_dups(imgs, id_col="img_id", max_bits=3)
    return out.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        F.col("hamming").cast("int").alias("hamming"),
    )


ORACLE_Q87 = _cte(f"""
, ph AS (SELECT image_key AS img_id, {_PH} AS phash FROM geo_images)
SELECT a.img_id AS id_a, b.img_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.img_id < b.img_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
""")


def q88_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grayscale morphology (imagemorphology.cpp dilate/erode + the
    gradient composite): 3×3 erode/dilate of the synth red band, rolled
    up to integer-exact interior sums per image. The oracle evaluates
    the same min/max over the 9 closed-form neighbour values with
    LEAST/GREATEST."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels import focal as FK

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _mo(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                g = BK.synth_band_grid(k, w, h, "red")
                er = FK.focal_min(g, 1)[1:-1, 1:-1].astype(np.int64)
                di = FK.focal_max(g, 1)[1:-1, 1:-1].astype(np.int64)
                rows.append(
                    (k, er.size, int(er.sum()), int(di.sum()), int((di - er).sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["image_key", "n_px", "sum_erode", "sum_dilate", "sum_gradient"],
            )

    return gi.mapInPandas(
        _mo,
        schema="image_key long, n_px long, sum_erode long, sum_dilate long, sum_gradient long",
    )


_V9 = ", ".join(
    f"(image_key*7 + (gx.px + {dx})*13 + (gy.py + {dy})*17) % 251"
    for dy in (-1, 0, 1) for dx in (-1, 0, 1)
)
ORACLE_Q88 = _cte(f"""
, m AS (
  SELECT image_key, LEAST({_V9}) AS er, GREATEST({_V9}) AS di
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(1, w - 2)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(1, h - 2)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
)
SELECT image_key, COUNT(*) AS n_px,
       CAST(SUM(er) AS BIGINT) AS sum_erode,
       CAST(SUM(di) AS BIGINT) AS sum_dilate,
       CAST(SUM(di - er) AS BIGINT) AS sum_gradient
FROM m GROUP BY image_key
""")


def q89_knn_features_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-SPACE kNN over d-dimensional grid buckets
    (operators/knn.knn_features_bucketed) — the scale path for
    apply_rat_knn when the training table outgrows a broadcast: the
    numpy ring escalation over (f1,f2,f3) cell buckets, in one Python
    pass over the training rows (a batch this size fits the driver
    merge; larger ones run the tile cogroup), proven exact against the
    brute-force oracle (same statement q74 makes for spatial kNN)."""
    from rsgislib_spark.operators.knn import knn_features_bucketed

    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    train = pts.filter("is_train = 1").select("pt_id", "f1", "f2", "f3")
    ap = pts.filter("is_train = 0").select("pt_id", "f1", "f2", "f3")
    res = knn_features_bucketed(
        ap, train, ["f1", "f2", "f3"], k=3, cell=200.0, exclude_self=False
    )
    return res.select(
        "query_id", "nbr_id",
        F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("int").alias("rank"),
    )


ORACLE_Q89 = _cte("""
, tr AS (SELECT pt_id, f1, f2, f3 FROM geo_points WHERE is_train = 1),
ap AS (SELECT pt_id, f1, f2, f3 FROM geo_points WHERE is_train = 0)
SELECT query_id, nbr_id, CAST(d2 AS BIGINT) AS d2, CAST(rn AS INT) AS rank FROM (
  SELECT a.pt_id AS query_id, t.pt_id AS nbr_id,
         (a.f1 - t.f1) * (a.f1 - t.f1) + (a.f2 - t.f2) * (a.f2 - t.f2)
         + (a.f3 - t.f3) * (a.f3 - t.f3) AS d2,
         ROW_NUMBER() OVER (PARTITION BY a.pt_id ORDER BY
           (a.f1 - t.f1) * (a.f1 - t.f1) + (a.f2 - t.f2) * (a.f2 - t.f2)
           + (a.f3 - t.f3) * (a.f3 - t.f3) ASC, t.pt_id ASC) AS rn
  FROM ap a CROSS JOIN tr t
) z WHERE rn <= 3
""")


_Q130_EXTRA_FEATS = [
    ("f4", "CAST((pt_id * 37) % 2000 AS DOUBLE)"),
    ("f5", "CAST((pt_id * 41) % 2000 AS DOUBLE)"),
]


def q130_knn_features_d5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-SPACE kNN at d=5: the bucketed path past three
    dimensions, matching apply_rat_knn's arbitrary-field-count contract
    (RSGISRATKNN.cpp:82-86). Cells are keyed on f1..f3 (relative to the
    lowest cell, so no bit budget); f4 and f5 only refine. In this sparse
    lattice a query's first ring already spans most occupied cells, so
    the kernel scores dense query × point blocks — proven exact against
    the 5-d brute-force oracle."""
    from rsgislib_spark.operators.knn import knn_features_bucketed

    load_views(spark, sf_dir)
    pts = _geo_points(spark)
    for name, expr in _Q130_EXTRA_FEATS:
        pts = pts.withColumn(name, F.expr(expr))
    feats = ["f1", "f2", "f3", "f4", "f5"]
    train = pts.filter("is_train = 1").select("pt_id", *feats)
    ap = pts.filter("is_train = 0").select("pt_id", *feats)
    res = knn_features_bucketed(
        ap, train, feats, k=3, cell=500.0, exclude_self=False
    )
    return res.select(
        "query_id", "nbr_id",
        F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("int").alias("rank"),
    )


ORACLE_Q130 = _cte(f"""
, pts5 AS (
  SELECT pt_id, f1, f2, f3,
         {_Q130_EXTRA_FEATS[0][1]} AS f4,
         {_Q130_EXTRA_FEATS[1][1]} AS f5,
         is_train
  FROM geo_points
),
tr AS (SELECT * FROM pts5 WHERE is_train = 1),
ap AS (SELECT * FROM pts5 WHERE is_train = 0)
SELECT query_id, nbr_id, CAST(d2 AS BIGINT) AS d2, CAST(rn AS INT) AS rank FROM (
  SELECT a.pt_id AS query_id, t.pt_id AS nbr_id,
         (a.f1 - t.f1) * (a.f1 - t.f1) + (a.f2 - t.f2) * (a.f2 - t.f2)
         + (a.f3 - t.f3) * (a.f3 - t.f3) + (a.f4 - t.f4) * (a.f4 - t.f4)
         + (a.f5 - t.f5) * (a.f5 - t.f5) AS d2,
         ROW_NUMBER() OVER (PARTITION BY a.pt_id ORDER BY
           (a.f1 - t.f1) * (a.f1 - t.f1) + (a.f2 - t.f2) * (a.f2 - t.f2)
           + (a.f3 - t.f3) * (a.f3 - t.f3) + (a.f4 - t.f4) * (a.f4 - t.f4)
           + (a.f5 - t.f5) * (a.f5 - t.f5) ASC, t.pt_id ASC) AS rn
  FROM ap a CROSS JOIN tr t
) z WHERE rn <= 3
""")


def q90_kuwahara(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuwahara edge-preserving filter (apply_kuwahara_filter,
    imagefilter/__init__.py stats-filter family): per interior pixel the
    minimum-variance 2×2 quadrant wins (integer metric n·Σx² − (Σx)²,
    first-wins ties NW/NE/SW/SE); per-image sums of the winning-quadrant
    sums are integer-exact against the relational replay."""
    from rsgislib_spark.kernels import bands as BK
    from rsgislib_spark.kernels.focal import kuwahara_pick_int

    load_views(spark, sf_dir)
    gi = widen(_geo_images(spark).filter(F.col("image_key") % FOCAL_SUBSET == 0)).select(
        "image_key", "w", "h"
    )

    def _ku(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                k, w, h = int(rec.image_key), int(rec.w), int(rec.h)
                g = BK.synth_band_grid(k, w, h, "red")
                win_sum, n = kuwahara_pick_int(g, radius=1)
                rows.append((k, win_sum.size, int(win_sum.sum())))
            yield pd.DataFrame(rows, columns=["image_key", "n_px", "sum_win"])

    return gi.mapInPandas(_ku, schema="image_key long, n_px long, sum_win long")


def _quad_terms(y0: int, x0: int):
    """SQL (sum, sumsq) term pair of the 2×2 window with top-left
    offset (y0, x0) from the pixel, over the closed-form red band."""
    vs = [
        f"((image_key*7 + (gx.px + {x0 + dx})*13 + (gy.py + {y0 + dy})*17) % 251)"
        for dy in (0, 1) for dx in (0, 1)
    ]
    sm = " + ".join(vs)
    s2 = " + ".join(f"{v} * {v}" for v in vs)
    return f"({sm})", f"({s2})"


_QSM = [_quad_terms(y0, x0) for (y0, x0) in ((-1, -1), (-1, 0), (0, -1), (0, 0))]
_QMETRIC = [f"(4 * {s2} - {sm} * {sm})" for sm, s2 in _QSM]
_WIN_SM = (
    f"CASE WHEN {_QMETRIC[0]} <= {_QMETRIC[1]} AND {_QMETRIC[0]} <= {_QMETRIC[2]} "
    f"AND {_QMETRIC[0]} <= {_QMETRIC[3]} THEN {_QSM[0][0]} "
    f"WHEN {_QMETRIC[1]} <= {_QMETRIC[2]} AND {_QMETRIC[1]} <= {_QMETRIC[3]} THEN {_QSM[1][0]} "
    f"WHEN {_QMETRIC[2]} <= {_QMETRIC[3]} THEN {_QSM[2][0]} "
    f"ELSE {_QSM[3][0]} END"
)

ORACLE_Q90 = _cte(f"""
, px AS (
  SELECT image_key, gx.px AS px, gy.py AS py, {_WIN_SM} AS win_sm
  FROM geo_images,
  LATERAL (SELECT unnest(generate_series(1, w - 2)) AS px) gx,
  LATERAL (SELECT unnest(generate_series(1, h - 2)) AS py) gy
  WHERE image_key % {FOCAL_SUBSET} = 0
)
SELECT image_key, COUNT(*) AS n_px, CAST(SUM(win_sm) AS BIGINT) AS sum_win
FROM px GROUP BY image_key
""")


def q74_knn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial kNN over CELL-BUCKETED candidates (the north rule's "kNN
    neighbor lookup over cell-bucketed candidates"): points sorted by
    cell key, each query's k-ring of cells as key ranges → exact refine
    → rank ≤ k, with a ring-escalation guarantee that makes the result
    identical to brute force; the batch rides one Python pass over the
    points (the tile cogroup past the driver-merge bound). The oracle IS
    brute force — proving bucketed == exact. Ref: apply_rat_knn
    (src/rastergis/RSGISRATKNN.cpp:390-420), here the linear scan is
    restricted to candidate cells."""
    from rsgislib_spark.operators.knn import knn_points_bucketed

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select("pt_id", "x", "y")
    qs = pts.filter(F.col("pt_id") % 5 == 0)
    res = knn_points_bucketed(qs, pts, k=5, cell=4096.0)
    return res.select(
        "query_id",
        "nbr_id",
        F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("int").alias("rank"),
    )


# Brute-force oracle: integer-lattice d2 is exact, so bucketed==brute is
# a hash-level statement, not a tolerance one.
ORACLE_Q74 = _cte("""
, q AS (SELECT pt_id AS query_id, x, y FROM geo_points WHERE pt_id % 5 = 0)
SELECT query_id, nbr_id, CAST(d2 AS BIGINT) AS d2, CAST(rn AS INT) AS rank FROM (
  SELECT q.query_id, p.pt_id AS nbr_id,
         (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) AS d2,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) ASC,
           p.pt_id ASC) AS rn
  FROM q JOIN geo_points p ON p.pt_id <> q.query_id
) t WHERE rn <= 5
""")


def q131_reproject_conic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conic / azimuthal reprojection family (reproject via OSR for
    EPSG:2154 Lambert-93, EPSG:5070 Conus Albers, EPSG:3035 LAEA Europe
    — the reference reaches these through GDAL/OSR,
    imageutils/__init__.py:2210-2450; here they are closed-form Snyder
    1987 kernels, kernels/crs.py). Points map onto a lon/lat lattice,
    project forward through all three CRSs (oracle = independent SQL
    recomputation of the Snyder formulas, compared at integer-metre
    granularity — FLOOR puts cross-engine libm ulps ~1e-8 m far from
    every comparison boundary), and round-trip through each inverse
    (rt_ok counts projections whose round-trip lands back on the source
    lattice within 0.5e-6 deg; the oracle requires all 3). Single
    mapInPandas — scan-resident, zero shuffle at any scale."""
    from rsgislib_spark.kernels import crs as CRS

    load_views(spark, sf_dir)
    pts = _geo_points(spark).select(
        "pt_id",
        (F.lit(3.0) + F.col("x") / 12500.0).alias("lon"),
        (F.lit(45.0) + F.col("y") / 12500.0).alias("lat"),
    )

    def _pr(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            lon = pdf["lon"].to_numpy(np.float64)
            lat = pdf["lat"].to_numpy(np.float64)
            out = {"pt_id": pdf["pt_id"].to_numpy(np.int64)}
            rt_ok = np.zeros(len(pdf), dtype=np.int64)
            for code, name in ((2154, "l93"), (5070, "alb"), (3035, "laea")):
                ex, ny = CRS.transform(4326, code, lon, lat)
                out[f"{name}_e"] = np.floor(ex).astype(np.int64)
                out[f"{name}_n"] = np.floor(ny).astype(np.int64)
                blon, blat = CRS.transform(code, 4326, ex, ny)
                ok = (np.abs(blon - lon) < 0.5e-6) & (np.abs(blat - lat) < 0.5e-6)
                rt_ok += ok.astype(np.int64)
                if code == 2154:
                    rt_lon, rt_lat = blon, blat
            out["rt_lon"] = rt_lon
            out["rt_lat"] = rt_lat
            out["rt_ok"] = rt_ok
            yield pd.DataFrame(out)

    res = pts.mapInPandas(
        _pr,
        schema=("pt_id long, l93_e long, l93_n long, alb_e long, alb_n long, "
                "laea_e long, laea_n long, rt_lon double, rt_lat double, rt_ok long"),
    )
    return res.select(
        "pt_id", "l93_e", "l93_n", "alb_e", "alb_n", "laea_e", "laea_n",
        F.round("rt_lon", 6).alias("rt_lon"),
        F.round("rt_lat", 6).alias("rt_lat"),
        "rt_ok",
    )


def _oracle_q131() -> str:
    """Inline the projection constants (CRS-definition-derived, like
    q75's _MERC) and recompute all three Snyder forward projections in
    SQL at full double precision."""
    from rsgislib_spark.kernels import crs as CRS

    l93, alb, laea = (CRS.PROJECTIONS[c] for c in (2154, 5070, 3035))
    # LCC 2SP (Snyder 15-1..15-11)
    lcc_t = (f"TAN(PI() / 4 - phi / 2) / POW((1 - {l93.e!r} * SIN(phi)) "
             f"/ (1 + {l93.e!r} * SIN(phi)), {l93.e / 2.0!r})")
    lcc_rho = f"{l93.a * l93.F!r} * POW({lcc_t}, {l93.n!r})"
    lcc_th = f"{l93.n!r} * (lam - {l93.lam0!r})"
    # Albers (Snyder 14-1..14-4; q from 3-12)
    def _q_sql(e, e2):
        return (f"{1.0 - e2!r} * (SIN(phi) / (1 - {e2!r} * SIN(phi) * SIN(phi)) "
                f"- {1.0 / (2.0 * e)!r} * LN((1 - {e!r} * SIN(phi)) "
                f"/ (1 + {e!r} * SIN(phi))))")
    alb_rho = f"{alb.a!r} * SQRT({alb.C!r} - {alb.n!r} * ({_q_sql(alb.e, alb.e2)})) / {alb.n!r}"
    alb_th = f"{alb.n!r} * (lam - {alb.lam0!r})"
    # LAEA oblique (Snyder 24-2..24-14)
    laea_beta = f"ASIN(({_q_sql(laea.e, laea.e2)}) / {laea.qp!r})"
    sb0, cb0 = float(np.sin(laea.beta0)), float(np.cos(laea.beta0))
    laea_b = (f"{laea.Rq!r} * SQRT(2 / (1 + {sb0!r} * SIN(beta) "
              f"+ {cb0!r} * COS(beta) * COS(lam - {laea.lam0!r})))")
    return _cte(f"""
, ll AS (
  SELECT pt_id, RADIANS(45.0 + y / 12500.0) AS phi,
         RADIANS(3.0 + x / 12500.0) AS lam,
         3.0 + x / 12500.0 AS lon, 45.0 + y / 12500.0 AS lat
  FROM geo_points
), pj AS (
  SELECT pt_id, lon, lat,
         {l93.fe!r} + ({lcc_rho}) * SIN({lcc_th}) AS l93_x,
         {l93.fn!r} + {l93.rho0!r} - ({lcc_rho}) * COS({lcc_th}) AS l93_y,
         ({alb_rho}) * SIN({alb_th}) AS alb_x,
         {alb.rho0!r} - ({alb_rho}) * COS({alb_th}) AS alb_y,
         {laea_beta} AS beta, lam
  FROM ll
), laea AS (
  SELECT pt_id, lon, lat, l93_x, l93_y, alb_x, alb_y,
         {laea.fe!r} + ({laea_b}) * {laea.D!r} * COS(beta)
           * SIN(lam - {laea.lam0!r}) AS laea_x,
         {laea.fn!r} + ({laea_b}) / {laea.D!r} * ({cb0!r} * SIN(beta)
           - {sb0!r} * COS(beta) * COS(lam - {laea.lam0!r})) AS laea_y
  FROM pj
)
SELECT pt_id,
       CAST(FLOOR(l93_x) AS BIGINT) AS l93_e, CAST(FLOOR(l93_y) AS BIGINT) AS l93_n,
       CAST(FLOOR(alb_x) AS BIGINT) AS alb_e, CAST(FLOOR(alb_y) AS BIGINT) AS alb_n,
       CAST(FLOOR(laea_x) AS BIGINT) AS laea_e, CAST(FLOOR(laea_y) AS BIGINT) AS laea_n,
       ROUND(lon, 6) AS rt_lon, ROUND(lat, 6) AS rt_lat,
       CAST(3 AS BIGINT) AS rt_ok
FROM laea
""")


ORACLE_Q131 = _oracle_q131()


QUERIES_EXT = {
    "q64_north_star": q64_north_star,
    "q91_north_star_decoded": q91_north_star_decoded,
    "q74_knn_bucketed": q74_knn_bucketed,
    "q75_reproject_roundtrip": q75_reproject_roundtrip,
    "q76_resample_bilinear": q76_resample_bilinear,
    "q77_overlay_difference": q77_overlay_difference,
    "q78_overlay_symdiff": q78_overlay_symdiff,
    "q79_kmeans": q79_kmeans,
    "q80_pca_eigen": q80_pca_eigen,
    "q81_zonal_mode_median": q81_zonal_mode_median,
    "q92_zonal_percentiles": q92_zonal_percentiles,
    "q94_overlay_identity": q94_overlay_identity,
    "q82_hillshade": q82_hillshade,
    "q83_neigh_diff_stats": q83_neigh_diff_stats,
    "q84_border_length": q84_border_length,
    "q85_spatial_join_cells": q85_spatial_join_cells,
    "q129_spatial_join_cells_left": q129_spatial_join_cells_left,
    "q86_logreg": q86_logreg,
    "q87_phash_near_dup": q87_phash_near_dup,
    "q88_morphology": q88_morphology,
    "q89_knn_features_bucketed": q89_knn_features_bucketed,
    "q130_knn_features_d5": q130_knn_features_d5,
    "q131_reproject_conic": q131_reproject_conic,
    "q90_kuwahara": q90_kuwahara,
    "q73_centroid_classifier": q73_centroid_classifier,
    "q71_spatial_join_left": q71_spatial_join_left,
    "q68_distance_transform": q68_distance_transform,
    "q69_coarse_pixel_stats": q69_coarse_pixel_stats,
    "q65_trend_fit": q65_trend_fit,
    "q66_band_registration": q66_band_registration,
    "q67_calibration": q67_calibration,
    "q119_calibration_transforms": q119_calibration_transforms,
    "q128_calibration_family_ext": q128_calibration_family_ext,
    "q56_resample_nearest": q56_resample_nearest,
    "q57_overlay_intersection": q57_overlay_intersection,
    "q58_pixel_band_summary": q58_pixel_band_summary,
    "q61_multimodal_features": q61_multimodal_features,
    "q62_streaming_batch_parity": q62_streaming_batch_parity,
    "q63_clump_components": q63_clump_components,
    "q09_sorted_top100": q09_sorted_top100,
    "q23_band_stats": q23_band_stats,
    "q24_ndvi_summary": q24_ndvi_summary,
    "q25_focal_mean": q25_focal_mean,
    "q26_zone_adjacency": q26_zone_adjacency,
    "q27_meanlit_stats": q27_meanlit_stats,
    "q28_stratum_location_extent": q28_stratum_location_extent,
    "q29_rollup_orders": q29_rollup_orders,
    "q38_embed_near_dup": q38_embed_near_dup,
    "q93_minhash_128perm": q93_minhash_128perm,
    "q95_dedup_groups": q95_dedup_groups,
    "q96_range_join": q96_range_join,
    "q97_sequence_packing": q97_sequence_packing,
    "q98_edge_filters": q98_edge_filters,
    "q99_spatial_select": q99_spatial_select,
    "q100_stat_filters": q100_stat_filters,
    "q101_morph_se": q101_morph_se,
    "q102_eliminate_clumps": q102_eliminate_clumps,
    "q103_shepherd_segmentation": q103_shepherd_segmentation,
    "q104_accuracy_metrics": q104_accuracy_metrics,
    "q105_otsu_threshold": q105_otsu_threshold,
    "q106_spectral_smoothing": q106_spectral_smoothing,
    "q107_mnf": q107_mnf,
    "q108_line_ops": q108_line_ops,
    "q109_poly_holes": q109_poly_holes,
    "q110_warp_fit": q110_warp_fit,
    "q111_class_balance": q111_class_balance,
    "q112_repetition_stats": q112_repetition_stats,
    "q113_otsu_outliers": q113_otsu_outliers,
    "q114_kfold_regression": q114_kfold_regression,
    "q115_spectral_unmixing": q115_spectral_unmixing,
    "q116_training_filter": q116_training_filter,
    "q120_fcls_unmixing": q120_fcls_unmixing,
    "q121_isodata_split": q121_isodata_split,
    "q122_decoded_features": q122_decoded_features,
    "q123_substring_dedup": q123_substring_dedup,
    "q124_span_scrub": q124_span_scrub,
    "q125_decontaminate": q125_decontaminate,
    "q126_streaming_decode": q126_streaming_decode,
    "q127_pii_scrub": q127_pii_scrub,
    "q117_polygonise": q117_polygonise,
    "q118_chip_extract": q118_chip_extract,
    "q43_deterministic_sample": q43_deterministic_sample,
    "q44_set_ops": q44_set_ops,
    "q45_band_rmse": q45_band_rmse,
    "q46_prop_true_expr": q46_prop_true_expr,
    "q47_unpack_bits": q47_unpack_bits,
    "q48_stretch_histogram": q48_stretch_histogram,
    "q51_asof_last_click": q51_asof_last_click,
    "q52_feature_covariance": q52_feature_covariance,
    "q53_knn_chebyshev_mode": q53_knn_chebyshev_mode,
    "q54_majority_class": q54_majority_class,
    "q55_salted_cell_join": q55_salted_cell_join,
    "q60_image_pipeline": q60_image_pipeline,
}

# Oracles for the base-catalog ANN queries (q41/q42 were rows-only until
# DuckDB's list_inner_product was confirmed to match the engine's
# sequential fold): bucket assignment, probe selection, and ranking all
# reproduced relationally.
ORACLE_Q41 = """
WITH refs AS (
  SELECT vec_id AS ref_id, CAST(embedding AS DOUBLE[]) AS r
  FROM embeddings WHERE vec_id < 3
), b AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN ROUND(list_inner_product(CAST(e.embedding AS DOUBLE[]), refs.r), 6) >= 0
                  THEN 1 << CAST(refs.ref_id AS INT) ELSE 0 END) AS INT) AS bucket
  FROM embeddings e CROSS JOIN refs GROUP BY e.vec_id
), qb AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id >= 3 AND vec_id < 8),
vb AS (SELECT vec_id AS nbr_id, bucket FROM b),
scored AS (
  SELECT q.query_id, v.nbr_id,
         ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ne.embedding AS DOUBLE[])), 4) AS cos
  FROM qb q JOIN vb v ON q.bucket = v.bucket AND v.nbr_id <> q.query_id
  JOIN embeddings qe ON qe.vec_id = q.query_id
  JOIN embeddings ne ON ne.vec_id = v.nbr_id
)
SELECT query_id, nbr_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, nbr_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

ORACLE_Q42 = """
WITH cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS c
  FROM embeddings ORDER BY vec_id LIMIT 8
), va AS (
  SELECT e.vec_id AS nbr_id, c.cent_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c), 6) AS cos_c
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT nbr_id, cent_id FROM (
    SELECT nbr_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY nbr_id ORDER BY cos_c DESC, cent_id ASC) AS rn
    FROM va
  ) WHERE rn = 1
), qa AS (
  SELECT e.vec_id AS query_id, c.cent_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c), 6) AS cos_c
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id >= 3 AND e.vec_id < 8
), probes AS (
  SELECT query_id, cent_id FROM (
    SELECT query_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_c DESC, cent_id ASC) AS rn
    FROM qa
  ) WHERE rn <= 2
), scored AS (
  SELECT p.query_id, a.nbr_id,
         ROUND(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ne.embedding AS DOUBLE[])), 4) AS cos
  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id AND a.nbr_id <> p.query_id
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ne ON ne.vec_id = a.nbr_id
)
SELECT query_id, nbr_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, nbr_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

ORACLES_EXT = {
    "q37_simhash": ORACLE_Q37,
    "q74_knn_bucketed": ORACLE_Q74,
    "q75_reproject_roundtrip": ORACLE_Q75,
    "q76_resample_bilinear": ORACLE_Q76,
    "q77_overlay_difference": ORACLE_Q77,
    "q78_overlay_symdiff": ORACLE_Q78,
    "q79_kmeans": ORACLE_Q79,
    "q80_pca_eigen": ORACLE_Q80,
    "q81_zonal_mode_median": ORACLE_Q81,
    "q92_zonal_percentiles": ORACLE_Q92,
    "q94_overlay_identity": ORACLE_Q94,
    "q82_hillshade": ORACLE_Q82,
    "q83_neigh_diff_stats": ORACLE_Q83,
    "q84_border_length": ORACLE_Q84,
    "q85_spatial_join_cells": ORACLE_Q85,
    "q129_spatial_join_cells_left": ORACLE_Q129,
    "q86_logreg": ORACLE_Q86,
    "q87_phash_near_dup": ORACLE_Q87,
    "q88_morphology": ORACLE_Q88,
    "q89_knn_features_bucketed": ORACLE_Q89,
    "q130_knn_features_d5": ORACLE_Q130,
    "q131_reproject_conic": ORACLE_Q131,
    "q90_kuwahara": ORACLE_Q90,
    "q73_centroid_classifier": ORACLE_Q73,
    "q71_spatial_join_left": ORACLE_Q71,
    "q41_ann_lsh": ORACLE_Q41,
    "q42_ann_ivf": ORACLE_Q42,
    "q64_north_star": ORACLE_Q64,
    "q91_north_star_decoded": ORACLE_Q91,
    "q65_trend_fit": ORACLE_Q65,
    "q68_distance_transform": ORACLE_Q68,
    "q69_coarse_pixel_stats": ORACLE_Q69,
    "q66_band_registration": ORACLE_Q66,
    "q67_calibration": ORACLE_Q67,
    "q119_calibration_transforms": ORACLE_Q119,
    "q128_calibration_family_ext": ORACLE_Q128,
    "q56_resample_nearest": ORACLE_Q56,
    "q57_overlay_intersection": ORACLE_Q57,
    "q58_pixel_band_summary": ORACLE_Q58,
    "q62_streaming_batch_parity": ORACLE_Q62,
    # q60/q61 (lossy payload decode is not SQL-expressible; q122 is the
    # hash-gated lossless sibling): rows-only
    "q63_clump_components": ORACLE_Q63,
    "q09_sorted_top100": ORACLE_Q09,
    "q23_band_stats": ORACLE_Q23,
    "q24_ndvi_summary": ORACLE_Q24,
    "q25_focal_mean": ORACLE_Q25,
    "q26_zone_adjacency": ORACLE_Q26,
    "q27_meanlit_stats": ORACLE_Q27,
    "q28_stratum_location_extent": ORACLE_Q28,
    "q29_rollup_orders": ORACLE_Q29,
    "q38_embed_near_dup": ORACLE_Q38,
    "q93_minhash_128perm": ORACLE_Q93,
    "q95_dedup_groups": ORACLE_Q95,
    "q96_range_join": ORACLE_Q96,
    "q97_sequence_packing": ORACLE_Q97,
    "q98_edge_filters": ORACLE_Q98,
    "q99_spatial_select": ORACLE_Q99,
    "q100_stat_filters": ORACLE_Q100,
    "q101_morph_se": ORACLE_Q101,
    "q102_eliminate_clumps": ORACLE_Q102,
    "q103_shepherd_segmentation": ORACLE_Q103,
    "q104_accuracy_metrics": ORACLE_Q104,
    "q105_otsu_threshold": ORACLE_Q105,
    "q106_spectral_smoothing": ORACLE_Q106,
    "q107_mnf": ORACLE_Q107,
    "q108_line_ops": ORACLE_Q108,
    "q109_poly_holes": ORACLE_Q109,
    "q110_warp_fit": ORACLE_Q110,
    "q111_class_balance": ORACLE_Q111,
    "q112_repetition_stats": ORACLE_Q112,
    "q113_otsu_outliers": ORACLE_Q113,
    "q114_kfold_regression": ORACLE_Q114,
    "q115_spectral_unmixing": ORACLE_Q115,
    "q116_training_filter": ORACLE_Q116,
    "q120_fcls_unmixing": ORACLE_Q120,
    "q121_isodata_split": ORACLE_Q121,
    "q122_decoded_features": ORACLE_Q122,
    "q123_substring_dedup": ORACLE_Q123,
    "q124_span_scrub": ORACLE_Q124,
    "q125_decontaminate": ORACLE_Q125,
    # streaming decode must match the BATCH decode oracle — parity gate
    "q126_streaming_decode": ORACLE_Q122,
    "q127_pii_scrub": ORACLE_Q127,
    "q117_polygonise": ORACLE_Q117,
    "q118_chip_extract": ORACLE_Q118,
    "q43_deterministic_sample": ORACLE_Q43,
    "q44_set_ops": ORACLE_Q44,
    "q45_band_rmse": ORACLE_Q45,
    "q46_prop_true_expr": ORACLE_Q46,
    "q47_unpack_bits": ORACLE_Q47,
    "q48_stretch_histogram": ORACLE_Q48,
    "q51_asof_last_click": ORACLE_Q51,
    "q52_feature_covariance": ORACLE_Q52,
    "q53_knn_chebyshev_mode": ORACLE_Q53,
    "q54_majority_class": ORACLE_Q54,
    "q55_salted_cell_join": ORACLE_Q55,
    # q60_image_pipeline: rows-only (payload decode is not ANSI SQL)
}
