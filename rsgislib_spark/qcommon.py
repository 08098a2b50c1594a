"""Shared primitives of the query catalog (tables, synthetic-geometry
derivation SQL, cell-key constants).

Lives in its own module so both ``queries`` and ``queries_ext`` can
import it without a cycle — a ``queries`` ⇄ ``queries_ext`` cycle is
load-order-dependent and crashes Python *workers* that unpickle a
``queries_ext`` closure before any ``queries`` closure has been
imported on that worker.

Parity rules (why the derivations hash-match bit-for-bit across Spark
and DuckDB): all geometry is derived with INTEGER arithmetic from table
keys — the SQL text below runs verbatim in both engines — cast to
double only at the end; zones live on a +0.25 lattice, points on +0.5,
images on integers, so no predicate ever hits a boundary tie.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: Cell size / grid dim of the SQL-parity linear cell key
#: (kernels.cells.linear_cell — floor(x/CELL)*GRID_DIM + floor(y/CELL)).
CELL = 4096
GRID_DIM = 1 << 21


def load_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of the plan's output, WITHOUT
    triggering the RDD conversion that ``df.rdd.getNumPartitions()``
    costs (it re-analyzes and plans the query on the driver)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def broadcast_limit(spark: SparkSession) -> int:
    """Spark's own ``spark.sql.autoBroadcastJoinThreshold`` in bytes (−1
    disables broadcasts)."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def broadcastable(df: DataFrame) -> bool:
    """Whether Catalyst's size estimate of ``df`` is within
    :func:`broadcast_limit` — the test the planner applies to a join
    side."""
    limit = broadcast_limit(df.sparkSession)
    size = plan_size_bytes(df)
    return limit >= 0 and size is not None and size <= limit


def widen(df: DataFrame) -> DataFrame:
    """Repartition a THIN DataFrame up to the default parallelism.

    Heavy per-row kernels (mapInPandas pixel work) inherit the scan's
    partition count; a small parquet file arrives in 1-2 partitions and
    serializes the kernel on 1-2 cores. Rows fed to these kernels are
    skinny (keys + dims), so the widening shuffle is ~free.

    The OWNER of a thin source widens it (the catalog's
    ``widen(_geo_images(spark))``), once, where it knows the source is
    thin and the work heavy. The operators (``rsgislib_spark.operators``)
    do not: they run on their input's own partitions, so an interactive
    call over a few dozen filtered rows pays no shuffle stage and no
    driver RDD conversion. (The text-dedup functions still widen their
    document scans, which they tokenize whole.)

    Thinness is decided from Catalyst's size estimate (cheap driver
    call, no RDD conversion): anything under ~4 MB/core would scan in
    fewer partitions than cores. At real scale the estimate is huge and
    this is a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism
    size = plan_size_bytes(df)
    if size is not None and size >= par * 4 * 1024 * 1024:
        return df
    # Size estimate small (or unavailable): confirm with the partition
    # count before shuffling — a wide-but-small-estimate input (e.g.
    # Catalyst stats above a Python-eval node) must NOT be collapsed to
    # `par` partitions. The RDD conversion is acceptable here because the
    # plan is, by the estimate we just read, tiny.
    # Known trade-off: a small input that already has >= par partitions
    # but whose rows are hash-skewed into a few of them is returned
    # as-is; a caller that partitioned by a skewed key should
    # df.repartition(par) explicitly before the heavy kernel.
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def fenced_small_pdf(
    df: DataFrame, what: str, scale_hint: str, max_rows: int = 5_000_000
) -> pd.DataFrame:
    """``toPandas()`` with a driver-OOM fence for broadcast-side tables.

    The broadcast strategies (zone index, training set, match points)
    collect a small-by-construction table to the driver; a mis-sized
    input would OOM the driver silently. Mirrors the explicit ceiling of
    ``similarity.cosine_block_pairs`` (functions/similarity.py): one job
    collects at most ``max_rows`` + 1 rows, and one row too many raises
    with a pointer at the scale path when the caller should bucket
    instead."""
    pdf = df.limit(max_rows + 1).toPandas()
    _fence(len(pdf), what, scale_hint, max_rows)
    return pdf


def fenced_small_table(
    df: DataFrame, what: str, scale_hint: str, max_rows: int = 5_000_000
) -> pa.Table:
    """:func:`fenced_small_pdf` collected as Arrow (``toArrow()``), so
    column types stay exactly Spark's: a nullable int stays int64 with
    nulls instead of turning into pandas float64, a decimal stays a
    decimal. For tables whose columns are carried back into Spark rows."""
    table = df.limit(max_rows + 1).toArrow()
    _fence(table.num_rows, what, scale_hint, max_rows)
    return table


def _fence(n: int, what: str, scale_hint: str, max_rows: int) -> None:
    if n > max_rows:
        raise ValueError(
            f"{what} would collect more than {max_rows} rows to the driver "
            f"(max_rows={max_rows}). {scale_hint}"
        )


# --------------------------------------------------------------------------
# Shared derivation SQL (runs verbatim in Spark AND DuckDB)
# --------------------------------------------------------------------------

GEO_IMAGES_SQL = """
SELECT image_key,
       CAST(minx_i AS DOUBLE) AS minx,
       CAST(miny_i AS DOUBLE) AS miny,
       CAST(minx_i + w * 10 AS DOUBLE) AS maxx,
       CAST(miny_i + h * 10 AS DOUBLE) AS maxy,
       w, h
FROM (
  SELECT p_partkey AS image_key,
         CASE WHEN p_partkey % 5 = 0
              THEN 50000 + (p_partkey % 97) * 10
              ELSE (p_partkey * 9973) % 99000 END AS minx_i,
         CASE WHEN p_partkey % 5 = 0
              THEN 50000 + ((p_partkey * 3) % 97) * 10
              ELSE (p_partkey * 6151) % 99000 END AS miny_i,
         CAST(64 + (p_partkey % 4) * 64 AS INT) AS w,
         CAST(64 + ((p_partkey * 7) % 4) * 64 AS INT) AS h
  FROM part
) t
"""

GEO_ZONES_SQL = """
SELECT zone_id,
       CAST(zminx_i AS DOUBLE) + 0.25 AS minx,
       CAST(zminy_i AS DOUBLE) + 0.25 AS miny,
       CAST(zminx_i + zw AS DOUBLE) + 0.25 AS maxx,
       CAST(zminy_i + zh AS DOUBLE) + 0.25 AS maxy,
       class_name
FROM (
  SELECT s_suppkey AS zone_id,
         CASE WHEN s_suppkey % 10 = 0
              THEN 45000 + (s_suppkey % 7) * 100
              ELSE (s_suppkey * 7919) % 90000 END AS zminx_i,
         CASE WHEN s_suppkey % 10 = 0
              THEN 45000 + ((s_suppkey * 3) % 7) * 100
              ELSE (s_suppkey * 104729) % 90000 END AS zminy_i,
         2000 + (s_suppkey % 12) * 1500 AS zw,
         2000 + ((s_suppkey * 5) % 12) * 1500 AS zh,
         CASE s_suppkey % 4 WHEN 0 THEN 'forest' WHEN 1 THEN 'grass'
              WHEN 2 THEN 'urban' ELSE 'water' END AS class_name
  FROM supplier
) t
"""

GEO_POINTS_SQL = """
SELECT c_custkey AS pt_id,
       CAST((c_custkey * 48271) % 100000 AS DOUBLE) + 0.5 AS x,
       CAST((c_custkey * 16807) % 100000 AS DOUBLE) + 0.5 AS y,
       CAST(c_custkey % 1000 AS DOUBLE) AS v,
       (c_custkey * 13) % 2000 AS f1,
       (c_custkey * 29) % 2000 AS f2,
       (c_custkey * 31) % 2000 AS f3,
       CASE WHEN c_custkey % 10 < 7 THEN 1 ELSE 0 END AS is_train
FROM customer
"""


def _cte(body: str) -> str:
    return (
        f"WITH geo_images AS ({GEO_IMAGES_SQL}), geo_zones AS ({GEO_ZONES_SQL}), "
        f"geo_points AS ({GEO_POINTS_SQL}) {body}"
    )


def _geo_images(spark: SparkSession) -> DataFrame:
    return spark.sql(GEO_IMAGES_SQL)


def _geo_zones(spark: SparkSession) -> DataFrame:
    return spark.sql(GEO_ZONES_SQL)


def _geo_points(spark: SparkSession) -> DataFrame:
    return spark.sql(GEO_POINTS_SQL)


def _zones_with_wkb(spark: SparkSession) -> pd.DataFrame:
    """Zone rects as WKB polygons (driver-side; zone side is small)."""
    from rsgislib_spark.kernels import geom

    zp = _geo_zones(spark).toPandas()
    zp["geometry"] = [
        geom.polygon_to_wkb(
            [np.array([[r.minx, r.miny], [r.maxx, r.miny], [r.maxx, r.maxy], [r.minx, r.maxy]])]
        )
        for r in zp.itertuples(index=False)
    ]
    return zp
