"""Point-in-pixel extraction — reference ``ext_point_band_values``
(``python/rsgislib/zonalstats/__init__.py:1390-1596``).

Semantics reproduced: per point, locate the containing pixel by offset
truncation (``:1536-1558``), read its value; points outside every image
get ``out_no_data_val`` (``:1559-1573``); optional [min_thres, max_thres]
rule maps out-of-range values to ``out_no_data_val``.

Physical shape: points are the SMALL side — broadcast a numpy bundle of
(pt_id, x, y); one pass over images emits (pt_id, image_id, value) hits;
a final left join from points fills no-data rows. Zero shuffle of image
payloads.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from rsgislib_spark.datagen import PIXEL_SIZE
from rsgislib_spark.kernels import codecs, pixelmath
#: Driver fence for the broadcast side (fenced_small_pdf) — patchable in tests.
MAX_BROADCAST_POINTS = 5_000_000



def extract_point_values(
    images: DataFrame,
    points: DataFrame,
    min_thres: float = -np.inf,
    max_thres: float = np.inf,
    out_no_data_val: float = -9999.0,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """Returns points + ``value`` column (out_no_data_val where no image
    covers the point or the value fails the threshold rule)."""
    spark = images.sparkSession
    from rsgislib_spark.qcommon import fenced_small_pdf

    pts_pdf = fenced_small_pdf(
        points.select("pt_id", "x", "y"),
        "point_extract broadcast point set",
        "Cell-bucket the points and join on the image cell key instead.",
        max_rows=MAX_BROADCAST_POINTS,
    )
    pts_b = spark.sparkContext.broadcast(
        (
            pts_pdf["pt_id"].to_numpy(np.int64),
            pts_pdf["x"].to_numpy(np.float64),
            pts_pdf["y"].to_numpy(np.float64),
        )
    )
    src = images.select("image_id", "bytes", "w", "h", "fmt", "minx", "miny")
    schema = "pt_id long, image_id string, value double"

    def _hits(it):
        # mapInArrow + zero-copy views per the repo's Arrow-boundary rule
        # for binary payload columns (4.4× on the decode bench).
        import pyarrow as pa


        pid, px, py = pts_b.value
        for b in it:
            if not b.num_rows:
                continue
            ids, views, ws, hs, fmts, minxs, minys = codecs.arrow_batch_cols(
                b, "image_id", "bytes", "w", "h", "fmt", "minx", "miny"
            )
            out_pid, out_img, out_val = [], [], []
            for k in range(b.num_rows):
                h, w = int(hs[k]), int(ws[k])
                minx, miny = float(minxs[k]), float(minys[k])
                maxy = miny + h * pixel_size
                maxx = minx + w * pixel_size
                cand = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
                if not cand.any():
                    continue
                img = codecs.decode_image(views[k], fmts[k], h, w)
                ix, iy, inside = pixelmath.point_pixel_lookup(
                    px[cand], py[cand], minx, maxy, pixel_size, pixel_size, w, h
                )
                vals = img[iy, ix].astype(np.float64)
                out_pid.append(pid[cand])
                out_img.extend([ids[k]] * int(cand.sum()))
                out_val.append(vals)
            if not out_img:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_pid), pa.int64()),
                    pa.array(out_img, pa.string()),
                    pa.array(np.concatenate(out_val), pa.float64()),
                ],
                names=["pt_id", "image_id", "value"],
            )

    hits = src.mapInArrow(_hits, schema=schema)
    # threshold rule: out-of-range → no-data (reference :1559-1573)
    hits = hits.withColumn(
        "value",
        F.when(
            (F.col("value") >= F.lit(float(min_thres)))
            & (F.col("value") <= F.lit(float(max_thres))),
            F.col("value"),
        ).otherwise(F.lit(float(out_no_data_val))),
    )
    # a point can be covered by several images; keep the deterministic
    # first by image_id (reference reads one raster at a time — callers
    # pass a single image for exact parity)
    from pyspark.sql import Window as W

    win = W.partitionBy("pt_id").orderBy("image_id")
    best = (
        hits.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("pt_id", "image_id", "value")
    )
    return points.join(best, "pt_id", "left").fillna(
        {"value": float(out_no_data_val)}
    )
