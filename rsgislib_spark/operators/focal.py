"""Focal-filter operator: halo tiles → numpy window kernels → crop halo.

The Spark shape of the reference's tiled filter pipeline
(python/rsgislib/imagefilter/tiledfilter.py — tile, Pool.map a filter,
mosaic back): here the tiling is ``tile_windows_overlap`` with
``overlap = filter radius``, the per-tile work is a vectorized kernel
from kernels.focal inside ``mapInPandas`` (Arrow batches, no per-row
Python), and the "mosaic" is simply that each tile emits only its
interior pixels, so the union of outputs is exact — no reconcile join
needed. Scales horizontally: each tile is an independent task; partition
count follows the tile count, not the image count.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rsgislib_spark.kernels import focal as FK
from rsgislib_spark.kernels.pixelmath import tile_windows_overlap_anchored

KERNELS = {
    "mean": FK.focal_mean,
    "min": FK.focal_min,
    "max": FK.focal_max,
    "range": FK.focal_range,
    "stddev": FK.focal_stddev_pop,
    "median": FK.focal_median,
    "mode": FK.focal_mode,
    "total": FK.focal_total,
    "coeff_of_var": FK.focal_coeff_of_var,
    "mean_diff": FK.focal_mean_diff,
    "mean_diff_abs": FK.focal_mean_diff_abs,
    "total_diff": FK.focal_total_diff,
    "total_diff_abs": FK.focal_total_diff_abs,
    "norm_var_power": FK.focal_norm_var_power,
    "norm_var_amplitude": FK.focal_norm_var_amplitude,
    "norm_var_ln_power": FK.focal_norm_var_ln_power,
    "texture_var": FK.focal_texture_var,
}


def focal_stats_tiled(
    images: DataFrame,
    stat: str,
    radius: int = 1,
    tile: int = 256,
    band: str = "red",
) -> DataFrame:
    """Per-image focal statistic aggregated per image.

    ``images`` needs (image_key, w, h); pixel values come from the
    synthetic band grid (kernels.bands) — the decode-from-bytes variant
    plugs kernels.codecs into the same skeleton.

    Returns (image_key, n_px, sum_focal_sum, sum_focal_cnt) where the
    focal sums/counts are integer-exact (SQL-oracle comparable).
    """
    if stat not in ("sum_count",):
        if stat not in KERNELS:
            raise ValueError(f"unknown focal stat {stat!r}")

    from rsgislib_spark.kernels import bands as BK

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for rec in pdf.itertuples(index=False):
                w, h = int(rec.w), int(rec.h)
                grid = BK.synth_band_grid(int(rec.image_key), w, h, band)
                total_s = 0
                total_c = 0
                # halo-tile loop: mirrors multi-task execution shape even
                # within one image (tiles would be separate rows at scale)
                for tx, ty, x0, y0, tw, th, ax0, ay0, aw, ah in (
                    tile_windows_overlap_anchored(w, h, tile, tile, overlap=radius)
                ):
                    sub = grid[y0 : y0 + th, x0 : x0 + tw]
                    s, c = FK.focal_sum_count(sub, radius)
                    # interior crop = the un-expanded anchor span; deriving
                    # it from the expanded window's position double-counts
                    # the halo when size % tile is in (0, radius]
                    iy0 = ay0 - y0
                    ix0 = ax0 - x0
                    iy1 = iy0 + ah
                    ix1 = ix0 + aw
                    # edge-of-tile windows are clipped at the tile edge, but
                    # interior pixels with a full halo see the true window —
                    # recompute nothing; the halo guarantees correctness
                    total_s += int(s[iy0:iy1, ix0:ix1].sum())
                    total_c += int(c[iy0:iy1, ix0:ix1].sum())
                outs.append((int(rec.image_key), w * h, total_s, total_c))
            yield pd.DataFrame(
                outs, columns=["image_key", "n_px", "sum_focal_sum", "sum_focal_cnt"]
            )

    return images.select("image_key", "w", "h").mapInPandas(
        _run, schema="image_key long, n_px long, sum_focal_sum long, sum_focal_cnt long"
    )


def stat_filters_tiled(
    images: DataFrame,
    tile: int = 128,
    band: str = "red",
) -> DataFrame:
    """Remaining statistics filters of the reference's family — total,
    total-diff(+abs), mean-diff denominators, and the window mode
    (apply_total/total_diff/total_diff_abs/mean_diff/mode_filter,
    python/rsgislib/imagefilter/__init__.py:37-980) — reduced to
    per-image integer aggregates over halo tiles. Clipped in-bounds
    window semantics: a crop pixel's window clips only at true IMAGE
    boundaries (the halo covers tile seams), so the tiled result equals
    the whole-array filters exactly (tests assert this).

    Returns (image_key, n_px, sum_total, sum_abs_total_diff [Σ_p
    |total_diff(p)| — the SIGNED per-pixel sums image-summed would
    telescope to zero (every neighbour pair cancels), so the abs is
    taken per pixel], sum_abs_nbr_diff [Σ_p total_diff_abs(p)],
    sum_nbrs, sum_mode, mean_abs_diff_overall) — the overall mean is a
    ratio of two integer sums (hash-stable); per-pixel mean_diff floats
    never leave the kernel.
    """
    from rsgislib_spark.kernels import bands as BK

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for rec in pdf.itertuples(index=False):
                w, h = int(rec.w), int(rec.h)
                grid = BK.synth_band_grid(int(rec.image_key), w, h, band)
                s_tot = s_td = s_abs = s_nbr = s_mode = 0
                for tx, ty, x0, y0, tw, th, ax0, ay0, aw, ah in (
                    tile_windows_overlap_anchored(w, h, tile, tile, overlap=1)
                ):
                    sub = grid[y0 : y0 + th, x0 : x0 + tw]
                    iy0 = ay0 - y0
                    ix0 = ax0 - x0
                    crop = (slice(iy0, iy0 + ah), slice(ix0, ix0 + aw))
                    s, c = FK.focal_sum_count(sub, 1)
                    td = FK.focal_total_diff(sub, 1)
                    s_tot += int(s[crop].sum())
                    s_td += int(np.abs(td[crop]).sum())
                    s_abs += int(FK.focal_total_diff_abs(sub, 1)[crop].sum())
                    s_nbr += int((c[crop] - 1).sum())
                    s_mode += int(FK.focal_mode(sub, 1)[crop].sum())
                outs.append(
                    (int(rec.image_key), w * h, s_tot, s_td, s_abs, s_nbr, s_mode)
                )
            yield pd.DataFrame(
                outs,
                columns=[
                    "image_key", "n_px", "sum_total", "sum_abs_total_diff",
                    "sum_abs_nbr_diff", "sum_nbrs", "sum_mode",
                ],
            )

    from pyspark.sql import functions as F

    out = images.select("image_key", "w", "h").mapInPandas(
        _run,
        schema=(
            "image_key long, n_px long, sum_total long, sum_abs_total_diff long, "
            "sum_abs_nbr_diff long, sum_nbrs long, sum_mode long"
        ),
    )
    return out.withColumn(
        "mean_abs_diff_overall",
        F.round(F.col("sum_abs_nbr_diff") / F.col("sum_nbrs"), 6),
    )


def edge_filters_tiled(
    images: DataFrame,
    tile: int = 128,
    band: str = "red",
) -> DataFrame:
    """Sobel + Prewitt gradient pairs and 4-neighbour Laplacian per
    image, reduced to integer |gradient| sums (apply_sobel_filter /
    apply_prewitt_filter / the gaussian-2nd-deriv discrete base,
    python/rsgislib/imagefilter/__init__.py:37-980).

    Same halo-tile skeleton as :func:`focal_stats_tiled` with
    ``overlap = 1`` (the 3×3 kernels' radius). Edge-pad exactness under
    tiling: interior crop pixels take every neighbour from the real
    halo; a crop pixel on the IMAGE boundary sits on its tile's clipped
    boundary too, so the kernels' edge replication reproduces
    whole-image edge padding exactly — the tiled result equals the
    whole-array filter bit-for-bit (tests assert this).

    Returns (image_key, n_px, sum_abs_gx_sobel, sum_abs_gy_sobel,
    sum_abs_gx_prewitt, sum_abs_gy_prewitt, sum_abs_laplacian) — all
    integer-exact on integer rasters, hence SQL-oracle comparable.
    """
    from rsgislib_spark.kernels import bands as BK

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for rec in pdf.itertuples(index=False):
                w, h = int(rec.w), int(rec.h)
                grid = BK.synth_band_grid(int(rec.image_key), w, h, band)
                acc = [0, 0, 0, 0, 0]
                for tx, ty, x0, y0, tw, th, ax0, ay0, aw, ah in (
                    tile_windows_overlap_anchored(w, h, tile, tile, overlap=1)
                ):
                    sub = grid[y0 : y0 + th, x0 : x0 + tw]
                    iy0 = ay0 - y0
                    ix0 = ax0 - x0
                    crop = (slice(iy0, iy0 + ah), slice(ix0, ix0 + aw))
                    gxs, gys = FK.sobel(sub)
                    gxp, gyp = FK.prewitt(sub)
                    lap = FK.laplacian(sub)
                    for j, g in enumerate((gxs, gys, gxp, gyp, lap)):
                        acc[j] += int(np.abs(g[crop]).sum())
                outs.append((int(rec.image_key), w * h, *acc))
            yield pd.DataFrame(
                outs,
                columns=[
                    "image_key", "n_px", "sum_abs_gx_sobel", "sum_abs_gy_sobel",
                    "sum_abs_gx_prewitt", "sum_abs_gy_prewitt", "sum_abs_laplacian",
                ],
            )

    return images.select("image_key", "w", "h").mapInPandas(
        _run,
        schema=(
            "image_key long, n_px long, sum_abs_gx_sobel long, "
            "sum_abs_gy_sobel long, sum_abs_gx_prewitt long, "
            "sum_abs_gy_prewitt long, sum_abs_laplacian long"
        ),
    )
