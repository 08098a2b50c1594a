"""Zonal aggregation — the reference's rasterGIS/zonalstats core.

Two operators:

 - :func:`segment_stats` — per-segment (clump) stats from a label grid:
   ``populate_rat_with_stats`` (binding ``python/src/rastergis.cpp:1740-1766``,
   impl ``src/rastergis/RSGISPopRATWithStats.cpp:59-470``). The reference
   does a streaming sum/count pass plus a second pass for stddev; Spark's
   partial+final hash aggregation replaces both with one pass (sum/sumsq).

 - :func:`zonal_band_stats` — polygon zonal attribution:
   ``calc_zonal_band_stats`` (``python/rsgislib/zonalstats/__init__.py:167-523``):
   per polygon, pixels whose CENTER falls inside the polygon (inclusion
   method "polyContainsPixelCenter", the hybrid default at ``:878-1321``),
   masked by [min_thres, max_thres] and no-data, aggregated
   min/max/mean/stddev/sum/count. No-valid-pixels ⇒ nulls
   (reference fills out_no_data, ``:477-499``).

Physical shape: one Arrow pass over images emits PARTIAL aggregates
(zone, count, sum, sumsq, min, max) — the map-side combine — then a
tiny ``groupBy(zone).agg`` finalizes. Pixel payloads never shuffle;
only O(zones) partial rows do. Binary payload columns cross the Python
boundary via ``mapInArrow`` + ``codecs.arrow_binary_views`` (zero-copy
buffer slices) — the repo's Arrow-boundary rule: ``mapInPandas`` on a
bytes column materializes per-row Python objects (measured 4.4× slower
end-to-end on the decode bench).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from rsgislib_spark.datagen import PIXEL_SIZE
from rsgislib_spark.kernels import codecs, pixelmath
from rsgislib_spark.operators.spatial_join import ZoneIndex, _zone_side


_PARTIAL_SCHEMA = (
    "zone_id long, n long, s double, ss double, mn double, mx double"
)


def _finalize(partials: DataFrame) -> DataFrame:
    """Combine partial (n, s, ss, mn, mx) into the reference's stat set."""
    agg = partials.groupBy("zone_id").agg(
        F.sum("n").alias("count"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
    )
    mean = F.col("s") / F.col("count")
    # population stddev (the reference computes sqrt(sum((x-mean)^2)/n):
    # RSGISPopRATWithStats.cpp second pass)
    var = F.col("ss") / F.col("count") - mean * mean
    return agg.select(
        "zone_id",
        F.col("count"),
        F.col("min"),
        F.col("max"),
        mean.alias("mean"),
        F.col("s").alias("sum"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"),
    )


def segment_stats(images: DataFrame, segments: DataFrame) -> DataFrame:
    """Per-(image, segment) pixel stats — RAT ``populate_rat_with_stats``.

    Output key is the composite (image_id, zone) exposed as
    ``image_id string, zone int`` plus Min/Max/Mean/Sum/StdDev/count —
    the RAT column set of ``python_tests/test_rastergis.py:30-36``.
    """
    joined = images.select("image_id", "bytes", "w", "h", "fmt").join(
        segments.select("image_id", "seg_bytes"), "image_id", "inner"
    )
    schema = (
        "image_id string, zone int, n long, s double, ss double, "
        "mn double, mx double"
    )

    def _partial(it):
        import pyarrow as pa

        for b in it:
            if not b.num_rows:
                continue
            ids, views, ws, hs, fmts, seg_views = codecs.arrow_batch_cols(
                b, "image_id", "bytes", "w", "h", "fmt", "seg_bytes"
            )
            outs = []
            for k in range(b.num_rows):
                h, w = int(hs[k]), int(ws[k])
                img = (
                    codecs.decode_image(views[k], fmts[k], h, w)
                    .astype(np.float64)
                    .ravel()
                )
                lab = np.frombuffer(seg_views[k], dtype=np.int32, count=h * w)
                nz = int(lab.max()) + 1
                cnt = np.bincount(lab, minlength=nz)
                s = np.bincount(lab, weights=img, minlength=nz)
                ss = np.bincount(lab, weights=img * img, minlength=nz)
                order = np.argsort(lab, kind="stable")
                sorted_vals = img[order]
                bounds = np.concatenate(([0], np.cumsum(cnt)))
                mn = np.array([sorted_vals[bounds[i]:bounds[i + 1]].min() if cnt[i] else np.nan for i in range(nz)])
                mx = np.array([sorted_vals[bounds[i]:bounds[i + 1]].max() if cnt[i] else np.nan for i in range(nz)])
                keep = cnt > 0
                nk = int(keep.sum())
                outs.append(pa.RecordBatch.from_arrays(
                    [
                        pa.array([ids[k]] * nk, pa.string()),
                        pa.array(np.arange(nz, dtype=np.int32)[keep], pa.int32()),
                        pa.array(cnt[keep].astype(np.int64), pa.int64()),
                        pa.array(s[keep], pa.float64()),
                        pa.array(ss[keep], pa.float64()),
                        pa.array(mn[keep], pa.float64()),
                        pa.array(mx[keep], pa.float64()),
                    ],
                    names=["image_id", "zone", "n", "s", "ss", "mn", "mx"],
                ))
            yield from outs

    partials = joined.mapInArrow(_partial, schema=schema)
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    # one partial row per (image, zone) already — finalize per composite key
    return partials.select(
        "image_id",
        "zone",
        F.col("n").alias("count"),
        F.col("mn").alias("min"),
        F.col("mx").alias("max"),
        mean.alias("mean"),
        F.col("s").alias("sum"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"),
    )


def segment_histogram(images: DataFrame, segments: DataFrame) -> DataFrame:
    """Per-(image, segment, value) pixel counts — the exact-histogram path
    used for mode/median parity (``populate_rat_with_mode``,
    ``rastergis.cpp:1807-1821``; reference approximates with 200-bin
    histograms, ``RSGISPopRATWithStats.cpp:1040-1130``)."""
    joined = images.select("image_id", "bytes", "w", "h", "fmt").join(
        segments.select("image_id", "seg_bytes"), "image_id", "inner"
    )
    schema = "image_id string, zone int, value int, cnt long"

    def _hist(it):
        import pyarrow as pa

        for b in it:
            if not b.num_rows:
                continue
            ids, views, ws, hs, fmts, seg_views = codecs.arrow_batch_cols(
                b, "image_id", "bytes", "w", "h", "fmt", "seg_bytes"
            )
            for k in range(b.num_rows):
                h, w = int(hs[k]), int(ws[k])
                img = codecs.decode_image(views[k], fmts[k], h, w).ravel().astype(np.int64)
                lab = np.frombuffer(seg_views[k], dtype=np.int32, count=h * w).astype(np.int64)
                key = lab * 256 + img
                uniq, cnt = np.unique(key, return_counts=True)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([ids[k]] * len(uniq), pa.string()),
                        pa.array((uniq // 256).astype(np.int32), pa.int32()),
                        pa.array((uniq % 256).astype(np.int32), pa.int32()),
                        pa.array(cnt.astype(np.int64), pa.int64()),
                    ],
                    names=["image_id", "zone", "value", "cnt"],
                )

    return joined.mapInArrow(_hist, schema=schema)


def segment_mode(images: DataFrame, segments: DataFrame) -> DataFrame:
    """Per-(image, segment) modal pixel value; ties → smallest value
    (deterministic; the reference's histogram scan picks the first bin)."""
    hist = segment_histogram(images, segments)
    from pyspark.sql import Window as W

    win = W.partitionBy("image_id", "zone").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    return (
        hist.withColumn("rn", F.row_number().over(win))
        .filter("rn = 1")
        .select("image_id", "zone", F.col("value").alias("mode"))
    )


def _zone_pixels(zx: ZoneIndex, b, no_data_val, pixel_size: float):
    """The per-(image, zone) step of the polygon zonal operators over one
    Arrow batch of (bytes, w, h, fmt, minx, miny) rows: for every image,
    each zone whose envelope meets the image rect (tree query) → the
    reference's envelope pixel window (``pixelmath.zonal_window``) →
    pixel centres inside the polygon (polyContainsPixelCenter) → no-data
    dropped. Yields ``(zone_id, values)`` with float64 values, in image
    then tree order; an image no zone meets is never decoded."""
    views, ws, hs, fmts, minxs, minys = codecs.arrow_batch_cols(
        b, "bytes", "w", "h", "fmt", "minx", "miny"
    )
    for k in range(b.num_rows):
        h, w = int(hs[k]), int(ws[k])
        minx, miny = float(minxs[k]), float(minys[k])
        maxy = miny + h * pixel_size
        maxx = minx + w * pixel_size
        qi, zi = zx.tree.query(np.array([[minx, miny, maxx, maxy]]))
        if len(zi) == 0:
            continue
        img = codecs.decode_image(views[k], fmts[k], h, w).astype(np.float64)
        for z in zi:
            zb = zx.bboxes[z]
            x1, y1, xs, ys, have = pixelmath.zonal_window(
                [zb[0]], [zb[2]], [zb[1]], [zb[3]],
                minx, maxy, pixel_size, pixel_size, w, h,
            )
            if not have[0]:
                continue
            x1_, y1_, xs_, ys_ = int(x1[0]), int(y1[0]), int(xs[0]), int(ys[0])
            sub = img[y1_ : y1_ + ys_, x1_ : x1_ + xs_]
            pcx = minx + (np.arange(x1_, x1_ + xs_) + 0.5) * pixel_size
            pcy = maxy - (np.arange(y1_, y1_ + ys_) + 0.5) * pixel_size
            gx, gy = np.meshgrid(pcx, pcy)
            mask = zx_points_in(zx.rings[z], gx.ravel(), gy.ravel()).reshape(sub.shape)
            vals = sub[mask]
            if no_data_val is not None:
                vals = vals[vals != no_data_val]
            yield int(zx.zone_ids[z]), vals


def zonal_band_stats(
    images: DataFrame,
    zones: DataFrame,
    min_thres: float = -np.inf,
    max_thres: float = np.inf,
    no_data_val: float | None = None,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """Polygon zonal stats over image pixels (pixel-center-in-polygon).

    zones broadcast as the join's ZoneIndex (``spatial_join._zone_side``,
    behind its driver fence); a single image pass emits per-zone
    partials. Returns zone_id + count/min/max/mean/sum/stddev (null stats
    for zones with zero valid pixels — the reference's no-data fill rule).
    """
    zx, _ = _zone_side(zones)
    zindex_b = images.sparkSession.sparkContext.broadcast(zx)

    src = images.select("bytes", "w", "h", "fmt", "minx", "miny")

    def _partial(it):
        import pyarrow as pa

        zx: ZoneIndex = zindex_b.value
        for b in it:
            if not b.num_rows:
                continue
            acc = {}
            for zid, vals in _zone_pixels(zx, b, no_data_val, pixel_size):
                vals = vals[(vals >= min_thres) & (vals <= max_thres)]
                if vals.size == 0:
                    continue
                a = acc.get(zid)
                stat = (
                    vals.size, float(vals.sum()), float((vals * vals).sum()),
                    float(vals.min()), float(vals.max()),
                )
                if a is None:
                    acc[zid] = list(stat)
                else:
                    a[0] += stat[0]
                    a[1] += stat[1]
                    a[2] += stat[2]
                    a[3] = min(a[3], stat[3])
                    a[4] = max(a[4], stat[4])
            if acc:
                zids = sorted(acc)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.array(zids, dtype=np.int64), pa.int64()),
                        pa.array([acc[z][0] for z in zids], pa.int64()),
                        pa.array([acc[z][1] for z in zids], pa.float64()),
                        pa.array([acc[z][2] for z in zids], pa.float64()),
                        pa.array([acc[z][3] for z in zids], pa.float64()),
                        pa.array([acc[z][4] for z in zids], pa.float64()),
                    ],
                    names=["zone_id", "n", "s", "ss", "mn", "mx"],
                )

    partials = src.mapInArrow(_partial, schema=_PARTIAL_SCHEMA)
    return _finalize(partials)


def zx_points_in(rings, px, py):
    from rsgislib_spark.kernels.geom import points_in_polygon

    return points_in_polygon(px, py, rings)


def mode_median_from_histogram(
    hist: DataFrame,
    key_cols: list,
    value_col: str = "value",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Exact mode + median from per-key value histograms (small-int
    pixel values → 256 bins exact; the reference approximates both with
    fixed-bin histograms, RSGISPopRATWithStats.cpp:512,1068 — ours are
    exact because the value domain is the bin domain).

    Mode ties → smallest value. Median = numpy convention (mean of the
    two middle order statistics for even counts), computed from the
    cumulative histogram: lo = value at position (n+1)//2, hi = value at
    position n//2 + 1 (1-based). Returns key_cols + n_px, mode, median.
    """
    from pyspark.sql import Window as W

    keys = [F.col(k) for k in key_cols]
    wcum = W.partitionBy(*keys).orderBy(F.asc(value_col)).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = hist.withColumn("cum", F.sum(cnt_col).over(wcum)).withColumn(
        "n", F.sum(cnt_col).over(W.partitionBy(*keys))
    )
    lo = (
        # Integer rank (n+1)//2, matching the DuckDB oracle's (n_px+1)//2 —
        # double division (n+1)/2 would give e.g. 2.5 for n=4 and select the
        # upper-middle order statistic instead of the lower one.
        cum.filter(F.col("cum") >= F.floor((F.col("n") + F.lit(1)) / F.lit(2)))
        .groupBy(*key_cols)
        .agg(F.min(value_col).alias("vlo"))
    )
    hi = (
        cum.filter(F.col("cum") >= F.floor(F.col("n") / 2) + 1)
        .groupBy(*key_cols)
        .agg(F.min(value_col).alias("vhi"))
    )
    wmode = W.partitionBy(*keys).orderBy(F.desc(cnt_col), F.asc(value_col))
    md = (
        hist.withColumn("rn", F.row_number().over(wmode))
        .filter("rn = 1")
        .select(*key_cols, F.col(value_col).alias("mode"))
    )
    tot = hist.groupBy(*key_cols).agg(F.sum(cnt_col).alias("n_px"))
    return (
        tot.join(md, key_cols)
        .join(lo, key_cols)
        .join(hi, key_cols)
        .select(
            *key_cols,
            "n_px",
            "mode",
            F.round((F.col("vlo") + F.col("vhi")) / 2.0, 1).alias("median"),
        )
    )


def percentiles_from_histogram(
    hist: DataFrame,
    key_cols: list,
    ps: tuple = (0.25, 0.75),
    value_col: str = "value",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Exact per-key percentiles from value histograms — the exact
    analogue of ``populate_rat_with_percentiles`` (binding
    rastergis.cpp:1767-1791; impl RSGISPopRATWithStats.cpp:473-560,
    histogram fill :512, percentile from bins :536). The reference uses
    200 fixed bins (approximate by design); ours is exact because the
    small-int value domain IS the bin domain.

    Convention: inverted CDF (type-1) — percentile p is the smallest
    value whose cumulative count reaches ceil(p·n). Integer-exact, so
    the DuckDB oracle reproduces it bit-for-bit. Returns key_cols +
    n_px + one p{NN} column per requested percentile."""
    from pyspark.sql import Window as W

    keys = [F.col(k) for k in key_cols]
    wcum = W.partitionBy(*keys).orderBy(F.asc(value_col)).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = hist.withColumn("cum", F.sum(cnt_col).over(wcum)).withColumn(
        "n", F.sum(cnt_col).over(W.partitionBy(*keys))
    )
    from fractions import Fraction

    out = hist.groupBy(*key_cols).agg(F.sum(cnt_col).alias("n_px"))
    for p in ps:
        name = f"p{int(round(p * 100)):02d}"
        # Rank in INTEGER arithmetic: p as an exact small rational num/den,
        # rank = ceil(p·n) = (num·n + den − 1) div den. Double arithmetic
        # (ceil(float(p)·n)) is off by one for non-dyadic p (e.g. p=0.1,
        # n=110 → 11.000000000000002 → ceil 12).
        frac = Fraction(p).limit_denominator(1_000_000)
        num, den = frac.numerator, frac.denominator
        rank = F.expr(f"({num}L * n + {den - 1}L) div {den}L")
        sel = (
            cum.filter(F.col("cum") >= rank)
            .groupBy(*key_cols)
            .agg(F.min(value_col).alias(name))
        )
        out = out.join(sel, key_cols)
    return out


def zonal_band_mode_median(
    images: DataFrame,
    zones: DataFrame,
    no_data_val: float | None = None,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """Per-polygon MODE and MEDIAN of pixel values (pixel-center
    inclusion) — the mode/median half of ``calc_zonal_band_stats``
    (zonalstats/__init__.py:449-476; golden test
    python_tests/test_zonalstats.py:108-1056) that the moment-stats
    operator doesn't cover. Partials are per-(zone, value) histogram
    counts — 256 rows per zone max — so the shuffle stays O(zones·256)
    regardless of pixel count."""
    zx, _ = _zone_side(zones)
    zindex_b = images.sparkSession.sparkContext.broadcast(zx)
    src = images.select("bytes", "w", "h", "fmt", "minx", "miny")

    def _hist(it):
        import pyarrow as pa

        zx: ZoneIndex = zindex_b.value
        for b in it:
            if not b.num_rows:
                continue
            acc: dict = {}
            for zid, vals in _zone_pixels(zx, b, no_data_val, pixel_size):
                if not vals.size:
                    continue
                counts = np.bincount(vals.astype(np.int64), minlength=256)
                prev = acc.get(zid)
                acc[zid] = counts if prev is None else prev + counts
            if not acc:
                continue
            zids, values, cnts = [], [], []
            for zid, counts in acc.items():
                nz = np.flatnonzero(counts)
                zids.extend([zid] * len(nz))
                values.extend(int(v) for v in nz)
                cnts.extend(int(counts[v]) for v in nz)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(zids, pa.int64()),
                    pa.array(values, pa.int32()),
                    pa.array(cnts, pa.int64()),
                ],
                names=["zone_id", "value", "cnt"],
            )

    partial = src.mapInArrow(_hist, schema="zone_id long, value int, cnt long")
    hist = partial.groupBy("zone_id", "value").agg(F.sum("cnt").alias("cnt"))
    return mode_median_from_histogram(hist, ["zone_id"])
