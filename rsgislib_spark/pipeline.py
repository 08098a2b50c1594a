"""The north-star pipeline: per-zone pixel statistics over the image
table, end to end — the job the zonal benchmark measures.

Both north stars run ONE partial body (:func:`_zone_partials`) in a
single mapInArrow per task and differ only in their input step:
 1. pixels        — :func:`north_star` ships only image_key, derives the
                    footprints and synthesizes each same-shape stack
                    (:func:`lattice_grid`); :func:`north_star_decoded`
                    reads stored bytes and decodes every payload once
                    (``codecs.decode_image``)
 2. pixel kernels — four reductions per image over CHUNK stacks of
                    same-shape images (:func:`shape_runs`): sum, min, max
                    and the 3×3 focal sum as cyᵀ·G·cx
                    (:func:`_stats_from_grid`); the per-tile rollup of the
                    tiler (create_tiles semantics,
                    imageutils.cpp:2061-2093) is fused away algebraically,
                    tiles are only counted (TILE)
 3. spatial join  — images × zone polygons, broadcast STRtree refine
                    (perform_spatial_join semantics, vectorutils:2159-2225);
                    zero shuffle of the image side
 4. zonal rollup  — per-zone partial aggregation in the same map, then
                    one tiny groupBy (populate_rat_with_stats,
                    rastergis.cpp:1740-1766; :func:`_zone_stats`)

Scale design: the image side partitions by range on image_key (uniform);
the zone side broadcasts (small by construction). The only shuffles move
image keys and per-zone partial STATS rows (9 small columns), never
pixels. Driver
work is O(|zones|) pandas — no extra Spark jobs before the main one.

``replicate=R`` multiplies the image side R× with distinct keys (pixel
content differs per replica) — the sandbox stand-in for the 10^12-row
table when measuring scaling, since fixed planning cost must be amortized
exactly as it is on a real cluster.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from rsgislib_spark.kernels import codecs, geom

TILE = 96  # tile edge the zonal pass counts tiles with
RADIUS = 1  # focal window half-width: the 3×3 window


# ------------------------------------------------------------ zone prep

def load_zones_pdf(sf_dir: str) -> pd.DataFrame:
    """Zone rectangles (GEO_ZONES derivation, queries.py) built directly
    from the supplier parquet with pandas — keeps driver-side prep off
    the Spark scheduler (it was a measurable fixed cost per job)."""
    s = pd.read_parquet(f"{sf_dir}/supplier.parquet", columns=["s_suppkey"])[
        "s_suppkey"
    ].to_numpy(np.int64)
    zminx = np.where(s % 10 == 0, 45000 + (s % 7) * 100, (s * 7919) % 90000).astype(
        np.float64
    ) + 0.25
    zminy = np.where(
        s % 10 == 0, 45000 + ((s * 3) % 7) * 100, (s * 104729) % 90000
    ).astype(np.float64) + 0.25
    zw = 2000 + (s % 12) * 1500
    zh = 2000 + ((s * 5) % 12) * 1500
    zmaxx = zminx + zw
    zmaxy = zminy + zh
    wkbs = [
        geom.polygon_to_wkb(
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]
        )
        for x0, y0, x1, y1 in zip(zminx, zminy, zmaxx, zmaxy)
    ]
    return pd.DataFrame({"zone_id": s, "geometry": wkbs})


# ------------------------------------------------------ image derivation

def images_df(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """Footprint columns from the part table (GEO_IMAGES derivation) as
    pure column expressions — pushdown-friendly, codegen'd."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    k = F.col("p_partkey")
    minx = F.when(k % 5 == 0, 50000 + (k % 97) * 10).otherwise((k * 9973) % 99000)
    miny = F.when(k % 5 == 0, 50000 + ((k * 3) % 97) * 10).otherwise((k * 6151) % 99000)
    w = (64 + (k % 4) * 64).cast("int")
    h = (64 + ((k * 7) % 4) * 64).cast("int")
    d = p.select(
        k.alias("base_key"),
        minx.cast("double").alias("minx"),
        miny.cast("double").alias("miny"),
        (minx + w * 10).cast("double").alias("maxx"),
        (miny + h * 10).cast("double").alias("maxy"),
        w.alias("w"),
        h.alias("h"),
    )
    if replicate > 1:
        d = d.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
    else:
        d = d.withColumn("rep", F.lit(0))
    return d.select(
        (F.col("base_key") * replicate + F.col("rep")).alias("image_key"),
        "minx", "miny", "maxx", "maxy", "w", "h",
    )


# ---------------------------------------------------------- pixel kernels

CHUNK = 8  # images per kernel invocation: keeps the stack and its one float64
# temporary (the (m, h, w) cast the focal matmul reads, ~h·w·8B·CHUNK) near
# per-core cache — at CHUNK=64 the arrays stream DRAM and the 32-core node
# hits its bandwidth ceiling (measured with the earlier box filter:
# aggregate throughput capped ~1.7x from 8→32 cores)


def lattice_grid(keys: np.ndarray, w: int, h: int) -> np.ndarray:
    """The synthetic band grid (image_key·7 + x·13 + y·17) mod 251 for a
    chunk of same-shape images, as (m, h, w) uint8. The per-pixel modulo
    is replaced by a conditional subtract: both addends are pre-reduced
    mod 251, so their sum is < 502 and one masked subtract restores the
    residue — 2× faster than int16 ``%`` (integer division) per pixel.

    The x·13 + y·17 products are formed in int32 (w·13 + h·17 would wrap
    int16 negative from w,h ≈ 2521, and the ``%`` of the wrapped value is
    a silently wrong residue); the reduced xym fits int16 for the
    subsequent chunk arrays."""
    xym = (
        (
            (np.arange(w, dtype=np.int32) * 13)
            + (np.arange(h, dtype=np.int32) * 17)[:, None]
        )
        % 251
    ).astype(np.int16)
    k7 = ((keys.astype(np.int64) * 7) % 251).astype(np.int16)
    g = k7[:, None, None] + xym
    np.subtract(g, 251, out=g, where=g >= 251)
    return g.astype(np.uint8)


def shape_runs(ws: np.ndarray, hs: np.ndarray, keys: np.ndarray):
    """Rows sorted by (w, h, key) and the same-shape runs of that order:
    ``(order, [(i, j, w, h), ...])`` where ``order[i:j]`` are the rows of
    shape (w, h). Every pixel pass stacks same-shape images, so it walks
    these runs CHUNK rows at a time."""
    order = np.lexsort((keys, hs, ws))
    if not len(order):
        return order, []
    sw, sh = ws[order], hs[order]
    cuts = np.flatnonzero((sw[1:] != sw[:-1]) | (sh[1:] != sh[:-1])) + 1
    bounds = np.concatenate(([0], cuts, [len(order)]))
    return order, [
        (int(i), int(j), int(sw[i]), int(sh[i])) for i, j in zip(bounds[:-1], bounds[1:])
    ]


def _window_counts(n: int) -> np.ndarray:
    """Pixels of the clipped (2·RADIUS + 1)-wide window at each of ``n``
    positions along one axis: ``min(i + RADIUS + 1, n) − max(i − RADIUS, 0)``."""
    i = np.arange(n)
    return (np.minimum(i + RADIUS + 1, n) - np.maximum(i - RADIUS, 0)).astype(np.float64)


def _stats_from_grid(grid: np.ndarray):
    """Whole-image band + focal reductions over a (m, h, w) uint8 pixel
    stack: sum, min, max and the focal sum. The focal sum of an image G
    is the sum of its clipped 3×3 window sums, i.e. each pixel weighted
    by the windows that hold it: cyᵀ·G·cx with the per-row and
    per-column window counts (:func:`_window_counts`), two BLAS
    reductions and no box-filtered copy. Every term is an integer below
    255·9·h·w < 2⁵³, so the float64 products are exact in any summation
    order and at any BLAS thread count. The stack is synthesized or
    decoded by the caller."""
    _, h, w = grid.shape
    cx, cy = _window_counts(w), _window_counts(h)
    return (
        grid.sum(axis=(1, 2), dtype=np.int64),
        grid.min(axis=(1, 2)).astype(np.int64),
        grid.max(axis=(1, 2)).astype(np.int64),
        ((grid @ cx) @ cy).astype(np.int64),
        int(cx.sum() * cy.sum()),
    )


# ------------------------------------------------------------- pipeline

def _derive_footprints(keys: np.ndarray, replicate: int):
    """Vectorized in-kernel footprint derivation (same GEO_IMAGES
    formulas as :func:`images_df`) so only the 8-byte image_key crosses
    the JVM→Python Arrow boundary — the JVM feeder threads share cores
    with the Python workers in local mode, so feed bytes are wall time."""
    base = keys // replicate
    minx = np.where(base % 5 == 0, 50000 + (base % 97) * 10, (base * 9973) % 99000)
    miny = np.where(base % 5 == 0, 50000 + ((base * 3) % 97) * 10, (base * 6151) % 99000)
    w = (64 + (base % 4) * 64).astype(np.int32)
    h = (64 + ((base * 7) % 4) * 64).astype(np.int32)
    bbox = np.column_stack(
        [minx, miny, minx + w * 10, miny + h * 10]
    ).astype(np.float64)
    return w, h, bbox


def _zone_partials(zx, ws, hs, bbox, keys, pixels):
    """The zonal partial body both north stars run, once per task:
    per-image band + focal stats over same-shape CHUNK stacks →
    STRtree match of the footprints → per-zone partial agg. Yields one
    RecordBatch of at most |zones| rows (none when no image meets a
    zone). ``pixels(rows, w, h)`` returns the (m, h, w) uint8 stack of
    ``rows`` (indices into ``ws``/``hs``/``bbox``), all of shape (w, h)."""
    import pyarrow as pa

    order, runs = shape_runs(ws, hs, keys)
    n = len(order)
    sum_v, min_v, max_v, focal_sum, focal_cnt, n_tiles, n_px = np.empty((7, n), np.int64)
    for i, j, w, h in runs:
        for c0 in range(i, j, CHUNK):
            c1 = min(c0 + CHUNK, j)
            (
                sum_v[c0:c1], min_v[c0:c1], max_v[c0:c1],
                focal_sum[c0:c1], focal_cnt[c0:c1],
            ) = _stats_from_grid(pixels(order[c0:c1], w, h))
        n_tiles[i:j] = -(-w // TILE) * -(-h // TILE)
        n_px[i:j] = w * h
    qi, zi = zx.match(bbox[order], "intersects")
    if not len(qi):
        return
    m = pd.DataFrame(
        {
            "zone_id": zx.zone_ids[zi],
            "n_tiles": n_tiles[qi], "n_px": n_px[qi],
            "sum_v": sum_v[qi], "min_v": min_v[qi], "max_v": max_v[qi],
            "focal_sum": focal_sum[qi], "focal_cnt": focal_cnt[qi],
        }
    )
    out = m.groupby("zone_id", sort=False).agg(
        n_images=("n_px", "size"),
        n_tiles=("n_tiles", "sum"),
        n_px=("n_px", "sum"),
        sum_v=("sum_v", "sum"),
        min_v=("min_v", "min"),
        max_v=("max_v", "max"),
        focal_sum=("focal_sum", "sum"),
        focal_cnt=("focal_cnt", "sum"),
    ).reset_index()
    yield pa.RecordBatch.from_pandas(out.astype(np.int64), preserve_index=False)


def _zone_stats(rows: DataFrame, sf_dir: str, input_step, *args) -> DataFrame:
    """Broadcast the zones, run ``input_step(zindex_b, *args)`` as ONE
    mapInArrow per task, and finish the per-zone stats in one tiny
    groupBy: aggregation pushdown through the spatial join, so the
    image×zone pair list is never materialized or shuffled — only
    ≤|zones| partial rows per task are."""
    from rsgislib_spark.operators.spatial_join import ZoneIndex

    zindex_b = rows.sparkSession.sparkContext.broadcast(
        ZoneIndex.from_pandas(load_zones_pdf(sf_dir))
    )
    schema = (
        "zone_id long, n_images long, n_tiles long, n_px long, sum_v long, "
        "min_v long, max_v long, focal_sum long, focal_cnt long"
    )
    partials = rows.mapInArrow(input_step(zindex_b, *args), schema=schema)
    return partials.groupBy("zone_id").agg(
        F.sum("n_images").alias("n_images"),
        F.sum("n_tiles").alias("n_tiles"),
        F.sum("n_px").alias("n_px"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.round(F.sum("focal_sum") / F.sum("focal_cnt"), 6).alias("mean_focal"),
    )


def _zone_partials_fused(zindex_b, replicate: int):
    """Input step of :func:`north_star`: only the 8-byte image_key
    crosses the Arrow boundary; footprints are derived and pixels
    synthesized in-kernel (:func:`lattice_grid`)."""

    def _run(it):
        # consume the whole partition at once: the zone match then runs
        # once per TASK (not once per Arrow batch), and the zonal partial
        # has at most |zones| rows per task
        keys = [codecs.arrow_batch_cols(b, "image_key")[0] for b in it if b.num_rows]
        if not keys:
            return
        keys = np.concatenate(keys).astype(np.int64)
        ws, hs, bbox = _derive_footprints(keys, replicate)
        yield from _zone_partials(
            zindex_b.value, ws, hs, bbox, keys,
            lambda rows, w, h: lattice_grid(keys[rows], w, h),
        )

    return _run


def north_star(
    spark: SparkSession,
    sf_dir: str,
    n_partitions: int | None = None,
    replicate: int = 1,
) -> DataFrame:
    """Full pipeline → per-zone tile statistics. Forcing the result
    executes every stage. Plan shape: scan → explode → [ONE fused map:
    tiler/kernels/per-image rollup/STRtree match/zonal partials] → one
    tiny shuffle → final agg. No pair materialization, no pixel shuffle,
    one Python stage."""
    imgs = images_df(spark, sf_dir, replicate)
    if n_partitions is None:
        # the part scan is 1-2 partitions at bench scale — without an
        # explicit width the whole fused kernel would run on 1-2 cores
        n_partitions = spark.sparkContext.defaultParallelism * 4
    imgs = imgs.repartition(n_partitions, "image_key")
    return _zone_stats(
        imgs.select("image_key"), sf_dir, _zone_partials_fused, max(replicate, 1)
    )


def north_star_resumable(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_buckets: int = 8,
    replicate: int = 1,
) -> dict:
    """North-star with checkpoint-resumable output (north rule): per-zone
    results land in buckets with manifest commits + lineage rows —
    a killed job re-invoked with the same ``out_dir`` skips every bucket
    whose manifest row exists and writes only the others (one pass over
    the result)."""
    from rsgislib_spark.operators.manifest import resumable_write

    result = north_star(spark, sf_dir, replicate=replicate)
    return resumable_write(
        result, out_dir, id_col="zone_id", n_buckets=n_buckets, stage="north_star"
    )


# ----------------------------------------- decode-inclusive north star

def encode_images_df(
    spark: SparkSession,
    sf_dir: str,
    n_partitions: int | None = None,
    replicate: int = 1,
    where=None,
) -> DataFrame:
    """Bytes-bearing image table (the ``input_hint`` shape): the synthetic
    band grid of each image ENCODED with the in-house codecs — raw for
    even keys, png-class (Paeth-predicted deflate) for odd — so
    ``decode(encode(grid)) == grid`` exactly and downstream stats stay
    oracle-provable. This is the sandbox stand-in for scanning the stored
    ``bytes`` column of the Iceberg table."""
    imgs = images_df(spark, sf_dir, replicate)
    if where is not None:
        # Subset BEFORE the encode stage: a filter applied by the caller
        # lands above the opaque mapInPandas node and cannot push through
        # it, so the whole table would be encoded only to be discarded.
        imgs = imgs.filter(where)
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism * 4
    imgs = imgs.repartition(n_partitions, "image_key")

    def _enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            keys = pdf["image_key"].to_numpy(np.int64)
            order, runs = shape_runs(
                pdf["w"].to_numpy(np.int32), pdf["h"].to_numpy(np.int32), keys
            )
            bufs, fmts = [], []
            for i, j, w, h in runs:
                for c0 in range(i, j, CHUNK):
                    grp = keys[order[c0 : min(c0 + CHUNK, j)]]
                    grid = lattice_grid(grp, w, h)
                    for t, kk in enumerate(grp):
                        fmt = "raw" if kk % 2 == 0 else "png"
                        bufs.append(codecs.encode_image(grid[t], fmt))
                        fmts.append(fmt)
            out = pdf.iloc[order].reset_index(drop=True)
            out["bytes"] = bufs
            out["fmt"] = fmts
            yield out[
                ["image_key", "bytes", "fmt", "w", "h", "minx", "miny", "maxx", "maxy"]
            ]

    schema = (
        "image_key long, bytes binary, fmt string, w int, h int, "
        "minx double, miny double, maxx double, maxy double"
    )
    return imgs.mapInPandas(_enc, schema=schema)


def _zone_partials_decoded(zindex_b):
    """Input step of :func:`north_star_decoded` over BYTES-BEARING rows:
    the executor reads real pixel payloads exactly as
    ``RSGISCalcImage::calcImage`` does (src/img/RSGISCalcImage.cpp:149-230
    — the reference executor always decodes pixels before the per-pixel
    callback). Each payload decodes once (``codecs.decode_image``) into
    its slot of a preallocated same-shape stack."""

    def _run(it):
        cols = [
            codecs.arrow_batch_cols(
                b, "bytes", "fmt", "w", "h", "minx", "miny", "maxx", "maxy"
            )
            for b in it
            if b.num_rows
        ]
        if not cols:
            return
        bufs = [v for c in cols for v in c[0]]
        fmts = [f for c in cols for f in c[1]]
        ws, hs = (np.concatenate([c[k] for c in cols]).astype(np.int32) for k in (2, 3))
        bbox = np.stack(
            [np.concatenate([c[k] for c in cols]).astype(np.float64) for k in range(4, 8)],
            axis=1,
        )

        def pixels(rows, w, h):
            stack = np.empty((len(rows), h, w), dtype=np.uint8)
            for t, r in enumerate(rows):
                stack[t] = codecs.decode_image(bufs[r], fmts[r], h, w)
            return stack

        yield from _zone_partials(
            zindex_b.value, ws, hs, bbox, np.arange(len(ws)), pixels
        )

    return _run


def north_star_decoded(
    spark: SparkSession,
    sf_dir: str,
    n_partitions: int | None = None,
    replicate: int = 1,
    images_bytes: DataFrame | None = None,
) -> DataFrame:
    """DECODE-INCLUSIVE north star: bytes-bearing rows → codec decode →
    band/focal kernels → per-image rollup → map-side STRtree zonal match
    → per-zone stats. Identical result to :func:`north_star` because the
    raw/png-class codecs are exact, so it shares the q64 oracle math —
    but the timed path now includes the codec work that dominates a
    100 TB deployment. Pass ``images_bytes`` (e.g. a parquet scan of a
    prebuilt bytes table) to exclude encode from the measured window;
    by default the encode stage feeds the decode stage in-plan (bytes
    cross the Arrow boundary between the two Python stages — the
    sandbox stand-in for a storage scan; pixels still never shuffle)."""
    if images_bytes is None:
        images_bytes = encode_images_df(spark, sf_dir, n_partitions, replicate)
    return _zone_stats(
        images_bytes.select("bytes", "fmt", "w", "h", "minx", "miny", "maxx", "maxy"),
        sf_dir, _zone_partials_decoded,
    )
