"""Raster↔vector tiling: cut each decoded image into (overlapping) pixel
tiles, one output row per tile, assigned to grid cells.

Reproduces the reference's three tiling conventions exactly
(kernels.pixelmath):

 - ``simple``  — full tiles + partial remainder tiles
   (``imageutils/__init__.py:2614-2669``, create_tiles_multi_core)
 - ``overlap`` — C++ ``create_tiles`` overlap/offset expansion
   (``src/cmds/RSGISCmdImageUtils.cpp:262+``)
 - ``block``   — StdImgBlockIter full-size edge re-anchoring
   (``stdimgblockiter.py:214-286``)

The operator is the engine's UDTF shape (1 image row → N tile rows) via
``mapInArrow``; decode runs once per image inside the Arrow batch, tile
payloads are raw uint8 (lossless past this point). This is the Spark
replacement for the reference's tmp-file tile exchange
(``segmentation/tiledclump.py:134-224``) — the shuffle IS the filesystem.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from rsgislib_spark.datagen import PIXEL_SIZE
from rsgislib_spark.kernels import cells, codecs, pixelmath

TILE_SCHEMA = (
    "image_id string, tile_x int, tile_y int, x0 int, y0 int, "
    "tw int, th int, pixels binary, cell long"
)

_MODES = ("simple", "overlap", "block")
#: the columns of a tile window row (kernels.pixelmath), in TILE_SCHEMA order
_WIN_COLS = ("tile_x", "tile_y", "x0", "y0", "tw", "th")


def tile_windows(mode: str, w: int, h: int, tile_w: int, tile_h: int,
                 overlap: int = 0, offset: bool = False) -> np.ndarray:
    if mode == "simple":
        return pixelmath.tile_windows_simple(w, h, tile_w, tile_h)
    if mode == "overlap":
        return pixelmath.tile_windows_overlap(w, h, tile_w, tile_h, overlap, offset)
    if mode == "block":
        return pixelmath.block_windows_anchored(w, h, tile_w)
    raise ValueError(f"mode must be one of {_MODES}")


def _window_pixels(img: np.ndarray, wins: np.ndarray):
    """(bytes per window, pixels) for every window row ``(tile_x, tile_y,
    x0, y0, tw, th)`` of ``img``: each window's pixels row-major, all
    windows in one contiguous uint8 array, cut by one gather (no per-tile
    copy)."""
    h, w = img.shape[:2]
    px = img.reshape(h * w, -1)
    x0, y0, tw, th = wins[:, 2], wins[:, 3], wins[:, 4], wins[:, 5]
    t = np.repeat(np.arange(len(wins)), th)  # the window of each window row
    starts = (y0[t] + np.arange(len(t)) - np.repeat(np.cumsum(th) - th, th)) * w + x0[t]
    lens = tw[t]
    idx = np.repeat(starts - (np.cumsum(lens) - lens), lens) + np.arange(lens.sum())
    return tw * th * px.shape[1] * px.itemsize, px[idx].reshape(-1).view(np.uint8)


def tile_images(
    images: DataFrame,
    tile_w: int = 64,
    tile_h: int = 64,
    mode: str = "simple",
    overlap: int = 0,
    offset: bool = False,
    res: int = 7,
    pixel_size: float = PIXEL_SIZE,
) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, minx, miny, ...) → tile rows.

    Cell assignment: the grid cell at ``res`` containing the tile's
    spatial center (image row 0 is the TOP of the footprint, GDAL
    convention); the default 7 is a cell edge of 8192 world units, 819 px
    at 10 m/px.

    Tuning: transfer-bound BOTH ways (bytes in, tile payloads out) —
    set spark.sql.execution.arrow.maxRecordsPerBatch ≈ 64 for the
    session running it (measured 3.2× vs the default; see
    BENCH/BASELINE.md and perfbench's tile-manifest workload).
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}")
    src = images.select("image_id", "bytes", "w", "h", "fmt", "minx", "miny")

    limit = codecs.MAX_PAYLOAD_BATCH_BYTES

    def _tile(it):
        # mapInArrow both ways: binary payload columns never round-trip
        # through pandas object arrays (input decode views are zero-copy
        # Arrow buffer slices; a batch's tile payloads leave as one buffer
        # behind one Arrow binary array, codecs.payload_batches).
        import pyarrow as pa

        schema = pa.schema([("image_id", pa.string()), *[(c, pa.int32()) for c in _WIN_COLS],
                            ("pixels", pa.binary()), ("cell", pa.int64())])
        for b in it:
            if not b.num_rows:
                continue
            views, ws, hs, fmts, minxs, minys = codecs.arrow_batch_cols(
                b, "bytes", "w", "h", "fmt", "minx", "miny"
            )
            wins, ccs, sizes, data = [], [], [], []
            for r in range(b.num_rows):
                w, h = int(ws[r]), int(hs[r])
                img = codecs.decode_image(views[r], fmts[r], h, w)
                win = tile_windows(mode, w, h, tile_w, tile_h, overlap, offset)
                maxy = minys[r] + h * pixel_size
                cx = minxs[r] + (win[:, 2] + win[:, 4] / 2.0) * pixel_size
                cy = maxy - (win[:, 3] + win[:, 5] / 2.0) * pixel_size
                ccs.append(cells.encode_point(cx, cy, res))
                sz, px = _window_pixels(img, win)
                wins.append(win)
                sizes.append(sz)
                data.append(px)
            win = np.concatenate(wins)
            rows = np.repeat(np.arange(b.num_rows), [len(x) for x in wins])
            yield from codecs.payload_batches(
                schema,
                {"image_id": b.column("image_id").take(rows),
                 **{c: win[:, j] for j, c in enumerate(_WIN_COLS)},
                 "cell": np.concatenate(ccs)},
                np.concatenate(sizes),
                np.concatenate(data),
                limit,
            )

    return src.mapInArrow(_tile, schema=TILE_SCHEMA)


def tile_manifest(tiles: DataFrame) -> DataFrame:
    """Per-image tile counts, payload bytes and cell range of a tile
    table (a summary; the resumable writer's lineage rows come from
    operators.manifest itself)."""
    from pyspark.sql import functions as F

    return tiles.groupBy("image_id").agg(
        F.count("*").alias("n_tiles"),
        F.sum(F.length("pixels")).alias("payload_bytes"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
    )


def tile_batches(
    images: DataFrame,
    block: int = 64,
    batch_size: int = 32,
) -> DataFrame:
    """Batch-of-blocks iterator for DL inference — the Spark shape of
    ``StdImgBlockIterBatches`` (imageutils/stdimgblockiterbatches.py):
    decode → FULL-SIZE anchored blocks (the iterator's edge re-anchor
    rule, kernels.pixelmath.block_windows_anchored) → fixed-size batches
    of stacked uint8 tensors, batched WITHIN each partition (no shuffle;
    a model predict step maps over these rows and joins results back on
    the exploded (image_id, x_block, y_block) list).

    Output rows: (batch_id string, n int, tensor binary [n·th·tw bytes,
    C-order], image_ids array<string>, xs array<int>, ys array<int>).
    The trailing batch of a partition may hold fewer than batch_size
    blocks — exactly like the reference's last yield.
    """
    from pyspark import TaskContext

    src = images.select("image_id", "bytes", "w", "h", "fmt")
    limit = codecs.MAX_PAYLOAD_BATCH_BYTES

    def _run(it):
        # one gather per image (_window_pixels) into the partition's one
        # block buffer; each batch's tensor is a slice of it behind one
        # Arrow binary array and its block lists are Arrow list arrays
        # over offsets (codecs.payload_batches): no per-block appends.
        import pyarrow as pa

        schema = pa.schema([
            ("batch_id", pa.string()), ("n", pa.int32()), ("tensor", pa.binary()),
            ("image_ids", pa.list_(pa.string())), ("xs", pa.list_(pa.int32())),
            ("ys", pa.list_(pa.int32())),
        ])
        ids, wins, sizes, data = [], [], [], []
        for b in it:
            if not b.num_rows:
                continue
            views, ws, hs, fmts = codecs.arrow_batch_cols(b, "bytes", "w", "h", "fmt")
            rows = []
            for k in range(b.num_rows):
                w, h = int(ws[k]), int(hs[k])
                if w < block or h < block:
                    continue  # reference iterator requires block ≤ image
                win = pixelmath.block_windows_anchored(w, h, block)
                sz, px = _window_pixels(codecs.decode_image(views[k], fmts[k], h, w), win)
                rows.append(np.full(len(win), k))
                wins.append(win)
                sizes.append(sz)
                data.append(px)
            if rows:
                ids.append(b.column("image_id").take(np.concatenate(rows)).cast(pa.string()))
        if not wins:
            return
        win, sizes = np.concatenate(wins), np.concatenate(sizes)
        starts = np.arange(0, len(win), batch_size)
        offsets = pa.array(np.append(starts, len(win)), pa.int32())
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        yield from codecs.payload_batches(
            schema,
            {"batch_id": [f"p{pid}_b{seq}" for seq in range(len(starts))],
             "n": np.diff(offsets.to_numpy()),
             "image_ids": pa.ListArray.from_arrays(offsets, pa.concat_arrays(ids)),
             "xs": pa.ListArray.from_arrays(offsets, pa.array(win[:, 0], pa.int32())),
             "ys": pa.ListArray.from_arrays(offsets, pa.array(win[:, 1], pa.int32()))},
            np.add.reduceat(sizes, starts),
            np.concatenate(data),
            limit,
        )

    return src.mapInArrow(_run, schema=(
        "batch_id string, n int, tensor binary, image_ids array<string>, "
        "xs array<int>, ys array<int>"
    ))
