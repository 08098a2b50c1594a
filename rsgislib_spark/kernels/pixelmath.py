"""Geotransform / pixel-coordinate / tiling kernels.

Parity-critical: each function reproduces the *exact* rounding convention
of its reference counterpart (they differ between operators — see
SURVEY.md §7.3 risk 2):

 - :func:`img_pxl_coords`  — ``floor(x + 0.5)`` rounding, out-of-extent is
   an error (``python/rsgislib/imageutils/__init__.py:823-835``).
 - :func:`zonal_window`    — ``int(x/r) - 1 / + 1`` asymmetric expansion
   with the ``== 0.0`` special case and clamping
   (``python/rsgislib/zonalstats/__init__.py:344-396``).
 - :func:`tile_windows_simple` — full tiles + remainder tiles
   (``python/rsgislib/imageutils/__init__.py:2614-2669``).
 - :func:`tile_windows_overlap` — C++ ``create_tiles`` overlap/offset
   semantics (``src/cmds/RSGISCmdImageUtils.cpp:262-700``).
 - :func:`block_windows_anchored` — StdImgBlockIter full-size edge blocks
   re-anchored to the right/bottom edge
   (``python/rsgislib/imageutils/stdimgblockiter.py:38-49,214-286``).

Geotransform convention (GDAL 6-tuple, no rotation):
``(tlx, xres, 0, tly, 0, -yres)``; pixel (0,0) is the top-left.
"""

from __future__ import annotations

import numpy as np


def geotransform(minx: float, maxy: float, res: float):
    return (minx, res, 0.0, maxy, 0.0, -res)


def img_pxl_coords(x, y, tlx, tly, xres, yres, xsize, ysize, check=True):
    """Spatial → pixel coords with the reference's floor(+0.5) rounding.

    Ref: imageutils.get_img_pxl_coords (imageutils/__init__.py:823-835).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    brx = tlx + xres * xsize
    bry = tly - yres * ysize
    if check:
        if np.any((x < tlx) | (x > brx)):
            raise ValueError("Coordinates outside the image extent were passed (x-axis)")
        if np.any((y < bry) | (y > tly)):
            raise ValueError("Coordinates outside the image extent were passed (y-axis)")
    px = np.floor(((x - tlx) / xres) + 0.5).astype(np.int64)
    py = np.floor(((tly - y) / yres) + 0.5).astype(np.int64)
    return px, py


def point_pixel_lookup(x, y, tlx, tly, xres, yres, xsize, ysize):
    """Point→pixel index for value extraction, reference
    ``ext_point_band_values`` semantics (zonalstats/__init__.py:1536-1558):
    truncation (not rounding) of the offset, out-of-image flagged.

    Returns (px, py, inside).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    brx = tlx + xres * xsize
    bry = tly - yres * ysize
    inside = (x >= tlx) & (x <= brx) & (y >= bry) & (y <= tly)
    px = np.floor((x - tlx) / xres).astype(np.int64)
    py = np.floor((tly - y) / yres).astype(np.int64)
    px = np.clip(px, 0, xsize - 1)
    py = np.clip(py, 0, ysize - 1)
    return px, py, inside


def zonal_window(minx, maxx, miny, maxy, tlx, tly, pxl_w, pxl_h, xsize, ysize):
    """Polygon envelope → pixel window, reference zonal-stats rule.

    Ref: zonalstats/__init__.py:344-396. Inputs are envelope spatial
    coords; outputs (x1, y1, xsize_w, ysize_w, havepxls) vectorized.
    Note the reference quirks reproduced exactly: ``int()`` truncation
    (not floor), −1/+1 expansion, the ``== 0.0`` shortcut, clamp to
    [0, size-1], and a zero-area window ⇒ no pixels.
    """
    minx = np.asarray(minx, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)

    x1sp = minx - tlx
    x2sp = maxx - tlx
    y1sp = maxy - tly
    y2sp = miny - tly

    def trunc(v):
        return np.trunc(v).astype(np.int64)

    # reference uses pixel_height = geotransform[5] (NEGATIVE in GDAL);
    # y offsets are negative too, so the quotient is positive.
    neg_h = -abs(pxl_h)
    x1 = np.where(x1sp == 0.0, 0, trunc(x1sp / pxl_w) - 1)
    x2 = np.where(x2sp == 0.0, 0, trunc(x2sp / pxl_w) + 1)
    y1 = np.where(y1sp == 0.0, 0, trunc(y1sp / neg_h) - 1)
    y2 = np.where(y2sp == 0.0, 0, trunc(y2sp / neg_h) + 1)

    x1 = np.clip(x1, 0, xsize - 1)
    x2 = np.clip(x2, 0, xsize - 1)
    y1 = np.clip(y1, 0, ysize - 1)
    y2 = np.clip(y2, 0, ysize - 1)

    xs = x2 - x1
    ys = y2 - y1
    have = (xs != 0) & (ys != 0)
    return x1, y1, xs, ys, have


def tile_windows_simple(w: int, h: int, tile_w: int, tile_h: int) -> np.ndarray:
    """Full tiles + partial remainder tiles, row-major.

    Ref: create_tiles_multi_core driver loop
    (imageutils/__init__.py:2614-2669). Returns (n,6) int64 rows
    ``(tile_x, tile_y, x0, y0, tw, th)`` with 1-based tile indices like the
    reference's ``x{i}y{j}`` naming.
    """
    nfx, nfy = w // tile_w, h // tile_h
    remx, remy = w - nfx * tile_w, h - nfy * tile_h
    xs = [(i + 1, i * tile_w, tile_w) for i in range(nfx)]
    if remx > 0:
        xs.append((nfx + 1, nfx * tile_w, remx))
    ys = [(j + 1, j * tile_h, tile_h) for j in range(nfy)]
    if remy > 0:
        ys.append((nfy + 1, nfy * tile_h, remy))
    rows = [
        (tx, ty, x0, y0, tw, th)
        for (ty, y0, th) in ys
        for (tx, x0, tw) in xs
    ]
    return np.asarray(rows, dtype=np.int64).reshape(-1, 6)


def tile_windows_overlap(
    w: int, h: int, tile_w: int, tile_h: int, overlap: int = 0, offset: bool = False
) -> np.ndarray:
    """C++ ``create_tiles`` semantics: anchor grid stepped by tile size
    (first row/col is a half tile when ``offset``), each window expanded by
    ``overlap`` on every side then clamped to the image.

    Ref: executeCreateTiles (src/cmds/RSGISCmdImageUtils.cpp:262+).
    Returns (n,6) rows ``(tile_x, tile_y, x0, y0, tw, th)`` (0-based tile
    indices over the anchor grid including offset/remainder tiles).
    """
    return tile_windows_overlap_anchored(w, h, tile_w, tile_h, overlap, offset)[:, :6]


def tile_windows_overlap_anchored(
    w: int, h: int, tile_w: int, tile_h: int, overlap: int = 0, offset: bool = False
) -> np.ndarray:
    """Like :func:`tile_windows_overlap` but each row also carries the
    un-expanded anchor window: (n,10) rows
    ``(tile_x, tile_y, x0, y0, tw, th, ax0, ay0, aw, ah)``.

    Consumers that crop the halo back out must derive the interior from
    the anchor span (``iy0 = ay0 - y0; iy1 = iy0 + ah``), never by
    inferring from the expanded window's position — when an image
    dimension mod tile is in (0, overlap], the expanded window of an
    interior tile reaches the image edge while a remainder tile still
    exists, and position-based inference double-counts the halo.
    """

    def axis_anchors(size, tsize):
        anchors = []  # (start, span)
        pos = 0
        if offset:
            off = tsize // 2
            nfull = int(np.floor(float(size - off) / float(tsize)))
            if off > 0:
                anchors.append((0, off))
                pos = off
        else:
            nfull = size // tsize
        for _ in range(nfull):
            anchors.append((pos, tsize))
            pos += tsize
        if pos < size:
            anchors.append((pos, size - pos))
        return anchors

    ax = axis_anchors(w, tile_w)
    ay = axis_anchors(h, tile_h)
    rows = []
    for ty, (y0, yspan) in enumerate(ay):
        for tx, (x0, xspan) in enumerate(ax):
            xmin = max(x0 - overlap, 0)
            xmax = min(x0 + xspan + overlap, w)
            ymin = max(y0 - overlap, 0)
            ymax = min(y0 + yspan + overlap, h)
            rows.append(
                (tx, ty, xmin, ymin, xmax - xmin, ymax - ymin, x0, y0, xspan, yspan)
            )
    return np.asarray(rows, dtype=np.int64).reshape(-1, 10)


def block_windows_anchored(w: int, h: int, block: int) -> np.ndarray:
    """StdImgBlockIter windows: ceil-count blocks; the last block of each
    axis is re-anchored to ``size - block`` so every block is full-size
    (overlapping re-read at the edges).

    Ref: stdimgblockiter.py:38-49 (counts) and :214-286 (end-case anchors).
    Returns (n,6) rows ``(x_block, y_block, x0, y0, block, block)``.
    """
    nbx = w // block + (1 if w % block else 0)
    nby = h // block + (1 if h % block else 0)
    rows = []
    for by in range(nby):
        for bx in range(nbx):
            x0 = w - block if bx == nbx - 1 else bx * block
            y0 = h - block if by == nby - 1 else by * block
            rows.append((bx, by, max(x0, 0), max(y0, 0), min(block, w), min(block, h)))
    return np.asarray(rows, dtype=np.int64).reshape(-1, 6)
