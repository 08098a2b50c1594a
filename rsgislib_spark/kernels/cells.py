"""Hierarchical grid-cell spatial index (H3/S2-style, planar).

A from-scratch int64 cell index over a planar CRS, playing the role H3/S2
plays in the north rule: tiles and points are assigned to cells, and
point joins become cell equi-joins followed by an exact refine.

Layout of a cell id (int64)::

    bits 58..62 : resolution (0..30)
    bits  0..57 : Morton (Z-order) interleave of 29-bit (ix, iy)

At resolution ``r`` the square cell edge is ``BASE_CELL_SIZE / 2**r`` world
units; Morton packing keeps spatially-near cells numerically near, so
``repartitionByRange`` on the cell id is a spatial partitioning.

All functions are numpy-vectorized (used inside Arrow-batched pandas UDFs —
no per-row Python, per the north rule).

Reference parity notes: the reference has no cell index — its analogue is
the footprint LUT bbox query (``python/rsgislib/imageutils/imagelut.py:152-169``)
and the per-feature envelope window (``python/rsgislib/zonalstats/__init__.py:344-396``).
The cell index is our scale-out replacement for both.
"""

from __future__ import annotations

import numpy as np

#: Cell edge length at resolution 0, in world units.
BASE_CELL_SIZE = float(1 << 20)  # 1,048,576

MAX_RES = 29  # ix,iy must fit 29 bits

_RES_SHIFT = 58
_COORD_MASK = np.int64((1 << 58) - 1)


def cell_size(res: int) -> float:
    """Edge length of a cell at ``res`` in world units."""
    return BASE_CELL_SIZE / float(1 << res)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of v so there is a 0 bit between each.

    Classic Morton-code bit-twiddling (public domain magic numbers,
    64-bit variant).
    """
    v = v.astype(np.uint64) & np.uint64(0x1FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _unpart1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x1FFFFFFF)
    return v


def encode_ixiy(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    """Pack integer cell coords + resolution into int64 cell ids."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res out of range: {res}")
    morton = _part1by1(np.asarray(ix)) | (_part1by1(np.asarray(iy)) << np.uint64(1))
    out = morton | (np.uint64(res) << np.uint64(_RES_SHIFT))
    return out.astype(np.int64)


def decode_cell(cell: np.ndarray):
    """Return (ix, iy, res) arrays for int64 cell ids."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> np.uint64(_RES_SHIFT)).astype(np.int64)
    ix = _unpart1by1(c).astype(np.int64)
    iy = _unpart1by1(c >> np.uint64(1)).astype(np.int64)
    return ix, iy, res


def encode_point(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Cell id containing each point. x,y must be >= 0."""
    s = cell_size(res)
    ix = np.floor(np.asarray(x, dtype=np.float64) / s).astype(np.int64)
    iy = np.floor(np.asarray(y, dtype=np.float64) / s).astype(np.int64)
    return encode_ixiy(ix, iy, res)


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    ix, iy, res = decode_cell(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return encode_ixiy(ix >> shift, iy >> shift, parent_res)


def k_ring_offsets(k: int):
    """(dx, dy) offsets of the (2k+1)^2 Chebyshev-disk neighbourhood."""
    d = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(d, d, indexing="ij")
    return dx.ravel(), dy.ravel()


def k_ring(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k, per input cell.

    Returns shape (n, (2k+1)**2); negative-coordinate neighbours are
    clipped to 0 (world is the positive quadrant).
    """
    ix, iy, res = decode_cell(cell)
    dx, dy = k_ring_offsets(k)
    nx = np.clip(ix[:, None] + dx[None, :], 0, None)
    ny = np.clip(iy[:, None] + dy[None, :], 0, None)
    r = int(res[0]) if res.size else 0
    return encode_ixiy(nx, ny, r)


def cell_bounds(cell: np.ndarray):
    """(minx, miny, maxx, maxy) arrays of each cell's square."""
    ix, iy, res = decode_cell(cell)
    s = BASE_CELL_SIZE / np.power(2.0, res.astype(np.float64))
    minx = ix.astype(np.float64) * s
    miny = iy.astype(np.float64) * s
    return minx, miny, minx + s, miny + s


def linear_cell(x, y, cell: float, grid_dim: int = 1 << 21):
    """SQL-parity cell key: ``floor(x/cell)*grid_dim + floor(y/cell)``.

    Same partitioning semantics as :func:`encode_point` but expressible
    verbatim in ANSI SQL, so the driver's DuckDB oracle can recompute it.
    """
    ix = np.floor(np.asarray(x, dtype=np.float64) / cell).astype(np.int64)
    iy = np.floor(np.asarray(y, dtype=np.float64) / cell).astype(np.int64)
    return ix * np.int64(grid_dim) + iy
