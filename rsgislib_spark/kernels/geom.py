"""Planar geometry kernels: bbox algebra, point-in-polygon, rect×polygon
predicates. Pure numpy, vectorized over point/geometry batches.

Mirrors the semantics the reference gets from shapely/OGR:
 - bbox algebra: ``python/rsgislib/tools/geometrytools.py:82-251``
   (bbox layout there is ``(xMin, xMax, yMin, yMax)``; we use
   ``(minx, miny, maxx, maxy)`` internally and only convert at the API edge)
 - spatial-join predicates intersects/within/contains:
   ``python/rsgislib/vectorutils/__init__.py:2159-2225`` (geopandas sjoin)

Polygons are represented as a list of rings; each ring an (N,2) float64
array, first ring the shell, subsequent rings holes, not closed
(first point != last point required). Even-odd rule.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- bbox ops


def bbox_intersects(a, b) -> np.ndarray:
    """Vectorized bbox-overlap test. a: (n,4), b: (m,4) -> (n,m) bool.

    Closed-interval semantics (touching boxes intersect) — matches OGR/
    shapely ``intersects`` on envelopes and the reference's
    ``do_bboxes_intersect`` (geometrytools.py).
    """
    a = np.asarray(a, dtype=np.float64).reshape(-1, 4)
    b = np.asarray(b, dtype=np.float64).reshape(-1, 4)
    return (
        (a[:, None, 0] <= b[None, :, 2])
        & (a[:, None, 2] >= b[None, :, 0])
        & (a[:, None, 1] <= b[None, :, 3])
        & (a[:, None, 3] >= b[None, :, 1])
    )


def bbox_contains(outer, inner) -> np.ndarray:
    """outer (n,4) fully contains inner (m,4) -> (n,m) bool (closed)."""
    o = np.asarray(outer, dtype=np.float64).reshape(-1, 4)
    i = np.asarray(inner, dtype=np.float64).reshape(-1, 4)
    return (
        (o[:, None, 0] <= i[None, :, 0])
        & (o[:, None, 1] <= i[None, :, 1])
        & (o[:, None, 2] >= i[None, :, 2])
        & (o[:, None, 3] >= i[None, :, 3])
    )


def bbox_intersection(a, b):
    """Pairwise intersection of equal-length bbox arrays; rows with no
    overlap return a degenerate (nan) box."""
    a = np.asarray(a, dtype=np.float64).reshape(-1, 4)
    b = np.asarray(b, dtype=np.float64).reshape(-1, 4)
    out = np.empty_like(a)
    out[:, 0] = np.maximum(a[:, 0], b[:, 0])
    out[:, 1] = np.maximum(a[:, 1], b[:, 1])
    out[:, 2] = np.minimum(a[:, 2], b[:, 2])
    out[:, 3] = np.minimum(a[:, 3], b[:, 3])
    bad = (out[:, 0] > out[:, 2]) | (out[:, 1] > out[:, 3])
    out[bad] = np.nan
    return out


def bbox_area(b) -> np.ndarray:
    b = np.asarray(b, dtype=np.float64).reshape(-1, 4)
    return (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])


def buffer_bbox(b, buf: float):
    b = np.asarray(b, dtype=np.float64).reshape(-1, 4).copy()
    b[:, 0] -= buf
    b[:, 1] -= buf
    b[:, 2] += buf
    b[:, 3] += buf
    return b


def grid_bbox(minx, miny, maxx, maxy, ncols: int, nrows: int):
    """Split a bbox into an ncols×nrows grid of bboxes (row-major, top-left
    first) — reference ``get_bbox_grid`` (geometrytools.py:443-506)."""
    xs = np.linspace(minx, maxx, ncols + 1)
    ys = np.linspace(miny, maxy, nrows + 1)
    boxes = []
    for r in range(nrows - 1, -1, -1):
        for c in range(ncols):
            boxes.append((xs[c], ys[r], xs[c + 1], ys[r + 1]))
    return np.asarray(boxes, dtype=np.float64)


# ------------------------------------------------------- polygon predicates


def polygon_bbox(rings) -> np.ndarray:
    """(minx, miny, maxx, maxy); all NaN for an empty polygon, which
    then fails every closed bbox test and matches nothing."""
    pts = np.vstack(rings) if len(rings) else np.empty((0, 2))
    if not len(pts):
        return np.full(4, np.nan)
    return np.array(
        [pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()],
        dtype=np.float64,
    )


def polygon_area(rings) -> float:
    """Shoelace area; holes subtract (area taken as |shell| - sum|holes|)."""
    total = 0.0
    for i, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        x, y = r[:, 0], r[:, 1]
        a = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
        total += a if i == 0 else -a
    return total


def polygon_centroid(rings):
    """Area-weighted centroid of the shell ring (holes ignored — matches the
    reference's use of centroids only for point sampling)."""
    r = np.asarray(rings[0], dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = cross.sum() / 2.0
    if a == 0:
        return float(x.mean()), float(y.mean())
    cx = ((x + x1) * cross).sum() / (6.0 * a)
    cy = ((y + y1) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd ray-cast point-in-polygon, vectorized over points.

    Half-open edge convention (a point exactly on a horizontal-crossing
    boundary counts per the standard crossing rule); matches shapely's
    ``contains`` for interior points — boundary points are resolved by the
    deterministic crossing count, documented for parity tests.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x0, y0 = r[:, 0], r[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        # edge straddles the horizontal line through the point
        cond = (y0[None, :] > py[:, None]) != (y1[None, :] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = x0[None, :] + (py[:, None] - y0[None, :]) / (y1 - y0)[None, :] * (
                x1 - x0
            )[None, :]
        cross = cond & (px[:, None] < xin)
        inside ^= (cross.sum(axis=1) % 2).astype(bool)
    return inside


def points_on_boundary(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """True where the point lies ON a ring edge (collinear + within the
    segment's bbox) — the boundary part of shapely's closed ``within``/
    ``covers`` semantics that an even-odd ray cast cannot decide."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    on = np.zeros(px.shape, dtype=bool)
    ex0, ey0, ex1, ey1 = _ring_edges(rings)
    cross = (ex1 - ex0)[None, :] * (py[:, None] - ey0[None, :]) - (
        ey1 - ey0
    )[None, :] * (px[:, None] - ex0[None, :])
    inbox = (
        (np.minimum(ex0, ex1)[None, :] <= px[:, None])
        & (px[:, None] <= np.maximum(ex0, ex1)[None, :])
        & (np.minimum(ey0, ey1)[None, :] <= py[:, None])
        & (py[:, None] <= np.maximum(ey0, ey1)[None, :])
    )
    return ((cross == 0) & inbox).any(axis=1)


def _seg_intersect_any(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    """Proper/improper segment intersection test.

    a-segments (n,), b-segments (m,) -> (n,m) bool. Uses orientation signs
    with collinear-overlap handling (standard CCW test).
    """

    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    ax0, ay0, ax1, ay1 = (np.asarray(v, dtype=np.float64)[:, None] for v in (ax0, ay0, ax1, ay1))
    bx0, by0, bx1, by1 = (np.asarray(v, dtype=np.float64)[None, :] for v in (bx0, by0, bx1, by1))

    d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)

    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)

    def on_seg(sx0, sy0, sx1, sy1, px_, py_):
        return (
            (np.minimum(sx0, sx1) <= px_)
            & (px_ <= np.maximum(sx0, sx1))
            & (np.minimum(sy0, sy1) <= py_)
            & (py_ <= np.maximum(sy0, sy1))
        )

    touch = (
        ((d1 == 0) & on_seg(bx0, by0, bx1, by1, ax0, ay0))
        | ((d2 == 0) & on_seg(bx0, by0, bx1, by1, ax1, ay1))
        | ((d3 == 0) & on_seg(ax0, ay0, ax1, ay1, bx0, by0))
        | ((d4 == 0) & on_seg(ax0, ay0, ax1, ay1, bx1, by1))
    )
    return proper | touch


def _rect_edges(rect):
    minx, miny, maxx, maxy = rect
    xs0 = np.array([minx, maxx, maxx, minx])
    ys0 = np.array([miny, miny, maxy, maxy])
    xs1 = np.array([maxx, maxx, minx, minx])
    ys1 = np.array([miny, maxy, maxy, miny])
    return xs0, ys0, xs1, ys1


def _ring_edges(rings):
    """Concatenated edge arrays (x0, y0, x1, y1) over all rings."""
    xs0, ys0, xs1, ys1 = [], [], [], []
    for ring in rings:
        rr = np.asarray(ring, dtype=np.float64)
        xs0.append(rr[:, 0])
        ys0.append(rr[:, 1])
        xs1.append(np.roll(rr[:, 0], -1))
        ys1.append(np.roll(rr[:, 1], -1))
    return (np.concatenate(xs0), np.concatenate(ys0),
            np.concatenate(xs1), np.concatenate(ys1))


def _rect_edges_batch(R: np.ndarray):
    """All 4 edges of each rect in R (m,4) → arrays of length 4m, grouped
    edge-major (edge k of every rect contiguous) for easy reshape."""
    minx, miny, maxx, maxy = R[:, 0], R[:, 1], R[:, 2], R[:, 3]
    x0 = np.concatenate([minx, maxx, maxx, minx])
    y0 = np.concatenate([miny, miny, maxy, maxy])
    x1 = np.concatenate([maxx, maxx, minx, minx])
    y1 = np.concatenate([miny, maxy, maxy, miny])
    return x0, y0, x1, y1


_EDGE_CHUNK = 1024  # rects per segment-test chunk (bounds the (4c,E) matrix)


def rect_intersects_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """shapely-``intersects`` semantics between axis-aligned rects (n,4)
    and one polygon: true if boundaries touch/cross or either contains the
    other. Fully vectorized (no per-rect Python loop — north-rule hot path)."""
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    n = len(rects)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    pbox = polygon_bbox(rings)
    cand = bbox_intersects(rects, pbox[None, :])[:, 0]
    if not cand.any():
        return out
    idx = np.nonzero(cand)[0]
    R = rects[idx]
    shell = np.asarray(rings[0], dtype=np.float64)
    # 1) any shell vertex inside rect (m, V) -> any
    res = (
        (shell[None, :, 0] >= R[:, 0, None])
        & (shell[None, :, 0] <= R[:, 2, None])
        & (shell[None, :, 1] >= R[:, 1, None])
        & (shell[None, :, 1] <= R[:, 3, None])
    ).any(axis=1)
    # 2) any rect corner inside polygon (4m point test, one ray-cast call)
    rem = ~res
    if rem.any():
        RR = R[rem]
        cx = np.concatenate([RR[:, 0], RR[:, 2], RR[:, 2], RR[:, 0]])
        cy = np.concatenate([RR[:, 1], RR[:, 1], RR[:, 3], RR[:, 3]])
        pin = points_in_polygon(cx, cy, rings).reshape(4, -1).any(axis=0)
        res[np.nonzero(rem)[0]] |= pin
    # 3) edge crossings, chunked (4c rect edges × E ring edges)
    rem = ~res
    if rem.any():
        ex0, ey0, ex1, ey1 = _ring_edges(rings)
        rem_idx = np.nonzero(rem)[0]
        for s in range(0, len(rem_idx), _EDGE_CHUNK):
            ci = rem_idx[s : s + _EDGE_CHUNK]
            rx0, ry0, rx1, ry1 = _rect_edges_batch(R[ci])
            hit = _seg_intersect_any(rx0, ry0, rx1, ry1, ex0, ey0, ex1, ey1)
            res[ci] |= hit.any(axis=1).reshape(4, -1).any(axis=0)
    out[idx] = res
    return out


def rect_within_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """rect ⊆ polygon (shapely ``within``): all 4 corners inside (or on
    boundary) and no polygon edge entering the rect interior.
    Fully vectorized (no per-rect Python loop)."""
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    n = len(rects)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    pbox = polygon_bbox(rings)
    cand = bbox_contains(pbox[None, :], rects)[0]
    if not cand.any():
        return out
    idx = np.nonzero(cand)[0]
    R = rects[idx]
    # 1) all 4 corners inside OR ON the polygon boundary (shapely within
    #    allows boundary contact: a.within(a) is True)
    cx = np.concatenate([R[:, 0], R[:, 2], R[:, 2], R[:, 0]])
    cy = np.concatenate([R[:, 1], R[:, 1], R[:, 3], R[:, 3]])
    cin = points_in_polygon(cx, cy, rings) | points_on_boundary(cx, cy, rings)
    corners_in = cin.reshape(4, -1).all(axis=0)
    res = corners_in.copy()
    if res.any():
        live = np.nonzero(res)[0]
        ex0, ey0, ex1, ey1 = _ring_edges(rings)
        mx = (ex0 + ex1) / 2.0
        my = (ey0 + ey1) / 2.0
        # 2) no ring-edge midpoint strictly inside the rect (catches holes
        #    fully inside the rect without edge/edge intersections)
        RL = R[live]
        mid_in = (
            (mx[None, :] > RL[:, 0, None])
            & (mx[None, :] < RL[:, 2, None])
            & (my[None, :] > RL[:, 1, None])
            & (my[None, :] < RL[:, 3, None])
        ).any(axis=1)
        res[live[mid_in]] = False
        # 3) no proper edge crossing (chunked)
        live = np.nonzero(res)[0]
        for s in range(0, len(live), _EDGE_CHUNK):
            ci = live[s : s + _EDGE_CHUNK]
            rx0, ry0, rx1, ry1 = _rect_edges_batch(R[ci])
            crossed = _seg_proper_cross(rx0, ry0, rx1, ry1, ex0, ey0, ex1, ey1)
            res[ci] &= ~crossed.any(axis=1).reshape(4, -1).any(axis=0)
    out[idx] = res
    return out


def _seg_proper_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    ax0, ay0, ax1, ay1 = (np.asarray(v, dtype=np.float64)[:, None] for v in (ax0, ay0, ax1, ay1))
    bx0, by0, bx1, by1 = (np.asarray(v, dtype=np.float64)[None, :] for v in (bx0, by0, bx1, by1))
    d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)
    return ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)


def rect_contains_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """rect ⊇ polygon: for a closed rect this is exactly bbox containment."""
    pbox = polygon_bbox(rings)
    return bbox_contains(np.asarray(rects).reshape(-1, 4), pbox[None, :])[:, 0]


# -------------------------------------------------------------- WKB codec
# Minimal WKB (ISO) polygon/multipolygon/point codec so geometry columns can
# live in DataFrames as BinaryType without external deps.

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def polygon_to_wkb(rings) -> bytes:
    import struct

    out = [struct.pack("<BI", 1, _WKB_POLYGON), struct.pack("<I", len(rings))]
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        closed = np.vstack([r, r[:1]])
        out.append(struct.pack("<I", len(closed)))
        out.append(closed.astype("<f8").tobytes())
    return b"".join(out)


def _parse_polygon_body(buf: bytes, off: int):
    import struct

    (nrings,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, off)
        off += 4
        pts = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=off).reshape(npts, 2)
        off += npts * 16
        rings.append(np.ascontiguousarray(pts[:-1]))  # drop closing point
    return rings, off


def wkb_to_polygon(buf: bytes):
    import struct

    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    assert byte_order == 1
    if gtype == _WKB_POLYGON:
        rings, _ = _parse_polygon_body(buf, 5)
        return rings
    raise ValueError(f"unsupported wkb geometry type {gtype}")


def multipolygon_to_wkb(polys) -> bytes:
    """polys = list of polygons (each a list of rings) → WKB
    MULTIPOLYGON."""
    import struct

    out = [struct.pack("<BI", 1, _WKB_MULTIPOLYGON), struct.pack("<I", len(polys))]
    for rings in polys:
        out.append(polygon_to_wkb(rings))
    return b"".join(out)


def wkb_to_parts(buf: bytes):
    """Single-part list for POLYGON, all member polygons for
    MULTIPOLYGON — each part a list of rings (the explode primitive)."""
    import struct

    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    assert byte_order == 1
    if gtype == _WKB_POLYGON:
        rings, _ = _parse_polygon_body(buf, 5)
        return [rings]
    if gtype == _WKB_MULTIPOLYGON:
        (nparts,) = struct.unpack_from("<I", buf, 5)
        off = 9
        parts = []
        for _ in range(nparts):
            bo, gt = struct.unpack_from("<BI", buf, off)
            assert bo == 1 and gt == _WKB_POLYGON
            rings, off = _parse_polygon_body(buf, off + 5)
            parts.append(rings)
        return parts
    raise ValueError(f"unsupported wkb geometry type {gtype}")


def poly_hole_area(rings) -> float:
    """Total area of interior rings (get_poly_hole_area,
    vectorgeoms/__init__.py)."""
    total = 0.0
    for ring in rings[1:]:
        r = np.asarray(ring, dtype=np.float64)
        x, y = r[:, 0], r[:, 1]
        total += 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    return total


def drop_holes(rings, area_thres: float | None = None):
    """Remove interior rings (delete_polygon_holes,
    vectorgeoms/__init__.py); with ``area_thres`` only holes smaller
    than the threshold are removed."""
    if area_thres is None:
        return rings[:1]
    kept = [rings[0]]
    for ring in rings[1:]:
        r = np.asarray(ring, dtype=np.float64)
        x, y = r[:, 0], r[:, 1]
        a = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
        if a >= area_thres:
            kept.append(ring)
    return kept


def bbox_union(boxes: np.ndarray) -> np.ndarray:
    """Enclosing bbox of N (minx, miny, maxx, maxy) rows
    (find_bbox_union, tools/geometrytools.py)."""
    b = np.asarray(boxes, np.float64).reshape(-1, 4)
    return np.array(
        [b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max()], np.float64
    )


def snap_extent_to_grid(bbox, grid: float, full_contain: bool = True) -> np.ndarray:
    """Snap a (minx, miny, maxx, maxy) bbox onto a square grid
    (find_extent_on_grid / find_extent_on_whole_num_grid,
    tools/geometrytools.py:331-400): ``full_contain`` grows outward
    (floor mins / ceil maxes), else shrinks inward."""
    minx, miny, maxx, maxy = (float(v) for v in bbox)
    g = float(grid)
    if full_contain:
        return np.array(
            [np.floor(minx / g) * g, np.floor(miny / g) * g,
             np.ceil(maxx / g) * g, np.ceil(maxy / g) * g], np.float64
        )
    return np.array(
        [np.ceil(minx / g) * g, np.ceil(miny / g) * g,
         np.floor(maxx / g) * g, np.floor(maxy / g) * g], np.float64
    )
