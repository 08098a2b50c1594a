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

from functools import partial

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


def _crosses(px, py, x0, y0, x1, y1) -> np.ndarray:
    """Even-odd ray cast, elementwise over broadcast point/edge arrays:
    the edge straddles the horizontal line through the point (half-open
    in y) and meets it right of the point."""
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
    return ((y0 > py) != (y1 > py)) & (px < xin)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd ray-cast point-in-polygon, vectorized over points.

    Half-open edge convention (a point exactly on a horizontal-crossing
    boundary counts per the standard crossing rule); matches shapely's
    ``contains`` for interior points — boundary points are resolved by the
    deterministic crossing count, documented for parity tests. The parity
    of the crossings over all rings is the XOR of the per-ring parities.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0, y0, x1, y1 = _ring_edges(rings)
    n = _crosses(px[:, None], py[:, None], x0, y0, x1, y1).sum(axis=1)
    return (n % 2).astype(bool)


def _orient(ox, oy, px_, py_, qx, qy):
    return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)


def _on_seg(sx0, sy0, sx1, sy1, px_, py_):
    return (
        (np.minimum(sx0, sx1) <= px_)
        & (px_ <= np.maximum(sx0, sx1))
        & (np.minimum(sy0, sy1) <= py_)
        & (py_ <= np.maximum(sy0, sy1))
    )


def _on_edge(px, py, x0, y0, x1, y1) -> np.ndarray:
    """The point lies ON the edge (collinear and inside the edge's bbox) —
    the boundary part of shapely's closed ``within``/``covers`` that an
    even-odd ray cast cannot decide. Elementwise."""
    cross = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)
    return (cross == 0) & _on_seg(x0, y0, x1, y1, px, py)


def _seg_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1, touch: bool) -> np.ndarray:
    """Segment a meets segment b, elementwise over broadcast arrays
    (orientation signs). ``touch=False``: proper crossings only;
    ``touch=True`` adds endpoint contact and collinear overlap."""
    d1 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = _orient(ax0, ay0, ax1, ay1, bx1, by1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    if not touch:
        return proper
    return proper | (
        ((d1 == 0) & _on_seg(bx0, by0, bx1, by1, ax0, ay0))
        | ((d2 == 0) & _on_seg(bx0, by0, bx1, by1, ax1, ay1))
        | ((d3 == 0) & _on_seg(ax0, ay0, ax1, ay1, bx0, by0))
        | ((d4 == 0) & _on_seg(ax0, ay0, ax1, ay1, bx1, by1))
    )


def _ring_edges(rings):
    """Concatenated edge arrays (x0, y0, x1, y1) over all rings."""
    rr = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings]
    if not rr:
        return (np.empty(0),) * 4
    return (
        np.concatenate([r[:, 0] for r in rr]),
        np.concatenate([r[:, 1] for r in rr]),
        np.concatenate([np.roll(r[:, 0], -1) for r in rr]),
        np.concatenate([np.roll(r[:, 1], -1) for r in rr]),
    )


# ------------------------------------------------ rect × polygon predicates
#
# One kernel per predicate, batched over (rect, polygon) PAIRS: the
# polygons of a PolygonSet sit in flat vertex/edge arrays with
# per-polygon offsets, each pair is repeated over its polygon's shell
# vertices or ring edges, and the per-element tests are reduced back to
# the pairs with bincount. A refine over any number of zones is a few
# numpy passes, never one pass per zone; the single-polygon
# ``rect_*_polygon`` functions are the same kernel on a one-polygon set.

#: Elements (pair × vertex or pair × edge) expanded per chunk. Bounds the
#: kernels' temporaries (~30 MB at this size) whatever a polygon's size:
#: one 20 k-vertex zone against 20 k rects is 4·10^8 elements.
PAIR_ELEM_BUDGET = 1 << 16


class PolygonSet:
    """Polygons flattened for the pair kernels.

    Polygon ``i`` owns vertices (and ring edges) ``off[i]:off[i+1]`` of
    the flat arrays, shell first, then its holes; its shell is the first
    ``shell_n[i]`` of them. Edge ``j`` runs from ``(x[j], y[j])`` to
    ``(x1[j], y1[j])``, the next vertex of its ring (the ring's first
    after its last). ``bboxes`` are :func:`polygon_bbox` (NaN for an
    empty polygon)."""

    def __init__(self, polygons):
        polygons = list(polygons)
        rings = [r for p in polygons for r in p]
        self.x, self.y, self.x1, self.y1 = _ring_edges(rings)
        ring_n = np.array([len(r) for r in rings], dtype=np.int64)
        n_rings = np.array([len(p) for p in polygons], dtype=np.int64)
        per_poly = np.bincount(
            np.repeat(np.arange(len(polygons)), n_rings), weights=ring_n, minlength=len(polygons)
        )
        self.off = np.concatenate([[0], np.cumsum(per_poly)]).astype(np.int64)
        self.shell_n = np.zeros(len(polygons), dtype=np.int64)
        has = n_rings > 0
        self.shell_n[has] = ring_n[(np.cumsum(n_rings) - n_rings)[has]]
        self.bboxes = np.array([polygon_bbox(p) for p in polygons], dtype=np.float64).reshape(-1, 4)


def _segment_counts(first, count, test, rows: int) -> np.ndarray:
    """(rows, n) counts of the elements passing ``test`` per segment.

    Segment i covers flat elements ``first[i] .. first[i]+count[i]-1``.
    The ragged index space is walked in chunks of at most
    :data:`PAIR_ELEM_BUDGET` elements (a segment may span chunks);
    ``test(seg, idx)`` gets a chunk's segment and element numbers and
    returns a (rows, m) bool array."""
    out = np.zeros((rows, len(count)), dtype=np.int64)
    ends = np.cumsum(count)
    starts = ends - count
    total = int(ends[-1]) if len(ends) else 0
    for s in range(0, total, PAIR_ELEM_BUDGET):
        e = min(s + PAIR_ELEM_BUDGET, total)
        lo = int(np.searchsorted(ends, s, side="right"))
        hi = int(np.searchsorted(ends, e - 1, side="right")) + 1
        a = np.maximum(starts[lo:hi], s)
        n = np.minimum(ends[lo:hi], e) - a
        rel = np.repeat(np.arange(hi - lo), n)
        base = first[lo:hi] + (a - starts[lo:hi]) - (np.cumsum(n) - n)
        hit = test(rel + lo, base[rel] + np.arange(e - s))
        for r in range(rows):
            out[r, lo:hi] += np.bincount(rel[hit[r]], minlength=hi - lo)
    return out


def _corners(r):
    """Corners (4, m) of rects r (4, m) given as (minx, miny, maxx, maxy)
    rows: lower-left, lower-right, upper-right, upper-left; rect edge k
    runs from corner k to corner k+1."""
    return r[[0, 2, 2, 0]], r[[1, 1, 3, 3]]


def _shell_vertex_in_rect(R, poly, ps):
    def test(s, i):
        r = R[:, s]
        x, y = ps.x[i], ps.y[i]
        return ((x >= r[0]) & (x <= r[2]) & (y >= r[1]) & (y <= r[3]))[None]

    return _segment_counts(ps.off[poly], ps.shell_n[poly], test, 1)[0] > 0


def _edge_counts(R, poly, ps, test, rows):
    """Per pair, counts over the ring edges of its polygon; ``test(r, x0,
    y0, x1, y1)`` sees the pair's rect (a (4, m) column) and one edge per
    element."""
    return _segment_counts(
        ps.off[poly], ps.off[poly + 1] - ps.off[poly],
        lambda s, e: test(R[:, s], ps.x[e], ps.y[e], ps.x1[e], ps.y1[e]), rows,
    )


def _corner_parity(r, x0, y0, x1, y1):
    cx, cy = _corners(r)
    return _crosses(cx, cy, x0, y0, x1, y1)


def _corner_parity_or_on(r, x0, y0, x1, y1):
    cx, cy = _corners(r)
    return np.concatenate([_crosses(cx, cy, x0, y0, x1, y1), _on_edge(cx, cy, x0, y0, x1, y1)])


def _rect_edges_meet(r, x0, y0, x1, y1, touch: bool):
    cx, cy = _corners(r)
    hit = _seg_cross(cx, cy, np.roll(cx, -1, axis=0), np.roll(cy, -1, axis=0), x0, y0, x1, y1, touch)
    return hit.any(axis=0)[None]


def _midpoint_inside(r, x0, y0, x1, y1):
    mx = (x0 + x1) / 2.0
    my = (y0 + y1) / 2.0
    return ((mx > r[0]) & (mx < r[2]) & (my > r[1]) & (my < r[3]))[None]


def _pairs_intersect(R, poly, ps):
    """shapely-``intersects`` on bbox-overlapping pairs, cheapest test
    first: a shell vertex inside the rect, else a rect corner inside the
    polygon, else a rect edge touching or crossing a ring edge."""
    res = _shell_vertex_in_rect(R, poly, ps)
    rem = np.flatnonzero(~res)
    cnt = _edge_counts(R[:, rem], poly[rem], ps, _corner_parity, 4)
    res[rem] = (cnt % 2).astype(bool).any(axis=0)
    rem = np.flatnonzero(~res)
    res[rem] = _edge_counts(R[:, rem], poly[rem], ps, partial(_rect_edges_meet, touch=True), 1)[0] > 0
    return res


def _pairs_within(R, poly, ps):
    """rect ⊆ polygon (shapely ``within``) on bbox-contained pairs: all 4
    corners inside or ON the boundary (a.within(a) is True), no ring-edge
    midpoint strictly inside the rect (a hole fully inside the rect
    crosses no rect edge), and no proper edge crossing."""
    cnt = _edge_counts(R, poly, ps, _corner_parity_or_on, 8)
    res = ((cnt[:4] % 2).astype(bool) | (cnt[4:] > 0)).all(axis=0)
    live = np.flatnonzero(res)
    res[live] = _edge_counts(R[:, live], poly[live], ps, _midpoint_inside, 1)[0] == 0
    live = np.flatnonzero(res)
    res[live] = _edge_counts(R[:, live], poly[live], ps, partial(_rect_edges_meet, touch=False), 1)[0] == 0
    return res


def rect_polygon_pairs(rects: np.ndarray, poly: np.ndarray, ps: PolygonSet, op: str) -> np.ndarray:
    """Exact predicate per (rect, polygon) pair → (P,) bool.

    ``rects`` (P,4) are paired with polygons ``poly`` (P,) of ``ps``.
    ``op``: ``intersects`` (closed: boundary contact counts), ``within``
    (rect ⊆ polygon) or ``contains`` (rect ⊇ polygon, which for a closed
    rect is exactly bbox containment). A pair whose bboxes fail the
    closed test is False before any vertex is looked at."""
    R = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    poly = np.asarray(poly, dtype=np.int64)
    B = ps.bboxes[poly]
    if op == "contains":
        return (R[:, 0] <= B[:, 0]) & (R[:, 1] <= B[:, 1]) & (R[:, 2] >= B[:, 2]) & (R[:, 3] >= B[:, 3])
    if op == "intersects":
        cand = (R[:, 0] <= B[:, 2]) & (R[:, 2] >= B[:, 0]) & (R[:, 1] <= B[:, 3]) & (R[:, 3] >= B[:, 1])
        kernel = _pairs_intersect
    elif op == "within":
        cand = (B[:, 0] <= R[:, 0]) & (B[:, 1] <= R[:, 1]) & (B[:, 2] >= R[:, 2]) & (B[:, 3] >= R[:, 3])
        kernel = _pairs_within
    else:
        raise ValueError(f"unknown rect/polygon predicate {op!r}")
    out = np.zeros(len(R), dtype=bool)
    idx = np.flatnonzero(cand)
    if len(idx):
        out[idx] = kernel(np.ascontiguousarray(R[idx].T), poly[idx], ps)
    return out


def _one_polygon(rects, rings, op):
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    return rect_polygon_pairs(rects, np.zeros(len(rects), np.int64), PolygonSet([rings]), op)


def rect_intersects_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """shapely-``intersects`` semantics between axis-aligned rects (n,4)
    and one polygon: true if boundaries touch/cross or either contains the
    other."""
    return _one_polygon(rects, rings, "intersects")


def rect_within_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """rect ⊆ polygon (shapely ``within``), rects (n,4) against one polygon."""
    return _one_polygon(rects, rings, "within")


def rect_contains_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """rect ⊇ polygon: for a closed rect this is exactly bbox containment."""
    return _one_polygon(rects, rings, "contains")


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
