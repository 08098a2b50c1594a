"""Property-based tests (hypothesis) for the geometry predicate kernels —
rect×rect ground truth by interval arithmetic, metamorphic invariants for
general polygons, boundary-touch cases."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rsgislib_spark.kernels import geom

rect_strategy = st.tuples(
    st.integers(-50, 50), st.integers(-50, 50), st.integers(1, 40), st.integers(1, 40)
).map(lambda t: (float(t[0]), float(t[1]), float(t[0] + t[2]), float(t[1] + t[3])))


def rect_rings(r):
    x0, y0, x1, y1 = r
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])]


@settings(max_examples=200, deadline=None)
@given(rect_strategy, rect_strategy)
def test_rect_rect_intersects_matches_interval_math(a, b):
    want = a[0] <= b[2] and a[2] >= b[0] and a[1] <= b[3] and a[3] >= b[1]
    got = geom.rect_intersects_polygon(np.array([a]), rect_rings(b))[0]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(rect_strategy, rect_strategy)
def test_rect_rect_within_matches_interval_math(a, b):
    want = b[0] <= a[0] and b[1] <= a[1] and a[2] <= b[2] and a[3] <= b[3]
    got = geom.rect_within_polygon(np.array([a]), rect_rings(b))[0]
    assert got == want


@settings(max_examples=150, deadline=None)
@given(
    rect_strategy,
    st.lists(st.tuples(st.integers(-40, 40), st.integers(-40, 40)), min_size=3, max_size=10),
)
def test_polygon_invariants(r, pts):
    """within ⇒ intersects; contains(bbox) ⇒ intersects; symmetry of the
    predicate under translation of both operands."""
    arr = np.unique(np.array(pts, dtype=np.float64), axis=0)
    if len(arr) < 3:
        return
    # build a convex hull ring so the polygon is simple
    from rsgislib_spark.datagen import _convex_hull

    hull = _convex_hull(arr)
    if len(hull) < 3:
        return
    rings = [hull]
    R = np.array([r])
    inter = geom.rect_intersects_polygon(R, rings)[0]
    within = geom.rect_within_polygon(R, rings)[0]
    contains = geom.rect_contains_polygon(R, rings)[0]
    if within:
        assert inter
    if contains:
        assert inter
    # translation invariance
    d = np.array([13.0, -7.0])
    rings_t = [hull + d]
    R_t = R + np.array([[d[0], d[1], d[0], d[1]]])
    assert geom.rect_intersects_polygon(R_t, rings_t)[0] == inter
    assert geom.rect_within_polygon(R_t, rings_t)[0] == within


def test_boundary_touch_counts_as_intersects():
    poly = rect_rings((0.0, 0.0, 10.0, 10.0))
    touch_edge = np.array([[10.0, 2.0, 15.0, 8.0]])   # shares the x=10 edge
    touch_corner = np.array([[10.0, 10.0, 20.0, 20.0]])  # shares one corner
    assert geom.rect_intersects_polygon(touch_edge, poly)[0]
    assert geom.rect_intersects_polygon(touch_corner, poly)[0]
    disjoint = np.array([[10.001, 10.001, 20.0, 20.0]])
    assert not geom.rect_intersects_polygon(disjoint, poly)[0]


def test_hole_breaks_within():
    # rect fully inside the hole of an annulus is NOT within the polygon
    shell = np.array([[0.0, 0.0], [20.0, 0.0], [20.0, 20.0], [0.0, 20.0]])
    hole = np.array([[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0]])
    rings = [shell, hole]
    in_hole = np.array([[8.0, 8.0, 12.0, 12.0]])
    in_ring = np.array([[1.0, 1.0, 3.0, 3.0]])
    spanning = np.array([[1.0, 1.0, 12.0, 12.0]])
    assert not geom.rect_within_polygon(in_hole, rings)[0]
    assert geom.rect_within_polygon(in_ring, rings)[0]
    assert not geom.rect_within_polygon(spanning, rings)[0]
    assert geom.rect_intersects_polygon(spanning, rings)[0]


# ---------------------------------------------- pair refine vs scalar ref
#
# ZoneIndex.match refines every candidate pair in one batched pass. The
# reference below is written from the predicate rules, one (rect,
# polygon) pair at a time in plain Python floats, with no numpy kernel:
#  - bboxes fail the closed overlap (intersects) / containment test
#    → False (an empty or NaN polygon fails every test);
#  - intersects: a shell vertex in the closed rect, or a rect corner
#    inside the polygon (even-odd over all rings), or a rect edge
#    touching or crossing a ring edge;
#  - within: every corner inside or on the boundary, no ring-edge
#    midpoint strictly inside the rect, no proper edge crossing;
#  - contains: the rect contains the polygon's bbox.


def _ring_segments(rings):
    for ring in rings:
        pts = [(float(x), float(y)) for x, y in ring]
        for k, (x0, y0) in enumerate(pts):
            x1, y1 = pts[(k + 1) % len(pts)]
            yield x0, y0, x1, y1


def _ref_inside(px, py, rings):
    n = 0
    for x0, y0, x1, y1 in _ring_segments(rings):
        if (y0 > py) != (y1 > py) and px < x0 + (py - y0) / (y1 - y0) * (x1 - x0):
            n += 1
    return n % 2 == 1


def _ref_between(a, b, v):
    return min(a, b) <= v <= max(a, b)


def _ref_on_segment(px, py, x0, y0, x1, y1):
    return _ref_between(x0, x1, px) and _ref_between(y0, y1, py)


def _ref_orient(ox, oy, px, py, qx, qy):
    return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)


def _ref_on_boundary(px, py, rings):
    return any(
        (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0) == 0
        and _ref_on_segment(px, py, x0, y0, x1, y1)
        for x0, y0, x1, y1 in _ring_segments(rings)
    )


def _ref_segments_meet(a, b, proper_only):
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = b
    d1 = _ref_orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = _ref_orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = _ref_orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = _ref_orient(ax0, ay0, ax1, ay1, bx1, by1)
    if 0 not in (d1, d2, d3, d4) and (d1 > 0) != (d2 > 0) and (d3 > 0) != (d4 > 0):
        return True
    if proper_only:
        return False
    return (
        (d1 == 0 and _ref_on_segment(ax0, ay0, bx0, by0, bx1, by1))
        or (d2 == 0 and _ref_on_segment(ax1, ay1, bx0, by0, bx1, by1))
        or (d3 == 0 and _ref_on_segment(bx0, by0, ax0, ay0, ax1, ay1))
        or (d4 == 0 and _ref_on_segment(bx1, by1, ax0, ay0, ax1, ay1))
    )


def ref_predicate(rect, rings, op):
    """Scalar (rect, polygon) predicate; rect = (minx, miny, maxx, maxy)."""
    x0, y0, x1, y1 = (float(v) for v in rect)
    pts = [(float(x), float(y)) for ring in rings for x, y in ring]
    if not pts or any(math.isnan(v) for p in pts for v in p):
        return False
    bx0, by0 = min(p[0] for p in pts), min(p[1] for p in pts)
    bx1, by1 = max(p[0] for p in pts), max(p[1] for p in pts)
    corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    edges = [corners[k] + corners[(k + 1) % 4] for k in range(4)]
    if op == "contains":
        return x0 <= bx0 and y0 <= by0 and x1 >= bx1 and y1 >= by1
    if op == "intersects":
        if not (x0 <= bx1 and x1 >= bx0 and y0 <= by1 and y1 >= by0):
            return False
        if any(x0 <= x <= x1 and y0 <= y <= y1 for x, y in rings[0]):
            return True
        if any(_ref_inside(cx, cy, rings) for cx, cy in corners):
            return True
        return any(_ref_segments_meet(e, s, False) for e in edges for s in _ring_segments(rings))
    assert op == "within"
    if not (bx0 <= x0 and by0 <= y0 and bx1 >= x1 and by1 >= y1):
        return False
    if not all(_ref_inside(cx, cy, rings) or _ref_on_boundary(cx, cy, rings) for cx, cy in corners):
        return False
    for sx0, sy0, sx1, sy1 in _ring_segments(rings):
        mx, my = (sx0 + sx1) / 2.0, (sy0 + sy1) / 2.0
        if x0 < mx < x1 and y0 < my < y1:
            return False
    return not any(_ref_segments_meet(e, s, True) for e in edges for s in _ring_segments(rings))


def _ref_pairs(rects, polygons, op):
    return {
        (q, z)
        for z, rings in enumerate(polygons)
        for q, r in enumerate(rects)
        if ref_predicate(r, rings, op)
    }


def _zone_index(polygons):
    from rsgislib_spark.operators.spatial_join import ZoneIndex

    return ZoneIndex(np.arange(len(polygons)), [geom.polygon_to_wkb(p) for p in polygons])


def _match_pairs(zx, rects, op):
    qi, zi = zx.match(np.asarray(rects, dtype=np.float64).reshape(-1, 4), op)
    pairs = list(zip(qi.tolist(), zi.tolist()))
    assert len(pairs) == len(set(pairs))
    return set(pairs)


def _square(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


def _edge_case_zones():
    """Lattice zones: squares sharing edges and corners, a square with a
    hole, a diamond, a star (concave), a hole touching its shell, an
    empty polygon and a NaN polygon."""
    star_t = np.linspace(0, 2 * np.pi, 10, endpoint=False)
    star_r = np.where(np.arange(10) % 2, 2.0, 5.0)
    return [
        [_square(0, 0, 10, 10)],
        [_square(10, 0, 20, 10)],  # shares the x=10 edge with zone 0
        [_square(20, 10, 30, 20)],  # meets zone 1 at the corner (20, 10)
        [_square(0, 20, 20, 40), _square(5, 25, 15, 35)],  # hole
        [np.array([[40, 0], [50, 10], [40, 20], [30, 10]], dtype=np.float64)],
        [np.round(np.column_stack([45 + star_r * np.cos(star_t), 30 + star_r * np.sin(star_t)]))],
        [_square(30, 30, 40, 40), _square(30, 32, 34, 36)],  # hole on the shell edge
        [],
        [np.array([[0, 0], [np.nan, 5], [5, 5]], dtype=np.float64)],
    ]


def _lattice_rects(rng, n, lo=-5, hi=55):
    x = rng.integers(lo, hi, n).astype(np.float64)
    y = rng.integers(lo, hi, n).astype(np.float64)
    w = rng.integers(0, 15, n)
    h = rng.integers(0, 15, n)
    r = np.column_stack([x, y, x + w, y + h])
    r[: n // 8, 2] = r[: n // 8, 0]  # zero-width
    r[n // 8 : n // 4, 2:] = r[n // 8 : n // 4, :2]  # points (x, y, x, y)
    return r


def test_zone_index_match_equals_scalar_reference_on_edge_cases():
    polygons = _edge_case_zones()
    rects = np.vstack([
        _lattice_rects(np.random.default_rng(7), 400),
        [[10, 2, 15, 8], [10, 10, 20, 20], [20, 10, 20, 10], [6, 26, 14, 34],
         [1, 21, 4, 24], [0, 0, 10, 10], [0, 0, 20, 10], [30, 32, 34, 36],
         [45, 30, 45, 30], [5, 5, 5, 5], [-1, -1, 60, 60]],
    ])
    zx = _zone_index(polygons)
    for op in ("intersects", "within", "contains"):
        want = _ref_pairs(rects, polygons, op)
        assert _match_pairs(zx, rects, op) == want, op
    assert _ref_pairs(rects, polygons, "intersects")  # the cases do match


@st.composite
def _polygon_layers(draw):
    polygons = []
    for _ in range(draw(st.integers(1, 12))):
        cx, cy = draw(st.integers(0, 60)), draw(st.integers(0, 60))
        kind = draw(st.integers(0, 2))
        if kind == 0:
            pts = np.array(draw(st.lists(
                st.tuples(st.integers(cx - 15, cx + 15), st.integers(cy - 15, cy + 15)),
                min_size=3, max_size=9)), dtype=np.float64)
            from rsgislib_spark.datagen import _convex_hull

            hull = _convex_hull(np.unique(pts, axis=0))
            polygons.append([hull] if len(hull) >= 3 else [])
        else:
            s = draw(st.integers(2, 12))
            rings = [_square(cx - s, cy - s, cx + s, cy + s)]
            if kind == 2 and s > 2:
                rings.append(_square(cx - s + 1, cy - s + 1, cx + s - 1, cy + s - 1))
            polygons.append(rings)
    return polygons


@settings(max_examples=60, deadline=None)
@given(_polygon_layers(), st.integers(0, 2**32 - 1))
def test_zone_index_match_equals_scalar_reference(polygons, seed):
    rects = _lattice_rects(np.random.default_rng(seed), 48, lo=-10, hi=75)
    zx = _zone_index(polygons)
    for op in ("intersects", "within", "contains"):
        assert _match_pairs(zx, rects, op) == _ref_pairs(rects, polygons, op), op


def test_pair_refine_is_independent_of_chunking(monkeypatch):
    """Pairs that span chunk boundaries reduce to the same answer as one
    chunk (a 2 000-vertex zone is split across many chunks)."""
    t = np.linspace(0, 2 * np.pi, 2000, endpoint=False)
    big = [np.column_stack([50 + 40 * np.cos(t), 50 + 40 * np.sin(t)]), _square(40, 40, 60, 60)]
    polygons = _edge_case_zones() + [big]
    rects = _lattice_rects(np.random.default_rng(3), 300, lo=0, hi=100)
    zx = _zone_index(polygons)
    monkeypatch.setattr(geom, "PAIR_ELEM_BUDGET", 1 << 30)
    whole = {op: _match_pairs(zx, rects, op) for op in ("intersects", "within")}
    monkeypatch.setattr(geom, "PAIR_ELEM_BUDGET", 997)
    for op, want in whole.items():
        assert _match_pairs(zx, rects, op) == want, op
    assert any(z == len(polygons) - 1 for _, z in whole["intersects"])
