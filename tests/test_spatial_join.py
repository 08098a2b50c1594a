"""Spatial-join parity: the broadcast strategy vs a numpy oracle.

Oracle role: the reference delegates its joins to geopandas/shapely
(vectorutils/__init__.py:2217); with those unavailable in this container,
the oracle is an independent brute-force evaluation of the same predicate
kernels over ALL (image, zone) pairs — no tree — so index and join
plumbing are tested against exhaustive evaluation, for every join_how
with its null-padded unmatched rows.
"""

import inspect
import tracemalloc
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from rsgislib_spark.kernels import geom
from rsgislib_spark.operators.spatial_join import (
    JOIN_HOWS,
    JOIN_OPS,
    ZoneIndex,
    spatial_join_broadcast,
    spatial_select,
)


def brute_pairs(images_pdf: pd.DataFrame, zones_pdf: pd.DataFrame, join_op: str):
    rects = images_pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(dtype=np.float64)
    ids = images_pdf["image_id"].to_numpy()
    out = set()
    for z in zones_pdf.itertuples(index=False):
        rings = geom.wkb_to_polygon(z.geometry)
        if join_op == "intersects":
            ok = geom.rect_intersects_polygon(rects, rings)
        elif join_op == "within":
            ok = geom.rect_within_polygon(rects, rings)
        else:
            ok = geom.rect_contains_polygon(rects, rings)
        for i in np.nonzero(ok)[0]:
            out.add((ids[i], int(z.zone_id)))
    return out


@pytest.fixture(scope="module")
def spark_tables(spark, images_nopix_pdf, zones_pdf):
    images = spark.createDataFrame(
        images_nopix_pdf[["image_id", "w", "h", "caption", "minx", "miny", "maxx", "maxy"]]
    )
    zones = spark.createDataFrame(zones_pdf)
    return images, zones


def _expected_pairs(images_pdf, zones_pdf, join_op, join_how):
    """The brute-force pairs, plus each unmatched image (``left``) or
    zone (``right``) once with ``None`` on the other side."""
    exp = brute_pairs(images_pdf, zones_pdf, join_op)
    if join_how == "left":
        hit = {i for i, _ in exp}
        exp |= {(i, None) for i in images_pdf["image_id"] if i not in hit}
    elif join_how == "right":
        hit = {z for _, z in exp}
        exp |= {(None, int(z)) for z in zones_pdf["zone_id"] if int(z) not in hit}
    return exp


@pytest.mark.parametrize(
    "join_op, join_how",
    # an inner case's id is its predicate alone, inner being the default how
    [
        pytest.param(op, how, id=op if how == "inner" else f"{op}-{how}")
        for how in JOIN_HOWS
        for op in JOIN_OPS
    ],
)
def test_broadcast_join_matches_oracle(
    spark_tables, images_nopix_pdf, zones_pdf, join_op, join_how
):
    images, zones = spark_tables
    got = (
        spatial_join_broadcast(images, zones, join_op=join_op, join_how=join_how)
        .select("image_id", "zone_id")
        .collect()
    )
    got_pairs = [(r.image_id, None if r.zone_id is None else int(r.zone_id)) for r in got]
    exp = _expected_pairs(images_nopix_pdf, zones_pdf, join_op, join_how)
    assert len(got_pairs) == len(set(got_pairs))
    assert set(got_pairs) == exp
    if join_op == "intersects" and join_how == "inner":
        assert len(exp) > 100  # skewed placement must produce real matches
    if join_how != "inner":
        assert any(None in p for p in exp)  # the padding is exercised


def _square(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


#: geom function calls one ZoneIndex.match may make, whatever the number
#: of zones its candidates touch (a few batched passes, each a few chunks)
MAX_GEOM_CALLS_PER_MATCH = 200


def test_match_refines_all_zones_in_a_bounded_number_of_kernel_calls(monkeypatch):
    """One match over 1 000 zones calls the geom kernels a bounded
    number of times, not once (or more) per zone it touches."""
    polygons = []
    for i in range(1000):
        x, y = (i % 40) * 10.0, (i // 40) * 10.0
        rings = [_square(x, y, x + 10, y + 10)]
        if i % 3 == 0:
            rings.append(_square(x + 3, y + 3, x + 7, y + 7))
        polygons.append(rings)
    zx = ZoneIndex(np.arange(1000), [geom.polygon_to_wkb(p) for p in polygons])
    rng = np.random.default_rng(0)
    x, y = rng.uniform(0, 400, 3000), rng.uniform(0, 250, 3000)
    rects = np.column_stack([x, y, x + rng.uniform(0, 25, 3000), y + rng.uniform(0, 25, 3000)])

    calls = Counter()

    def counted(name, fn):
        def wrapper(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)

        return wrapper

    for name, fn in list(vars(geom).items()):
        if inspect.isfunction(fn) and fn.__module__ == geom.__name__:
            monkeypatch.setattr(geom, name, counted(name, fn))
    for op in JOIN_OPS:
        calls.clear()
        qi, zi = zx.match(rects, op)
        assert sum(calls.values()) <= MAX_GEOM_CALLS_PER_MATCH, (op, calls.most_common(5))
        if op == "intersects":
            assert len(np.unique(zi)) > 900
        assert len(qi)


def test_refine_of_a_huge_zone_stays_within_the_chunk_budget(monkeypatch):
    """A 20 000-vertex zone against 20 000 candidate rects is 4·10^8
    (pair, vertex) elements: the refine walks them in chunks of at most
    PAIR_ELEM_BUDGET and never allocates pairs × vertices (a single
    bool array of that shape is 400 MB). The first chunks are enough to
    see that; the whole walk would take minutes."""
    t = np.linspace(0, 2 * np.pi, 20_000, endpoint=False)
    zone = [np.column_stack([5e4 + 4e4 * np.cos(t), 5e4 + 4e4 * np.sin(t)])]
    zx = ZoneIndex([1], [geom.polygon_to_wkb(zone)])
    rng = np.random.default_rng(1)
    x, y = rng.uniform(1e4, 9e4, 20_000), rng.uniform(1e4, 9e4, 20_000)
    rects = np.column_stack([x, y, x + 500, y + 500])

    class Enough(Exception):
        pass

    sizes = []
    real = geom._segment_counts

    def spy(first, count, test, rows):
        assert int(np.sum(count)) >= 10**8  # the whole product is in play

        def chunk(seg, idx):
            sizes.append(len(idx))
            if len(sizes) == 24:
                raise Enough
            return test(seg, idx)

        return real(first, count, chunk, rows)

    monkeypatch.setattr(geom, "_segment_counts", spy)
    tracemalloc.start()
    try:
        with pytest.raises(Enough):
            zx.match(rects, "intersects")
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert max(sizes) <= geom.PAIR_ELEM_BUDGET
    assert peak < 64 << 20, peak


def test_left_join_keeps_unmatched_images(spark_tables):
    images, zones = spark_tables
    n_images = images.count()
    left = spatial_join_broadcast(images, zones, join_op="within", join_how="left")
    # every image appears at least once
    assert left.select("image_id").distinct().count() == n_images
    assert left.filter("zone_id IS NULL").count() > 0


def test_right_join_keeps_unmatched_zones(spark_tables, zones_pdf):
    images, zones = spark_tables
    right = spatial_join_broadcast(images, zones, join_op="contains", join_how="right")
    assert right.select("zone_id").distinct().count() == len(zones_pdf)


def test_empty_join_yields_empty_result(spark, zones_pdf):
    """Reference: inner spatial join with zero matches produces no output
    (test_vectorutils.py:850-873 — no file written)."""
    far = pd.DataFrame(
        {
            "image_id": ["img_x"],
            "minx": [5e6], "miny": [5e6], "maxx": [5.1e6], "maxy": [5.1e6],
        }
    )
    images = spark.createDataFrame(far)
    zones = spark.createDataFrame(zones_pdf)
    out = spatial_join_broadcast(images, zones, join_op="intersects", join_how="inner")
    assert out.count() == 0


def test_spatial_select_semi(spark_tables, images_nopix_pdf, zones_pdf):
    images, zones = spark_tables
    sel = spatial_select(images, zones, join_op="intersects").toPandas()
    exp_ids = {i for i, _ in brute_pairs(images_nopix_pdf, zones_pdf, "intersects")}
    assert set(sel["image_id"]) == exp_ids
    # semi-join: image columns only, no duplication
    assert len(sel) == len(exp_ids)


def test_spatial_select_selects_rows_not_ids(spark):
    """Two rows share image_id 7: only the one inside the zone comes
    back (selecting by id returned the row at (50, 50) as well)."""
    square = [np.array([[100.0, 100.0], [200.0, 100.0], [200.0, 200.0], [100.0, 200.0], [100.0, 100.0]])]
    zones = spark.createDataFrame(
        pd.DataFrame({"zone_id": [1], "geometry": [geom.polygon_to_wkb(square)]})
    )
    images = spark.createDataFrame(pd.DataFrame({
        "image_id": [7, 7, 8],
        "tag": ["in", "out", "far"],
        "minx": [140.0, 50.0, 500.0], "miny": [140.0, 50.0, 500.0],
        "maxx": [150.0, 51.0, 501.0], "maxy": [150.0, 51.0, 501.0],
    }))
    got = spatial_select(images, zones).toPandas()
    assert list(got.columns) == images.columns
    assert got.values.tolist() == [[7, "in", 140.0, 140.0, 150.0, 150.0]]


def test_zone_index_pickles(zones_pdf):
    import pickle

    zx = ZoneIndex.from_pandas(zones_pdf)
    zx2 = pickle.loads(pickle.dumps(zx))
    rects = np.array([[0, 0, 100, 100.0]])
    a = zx.match(rects, "intersects")
    b = zx2.match(rects, "intersects")
    np.testing.assert_array_equal(a[0], b[0])
    np.testing.assert_array_equal(a[1], b[1])


class TestLayerPredicates:
    """Boolean layer predicates (vec_intersects_vec family,
    vectorgeoms/__init__.py:2541-2952): ANY-pair semantics, both truthy
    and falsy cases, on hand-built rect layers."""

    def _mk(self, spark, rects, id0=0):
        rows = []
        for i, (x0, y0, x1, y1) in enumerate(rects):
            rows.append((id0 + i, float(x0), float(y0), float(x1), float(y1)))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["image_id", "minx", "miny", "maxx", "maxy"])
        )

    def _zones(self, spark, rects, id0=100):
        rows = []
        for i, (x0, y0, x1, y1) in enumerate(rects):
            wkb = geom.polygon_to_wkb(
                [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)]
            )
            rows.append((id0 + i, wkb))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["zone_id", "geometry"])
        )

    def test_predicates_truth_table(self, spark):
        from rsgislib_spark.operators.spatial_join import (
            vec_contains_vec,
            vec_intersects_vec,
            vec_overlaps_vec,
            vec_within_vec,
        )

        zones = self._zones(spark, [(10.0, 10.0, 20.0, 20.0)])
        inside = self._mk(spark, [(12.0, 12.0, 18.0, 18.0)])
        straddle = self._mk(spark, [(15.0, 15.0, 25.0, 25.0)])
        outside = self._mk(spark, [(30.0, 30.0, 40.0, 40.0)])
        covering = self._mk(spark, [(0.0, 0.0, 50.0, 50.0)])

        assert vec_intersects_vec(inside, zones)
        assert vec_intersects_vec(straddle, zones)
        assert not vec_intersects_vec(outside, zones)

        assert vec_within_vec(inside, zones)
        assert not vec_within_vec(straddle, zones)
        assert not vec_within_vec(outside, zones)

        assert vec_contains_vec(covering, zones)
        assert not vec_contains_vec(inside, zones)

        assert vec_overlaps_vec(straddle, zones)
        assert not vec_overlaps_vec(inside, zones)  # within, not overlaps
        assert not vec_overlaps_vec(covering, zones)  # contains, not overlaps
        assert not vec_overlaps_vec(outside, zones)

    def test_identity_parts_cover_image_exactly(self, spark):
        """For NON-overlapping zones, identity parts partition each
        image: zone-tagged + free areas sum to the image area."""
        from rsgislib_spark.operators.overlay import overlay_identity

        zones_pdf = pd.DataFrame(
            {
                "zone_id": [1, 2],
                "geometry": [
                    geom.polygon_to_wkb(
                        [np.array([[0.25, 0.25], [10.25, 0.25], [10.25, 10.25], [0.25, 10.25]])]
                    ),
                    geom.polygon_to_wkb(
                        [np.array([[20.25, 0.25], [30.25, 0.25], [30.25, 10.25], [20.25, 10.25]])]
                    ),
                ],
            }
        )
        imgs = self._mk(spark, [(5.0, 5.0, 25.0, 8.0), (100.0, 100.0, 110.0, 110.0)])
        parts = overlay_identity(imgs, zones_pdf, scale=4).toPandas()
        tot = parts.groupby("image_id")["part_area_scaled"].sum()
        assert tot[0] == int((25 - 5) * (8 - 5) * 16)
        assert tot[1] == int(10 * 10 * 16)
        sub = parts[parts.image_id == 0]
        assert set(sub["zone_id"].dropna().astype(int)) == {1, 2}
        assert (sub["zone_id"].isna()).sum() >= 1  # the gap between zones


# ------------------------------------------- zone-bbox pushdown semantics


def _rect_zones(spark, rects, id0=100, ids=None, **attrs):
    """Rect zones with ids ``id0 + i`` (or ``ids``) and attribute columns."""
    pdf = pd.DataFrame(
        {
            "zone_id": list(range(id0, id0 + len(rects))) if ids is None else ids,
            "geometry": [
                geom.polygon_to_wkb([np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)])
                for x0, y0, x1, y1 in rects
            ],
            **attrs,
        }
    )
    return spark.createDataFrame(pdf)


def _rect_images(spark, rects):
    return spark.createDataFrame(
        pd.DataFrame(
            [(i, *map(float, r)) for i, r in enumerate(rects)],
            columns=["image_id", "minx", "miny", "maxx", "maxy"],
        )
    )


def test_left_join_keeps_images_outside_every_zone_bbox(spark):
    zones = _rect_zones(spark, [(0, 0, 10, 10), (20, 0, 30, 10)])
    images = _rect_images(spark, [(2, 2, 4, 4), (100, 100, 110, 110), (-50, 40, -40, 50)])
    got = spatial_join_broadcast(images, zones, join_how="left").toPandas()
    got = got.sort_values("image_id").reset_index(drop=True)
    assert list(got["image_id"]) == [0, 1, 2]
    assert got.loc[0, "zone_id"] == 100
    assert got.loc[1:, "zone_id"].isna().all()


def test_empty_or_nan_zone_bbox_keeps_other_zone_matches(spark, images_nopix_pdf, zones_pdf):
    """An empty polygon and a NaN-coordinate polygon match nothing; they
    must not poison the union-bbox filter or the STRtree nodes they share
    with other zones."""
    nan_ring = np.array([[np.nan, 0.0], [1.0, np.nan], [1.0, 1.0]])
    bad = pd.DataFrame(
        {
            "zone_id": [900, 901],
            "class_name": ["bad", "bad"],
            "geometry": [geom.polygon_to_wkb([]), geom.polygon_to_wkb([nan_ring])],
            "minx": [np.nan] * 2, "miny": [np.nan] * 2, "maxx": [np.nan] * 2, "maxy": [np.nan] * 2,
        }
    )
    zones = spark.createDataFrame(pd.concat([zones_pdf, bad], ignore_index=True))
    images = spark.createDataFrame(images_nopix_pdf[["image_id", "minx", "miny", "maxx", "maxy"]])
    got = spatial_join_broadcast(images, zones).select("image_id", "zone_id").toPandas()
    assert set(zip(got["image_id"], got["zone_id"].astype(int))) == brute_pairs(
        images_nopix_pdf, zones_pdf, "intersects"
    )
    only_bad = spark.createDataFrame(bad)
    assert spatial_join_broadcast(images, only_bad).count() == 0


def test_image_touching_zone_bbox_edge_intersects(spark):
    """Closed intervals: contact on the union bbox's edge or corner is
    still an intersection."""
    zones = _rect_zones(spark, [(0, 0, 10, 10)])
    images = _rect_images(spark, [(10, 2, 12, 4), (10, 10, 12, 12), (-3, -3, 0, 0), (10.5, 2, 12, 4)])
    for how in ("inner", "right"):
        got = spatial_join_broadcast(images, zones, join_how=how).toPandas()
        assert sorted(got["image_id"]) == [0, 1, 2], how


def test_layer_predicate_false_outside_union_bbox(spark):
    from rsgislib_spark.operators.spatial_join import layer_predicate

    zones = _rect_zones(spark, [(0, 0, 10, 10), (20, 20, 30, 30)])
    far = _rect_images(spark, [(40, 40, 50, 50), (-20, 0, -10, 5)])
    assert not layer_predicate(far, zones, "intersects")
    between = _rect_images(spark, [(12, 12, 18, 18)])  # inside the union bbox only
    assert not layer_predicate(between, zones, "intersects")
    near = _rect_images(spark, [(40, 40, 50, 50), (30, 30, 35, 35)])
    assert layer_predicate(near, zones, "intersects")


@pytest.mark.parametrize("how", ["inner", "left"])
def test_duplicate_ids_get_only_their_own_zones(spark, how):
    """Two rows sharing an image_id with different bboxes each pair with
    their own zones only (pairing by id gave each row the other's zones
    too: 4 rows where 2 are right)."""
    zones = _rect_zones(spark, [(0, 0, 10, 10), (20, 0, 30, 10), (40, 0, 50, 10)])
    images = spark.createDataFrame(
        pd.DataFrame(
            [(7, "a", 2.0, 2.0, 4.0, 4.0), (7, "b", 22.0, 2.0, 24.0, 4.0), (8, "c", 60.0, 0.0, 61.0, 1.0)],
            columns=["image_id", "tag", "minx", "miny", "maxx", "maxy"],
        )
    )
    got = spatial_join_broadcast(images, zones, join_how=how).toPandas()
    rows = sorted((r.image_id, r.tag, None if pd.isna(r.zone_id) else int(r.zone_id)) for r in got.itertuples())
    want = [(7, "a", 100), (7, "b", 101)] + ([(8, "c", None)] if how == "left" else [])
    assert rows == want, rows


@pytest.mark.parametrize("how", ["inner", "left", "right"])
def test_zone_rows_sharing_an_id_keep_their_own_attributes(spark, how):
    """Two zone rows with id 7, "A" at (0,0)-(10,10) and "B" far away; one
    image inside A. Pairing attributes by zone_id gave the image both A
    and B; by zone row it gets A only, and a right join keeps B unmatched."""
    zones = _rect_zones(
        spark, [(0, 0, 10, 10), (100, 100, 110, 110)], ids=[7, 7], class_name=["A", "B"]
    )
    images = _rect_images(spark, [(1, 1, 2, 2)])
    got = spatial_join_broadcast(images, zones, "intersects", how).toPandas()
    rows = sorted(
        ((int(r.zone_id), None if pd.isna(r.image_id) else int(r.image_id), r.class_name)
         for r in got.itertuples()),
        key=repr,
    )
    want = [(7, 0, "A")] + ([(7, None, "B")] if how == "right" else [])
    assert rows == want, rows


def _attr_zones(spark, with_attrs: bool):
    import datetime
    import decimal

    from pyspark.sql.types import (
        BinaryType, DecimalType, DoubleType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    rects = [(0, 0, 10, 10), (20, 0, 30, 10), (500, 500, 510, 510)]
    fields = [StructField("zone_id", LongType()), StructField("geometry", BinaryType())]
    fields += [StructField(c, DoubleType()) for c in ("minx", "miny", "maxx", "maxy")]
    rows = [
        [100 + i, geom.polygon_to_wkb([np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)]),
         float(x0), float(y0), float(x1), float(y1)]
        for i, (x0, y0, x1, y1) in enumerate(rects)
    ]
    if with_attrs:
        fields += [
            StructField("name", StringType()),
            StructField("cnt", LongType()),
            StructField("score", DoubleType()),
            StructField("amount", DecimalType(12, 3)),
            StructField("seen", TimestampType()),
            StructField("blob", BinaryType()),
        ]
        attrs = [
            ["a", 9_007_199_254_740_993, 0.1, decimal.Decimal("12.345"),
             datetime.datetime(2021, 3, 4, 5, 6, 7, 891011), b"\x00\x01"],
            ["b", None, -2.5, decimal.Decimal("-0.001"), datetime.datetime(1999, 12, 31), b""],
            ["c", 3, float("inf"), None, None, None],
        ]
        rows = [r + a for r, a in zip(rows, attrs)]
    return spark.createDataFrame(rows, StructType(fields))


@pytest.mark.parametrize("with_attrs", [True, False], ids=["attrs", "no_attrs"])
@pytest.mark.parametrize("how", ["inner", "left", "right"])
def test_zone_attributes_keep_their_types_and_values(spark, how, with_attrs):
    """The zone attributes the pass carries are the same, in type and
    value, as a Catalyst join of the exact pairs with the zone rows (the
    former plan) — a nullable long does not round-trip through float64,
    a decimal, timestamp or binary keeps its type, an unmatched left row
    gets null attributes and an unmatched right zone keeps its own."""
    zones = _attr_zones(spark, with_attrs)
    images = spark.createDataFrame(
        pd.DataFrame(
            [(0, "p", 2.0, 2.0, 4.0, 4.0), (1, "q", 8.0, 1.0, 22.0, 3.0),
             (2, "r", 24.0, 4.0, 25.0, 5.0), (3, "s", 60.0, 60.0, 61.0, 61.0)],
            columns=["image_id", "tag", "minx", "miny", "maxx", "maxy"],
        )
    )
    zpdf = zones.select("zone_id", "geometry").toPandas()
    pairs = spark.createDataFrame(
        sorted((int(i), z) for i, z in brute_pairs(images.toPandas(), zpdf, "intersects")),
        "image_id long, zone_id long",
    )
    attrs = zones.drop("geometry", "minx", "miny", "maxx", "maxy")
    want = images.join(pairs, "image_id", "left" if how == "left" else "inner").join(
        attrs, "zone_id", how
    )
    got = spatial_join_broadcast(images, zones, "intersects", how)
    assert got.dtypes == want.dtypes
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    if how != "inner":  # the premise: an unmatched side exists
        assert got.filter("zone_id IS NULL" if how == "left" else "image_id IS NULL").count() == 1


@pytest.mark.parametrize("how", ["inner", "left", "right"])
def test_attribute_named_like_an_image_column_and_empty_zones(spark, how):
    """A zone attribute may share an image column's name (both columns
    come out, as from a join), and an empty zone table gives no pairs but
    still keeps every image in a left join."""
    zones = _rect_zones(spark, [(0, 0, 10, 10), (20, 0, 30, 10)], id0=1, tag=["z1", "z2"])
    images = spark.createDataFrame(
        pd.DataFrame(
            [(0, "i0", 1.0, 1.0, 2.0, 2.0), (1, "i1", 50.0, 50.0, 51.0, 51.0)],
            columns=["image_id", "tag", "minx", "miny", "maxx", "maxy"],
        )
    )
    got = spatial_join_broadcast(images, zones, "intersects", how)
    assert got.columns == ["zone_id", "image_id", "tag", "minx", "miny", "maxx", "maxy", "tag"]
    rows = sorted(((r[0], r[1], r[2], r[7]) for r in got.collect()), key=repr)
    want = {
        "inner": [(1, 0, "i0", "z1")],
        "left": [(1, 0, "i0", "z1"), (None, 1, "i1", None)],
        "right": [(1, 0, "i0", "z1"), (2, None, None, "z2")],
    }[how]
    assert rows == sorted(want, key=repr), rows
    empty = spatial_join_broadcast(images, zones.filter("zone_id < 0"), "intersects", how)
    assert empty.count() == (2 if how == "left" else 0)
