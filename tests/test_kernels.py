"""Unit tests for the pure-numpy kernel library (no Spark)."""

import numpy as np
import pytest

from rsgislib_spark.kernels import cells, codecs, geom, phash, pixelmath, strtree


# ------------------------------------------------------------------ cells
class TestCells:
    def test_encode_decode_roundtrip(self):
        rng = np.random.default_rng(42)
        ix = rng.integers(0, 1 << 29, 1000)
        iy = rng.integers(0, 1 << 29, 1000)
        for res in (0, 5, 12, 29):
            c = cells.encode_ixiy(ix, iy, res)
            dx, dy, dr = cells.decode_cell(c)
            np.testing.assert_array_equal(dx, ix)
            np.testing.assert_array_equal(dy, iy)
            assert (dr == res).all()

    def test_point_encode_bounds(self):
        x = np.array([0.0, 100.0, 1048575.9, 1048576.0])
        y = np.array([0.0, 200.0, 10.0, 20.0])
        c = cells.encode_point(x, y, 0)
        minx, miny, maxx, maxy = cells.cell_bounds(c)
        assert (x >= minx).all() and (x < maxx).all()
        assert (y >= miny).all() and (y < maxy).all()

    def test_parent(self):
        c = cells.encode_point(np.array([5000.0]), np.array([7000.0]), 10)
        p = cells.parent(c, 4)
        _, _, r = cells.decode_cell(p)
        assert r[0] == 4
        bmin = cells.cell_bounds(p)
        cmin = cells.cell_bounds(c)
        assert bmin[0][0] <= cmin[0][0] and bmin[2][0] >= cmin[2][0]

    def test_k_ring_count_and_membership(self):
        c = cells.encode_point(np.array([5e5]), np.array([5e5]), 8)
        ring = cells.k_ring(c, 2)
        assert ring.shape == (1, 25)
        assert len(np.unique(ring)) == 25
        assert c[0] in ring

    def test_morton_locality(self):
        # neighbours in space are near in id space more often than random
        c1 = cells.encode_point(np.array([1000.0]), np.array([1000.0]), 20)
        c2 = cells.encode_point(np.array([1000.0 + cells.cell_size(20)]), np.array([1000.0]), 20)
        assert abs(int(c1[0]) - int(c2[0])) < 10

    def test_linear_cell_sql_parity(self):
        # same formula as SQL: floor(x/s)*D + floor(y/s)
        x = np.array([0.0, 99.9, 100.0, 12345.0])
        y = np.array([5.0, 55.0, 99.0, 777.0])
        out = cells.linear_cell(x, y, 100.0, 1 << 21)
        exp = np.floor(x / 100.0).astype(np.int64) * (1 << 21) + np.floor(y / 100.0).astype(np.int64)
        np.testing.assert_array_equal(out, exp)


# ------------------------------------------------------------------- geom
SQUARE = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])]
DIAMOND = [np.array([[5.0, 0.0], [10.0, 5.0], [5.0, 10.0], [0.0, 5.0]])]
HOLEY = [
    np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]),
    np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]]),
]


class TestGeom:
    def test_point_in_polygon(self):
        px = np.array([5.0, 15.0, -1.0, 5.0])
        py = np.array([5.0, 5.0, 5.0, 15.0])
        got = geom.points_in_polygon(px, py, SQUARE)
        np.testing.assert_array_equal(got, [True, False, False, False])

    def test_point_in_polygon_hole(self):
        px = np.array([5.0, 2.0])
        py = np.array([5.0, 2.0])
        got = geom.points_in_polygon(px, py, HOLEY)
        np.testing.assert_array_equal(got, [False, True])

    def test_area_centroid(self):
        assert geom.polygon_area(SQUARE) == pytest.approx(100.0)
        assert geom.polygon_area(DIAMOND) == pytest.approx(50.0)
        assert geom.polygon_area(HOLEY) == pytest.approx(96.0)
        cx, cy = geom.polygon_centroid(SQUARE)
        assert (cx, cy) == pytest.approx((5.0, 5.0))

    def test_rect_intersects_polygon(self):
        rects = np.array(
            [
                [2, 2, 8, 8],     # inside
                [-5, -5, -1, -1], # outside
                [8, 8, 15, 15],   # overlaps corner
                [10, 0, 20, 10],  # touches edge
                [4.5, 4.5, 5.5, 5.5],  # inside the hole of HOLEY
            ],
            dtype=np.float64,
        )
        got = geom.rect_intersects_polygon(rects, SQUARE)
        np.testing.assert_array_equal(got, [True, False, True, True, True])
        got_h = geom.rect_intersects_polygon(rects[4:5], HOLEY)
        # rect fully inside the hole: does NOT intersect the polygon
        np.testing.assert_array_equal(got_h, [False])

    def test_rect_within_polygon(self):
        rects = np.array(
            [
                [2, 2, 8, 8],      # within square
                [4, 4, 6, 6],      # within diamond
                [0.5, 0.5, 2, 2],  # corner region outside diamond
                [2, 2, 8, 8],      # spans the hole in HOLEY -> not within
            ],
            dtype=np.float64,
        )
        assert geom.rect_within_polygon(rects[0:1], SQUARE)[0]
        assert geom.rect_within_polygon(rects[1:2], DIAMOND)[0]
        assert not geom.rect_within_polygon(rects[2:3], DIAMOND)[0]
        assert not geom.rect_within_polygon(rects[3:4], HOLEY)[0]

    def test_rect_contains_polygon(self):
        rects = np.array([[-1, -1, 11, 11], [0, 0, 10, 10], [2, 2, 8, 8]], dtype=np.float64)
        got = geom.rect_contains_polygon(rects, SQUARE)
        np.testing.assert_array_equal(got, [True, True, False])

    def test_wkb_roundtrip(self):
        wkb = geom.polygon_to_wkb(HOLEY)
        rings = geom.wkb_to_polygon(wkb)
        assert len(rings) == 2
        np.testing.assert_allclose(rings[0], HOLEY[0])
        np.testing.assert_allclose(rings[1], HOLEY[1])

    def test_bbox_algebra(self):
        a = np.array([[0, 0, 10, 10]], dtype=np.float64)
        b = np.array([[5, 5, 15, 15], [20, 20, 30, 30]], dtype=np.float64)
        np.testing.assert_array_equal(geom.bbox_intersects(a, b)[0], [True, False])
        inter = geom.bbox_intersection(a.repeat(2, 0), b)
        np.testing.assert_allclose(inter[0], [5, 5, 10, 10])
        assert np.isnan(inter[1]).all()
        assert geom.bbox_area(a)[0] == 100.0


# -------------------------------------------------------------- pixelmath
class TestPixelMath:
    def test_img_pxl_coords_floor_half(self):
        # image: tlx=100, tly=200, res=10, 10x10 px
        px, py = pixelmath.img_pxl_coords(
            [100.0, 104.9, 105.0, 199.9], [200.0, 195.1, 195.0, 101.0],
            100.0, 200.0, 10.0, 10.0, 10, 10,
        )
        # floor(dx/res + 0.5) convention
        np.testing.assert_array_equal(px, [0, 0, 1, 10])
        np.testing.assert_array_equal(py, [0, 0, 1, 10])

    def test_img_pxl_coords_out_of_extent_raises(self):
        with pytest.raises(ValueError):
            pixelmath.img_pxl_coords([99.0], [150.0], 100.0, 200.0, 10.0, 10.0, 10, 10)

    def test_point_pixel_lookup(self):
        px, py, inside = pixelmath.point_pixel_lookup(
            [105.0, 50.0], [195.0, 150.0], 100.0, 200.0, 10.0, 10.0, 10, 10
        )
        assert inside.tolist() == [True, False]
        assert px[0] == 0 and py[0] == 0  # truncation, not rounding

    def test_zonal_window_reference_quirks(self):
        # envelope aligned exactly at image origin -> the ==0.0 shortcut
        x1, y1, xs, ys, have = pixelmath.zonal_window(
            [100.0], [150.0], [150.0], [200.0], 100.0, 200.0, 10.0, 10.0, 10, 10
        )
        assert x1[0] == 0 and y1[0] == 0
        assert have[0]
        # window is int(x/r)+1 on the max side, clamped
        assert xs[0] == 6  # int(50/10)+1 = 6
        # degenerate envelope off-image: clamps to zero-size -> no pixels
        x1, y1, xs, ys, have = pixelmath.zonal_window(
            [1000.0], [1010.0], [150.0], [160.0], 100.0, 200.0, 10.0, 10.0, 10, 10
        )
        assert not have[0]

    def test_tile_windows_simple_25(self):
        # the canonical 25-tile case: 1000x1000 image, 200x200 tiles
        tw = pixelmath.tile_windows_simple(1000, 1000, 200, 200)
        assert len(tw) == 25
        assert (tw[:, 4] == 200).all() and (tw[:, 5] == 200).all()
        # remainder tiles
        tw = pixelmath.tile_windows_simple(1050, 1000, 200, 200)
        assert len(tw) == 30
        assert tw[:, 4].max() == 200 and sorted(set(tw[:, 4]))[0] == 50

    def test_tile_windows_overlap(self):
        tw = pixelmath.tile_windows_overlap(1000, 1000, 200, 200, overlap=5)
        assert len(tw) == 25
        # interior tile expanded by 5 each side
        interior = tw[(tw[:, 0] == 2) & (tw[:, 1] == 2)][0]
        assert interior[4] == 210 and interior[5] == 210
        # corner tile clamped
        corner = tw[(tw[:, 0] == 0) & (tw[:, 1] == 0)][0]
        assert corner[2] == 0 and corner[4] == 205

    def test_tile_windows_offset(self):
        tw = pixelmath.tile_windows_overlap(1000, 1000, 200, 200, overlap=0, offset=True)
        # first row/col is a half tile (100), then 4 full, then remainder 100
        xs = sorted(set(zip(tw[:, 2], tw[:, 4])))
        assert (0, 100) in xs and (900, 100) in xs
        assert len(tw) == 36

    def test_block_windows_anchored(self):
        bw = pixelmath.block_windows_anchored(250, 250, 64)
        assert len(bw) == 16
        last = bw[-1]
        assert last[2] == 250 - 64 and last[3] == 250 - 64  # re-anchored
        assert (bw[:, 4] == 64).all()


# ----------------------------------------------------------------- codecs
class TestCodecs:
    def _img(self, h=100, w=64, ch=None, seed=0):
        rng = np.random.default_rng(seed)
        y, x = np.mgrid[0:h, 0:w]
        base = (128 + 60 * np.sin(x / 9.0) + 50 * np.cos(y / 13.0)).clip(0, 255)
        if ch:
            base = np.stack([(base + 20 * i) % 256 for i in range(ch)], axis=2)
        noise = rng.normal(0, 3, base.shape)
        return (base + noise).clip(0, 255).astype(np.uint8)

    def test_raw_roundtrip(self):
        img = self._img()
        assert (codecs.decode_raw(codecs.encode_raw(img), 100, 64) == img).all()

    def test_png_roundtrip_gray_rgb(self):
        for img in (self._img(), self._img(ch=3)):
            out = codecs.decode_png(codecs.encode_png(img))
            assert (out == img).all()

    def test_png_deterministic(self):
        img = self._img(seed=7)
        assert codecs.encode_png(img) == codecs.encode_png(img)

    def test_dct_lossy_psnr(self):
        for img in (self._img(), self._img(ch=3)):
            buf = codecs.encode_dct(img, quality=90)
            out = codecs.decode_dct(buf)
            assert out.shape == img.shape
            p = codecs.psnr(img, out)
            assert p >= 40.0, f"PSNR {p} < 40dB"

    def test_dct_odd_sizes(self):
        img = self._img(h=97, w=51)
        out = codecs.decode_dct(codecs.encode_dct(img))
        assert out.shape == (97, 51)
        assert codecs.psnr(img, out) >= 40.0

    def test_dispatch(self):
        img = self._img()
        for fmt in ("raw", "png", "jpg"):
            buf = codecs.encode_image(img, fmt)
            out = codecs.decode_image(buf, fmt, 100, 64)
            if fmt == "jpg":
                assert codecs.psnr(img, out) >= 40.0
            else:
                assert (out == img).all()

    def test_images_equal_oracle(self):
        img = self._img().astype(np.float64)
        assert codecs.images_equal(img, img)
        assert not codecs.images_equal(img, img + 1.0)
        assert codecs.images_equal(img, img + 1.0, flt_dif=2.0)
        # prop_eql semantics
        j = img.copy()
        j[0, 0] += 10
        assert codecs.images_equal(img, j, prop_eql=0.99)


# ------------------------------------------------------------------ phash
class TestPhash:
    def test_stability_and_sensitivity(self):
        rng = np.random.default_rng(3)
        y, x = np.mgrid[0:128, 0:128]
        a = (128 + 100 * np.sin(x / 20.0) * np.cos(y / 17.0)).clip(0, 255).astype(np.uint8)
        h1 = phash.phash64(a)
        # tiny noise: small hamming distance
        b = (a.astype(np.int16) + rng.integers(-2, 3, a.shape)).clip(0, 255).astype(np.uint8)
        assert phash.hamming64(h1, phash.phash64(b))[()] <= 10
        # very different image: large distance
        c = (255 - a.T).copy()
        assert phash.hamming64(h1, phash.phash64(c))[()] >= 16

    def test_lossy_codec_preserves_phash(self):
        # structured image (smoothed noise + gradient) — representative of
        # the synthetic corpus, not a degenerate separable pattern
        rng = np.random.default_rng(5)
        n = rng.normal(0, 1, (128, 128))
        k = 9
        c = np.cumsum(np.cumsum(np.pad(n, ((1, 0), (1, 0))), 0), 1)
        s = (c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]) / (k * k)
        a = (
            128 + 40 * s / np.abs(s).max() * 3 + np.linspace(-40, 40, s.shape[1])[None, :]
        ).clip(0, 255).astype(np.uint8)
        out = codecs.decode_dct(codecs.encode_dct(a, 90))
        assert phash.hamming64(phash.phash64(a), phash.phash64(out))[()] <= 4


# ---------------------------------------------------------------- strtree
class TestSTRtree:
    def test_matches_bruteforce(self):
        rng = np.random.default_rng(11)
        n, q = 500, 200
        mins = rng.uniform(0, 1000, (n, 2))
        sizes = rng.uniform(1, 50, (n, 2))
        items = np.hstack([mins, mins + sizes])
        qmins = rng.uniform(0, 1000, (q, 2))
        qsizes = rng.uniform(1, 80, (q, 2))
        qs = np.hstack([qmins, qmins + qsizes])
        tree = strtree.STRtree(items)
        qi, ii = tree.query(qs)
        got = set(zip(qi.tolist(), ii.tolist()))
        brute = geom.bbox_intersects(qs, items)
        exp = set(zip(*[v.tolist() for v in np.nonzero(brute)]))
        assert got == exp

    def test_empty_and_single(self):
        t = strtree.STRtree(np.empty((0, 4)))
        qi, ii = t.query(np.array([[0, 0, 1, 1.0]]))
        assert len(qi) == 0
        t1 = strtree.STRtree(np.array([[0, 0, 5, 5.0]]))
        qi, ii = t1.query(np.array([[1, 1, 2, 2.0], [9, 9, 10, 10.0]]))
        assert qi.tolist() == [0] and ii.tolist() == [0]


class TestLatticeGrid:
    def test_matches_mod_formula_including_large_dims(self):
        """int32 product path: w,h past the old int16 wrap point (2521)
        must still give the exact (k*7 + x*13 + y*17) % 251 residues."""
        from rsgislib_spark.pipeline import lattice_grid

        keys = np.array([3, 1_000_000_007], dtype=np.int64)
        for w, h in [(64, 48), (3000, 2), (2, 2600)]:
            g = lattice_grid(keys, w, h)
            x = np.arange(w, dtype=np.int64)
            y = np.arange(h, dtype=np.int64)
            expect = (keys[:, None, None] * 7 + x * 13 + y[:, None] * 17) % 251
            assert g.dtype == np.uint8
            assert np.array_equal(g, expect.astype(np.uint8)), (w, h)
