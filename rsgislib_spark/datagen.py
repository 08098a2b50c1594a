"""Deterministic synthetic fixtures: the image+caption table, zone
polygons, point samples, and per-image segmentation grids.

Schemas follow FIXTURES.md / BASELINE.json ``input_hint`` exactly:

    images(image_id string, bytes binary, w int32, h int32, fmt string,
           caption string, phash int64)

Determinism: single global seed (42 default); per-entity streams derived
with ``numpy.random.Philox(key=(seed, table_tag, i))`` so any row can be
regenerated independently of batch size or ordering. No wall clock, no
environment-dependent values. JPEG-class codec pinned at quality=90
(see kernels.codecs).

Placement is deliberately skewed — ~20% of images cluster into a few hot
spots (~1% of cells) — to exercise hot-cell salting (SURVEY.md §4.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rsgislib_spark.kernels import codecs, geom
from rsgislib_spark.kernels.phash import phash64

WORLD = float(1 << 20)  # world is [0, WORLD) in both axes
PIXEL_SIZE = 10.0
SIZES = np.array([64, 100, 200, 256], dtype=np.int32)
FMTS = np.array(["png", "jpg", "raw"])
ADJ = ["verdant", "arid", "misty", "sunlit", "shadowed", "frosty", "golden", "muddy"]
LAND = ["forest", "grass", "urban", "water", "scrub", "wetland", "dune", "crag"]

_TAGS = {"images": 1, "zones": 2, "points": 3, "segments": 4}


def _rng(seed: int, table: str, i: int) -> np.random.Generator:
    # Philox 2x64 key: (seed, table) in word 0, row index in word 1 — any
    # row regenerates independently of batch size/order.
    return np.random.Generator(
        np.random.Philox(key=[seed * 1_000_003 + _TAGS[table], i])
    )


# ------------------------------------------------------------------ images


def _image_pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Structured deterministic image: smoothed noise + gradient + bands.

    Smooth enough that the pinned quality-90 lossy codec stays ≥40 dB PSNR
    (per the BASELINE.json per-row invariant)."""
    n = rng.normal(0.0, 1.0, (h + 8, w + 8))
    c = np.cumsum(np.cumsum(n, 0), 1)
    k = 8
    s = (c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]) / (k * k)
    gx = np.linspace(-30, 30, w)[None, :]
    gy = np.linspace(-20, 20, h)[:, None]
    img = 128.0 + 45.0 * s[:h, :w] / max(np.abs(s[:h, :w]).max(), 1e-9) * 2.0 + gx + gy
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def _placement(rng: np.random.Generator, hot_centers: np.ndarray) -> tuple:
    """Seeded placement with hot-spot skew: 20% of images in tight clusters."""
    if rng.random() < 0.2:
        c = hot_centers[rng.integers(0, len(hot_centers))]
        x = float(np.clip(c[0] + rng.normal(0, 2000.0), 0, WORLD - 4000))
        y = float(np.clip(c[1] + rng.normal(0, 2000.0), 0, WORLD - 4000))
    else:
        x = float(rng.uniform(0, WORLD - 4000))
        y = float(rng.uniform(0, WORLD - 4000))
    # snap to whole world units so footprint coords are exact doubles
    return float(np.floor(x)), float(np.floor(y))


def hot_spot_centers(seed: int = 42, n_hot: int = 8) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=[seed * 1_000_003 + 99, 0]))
    return rng.uniform(WORLD * 0.1, WORLD * 0.9, (n_hot, 2))


def gen_images(n: int, seed: int = 42, with_pixels: bool = True) -> pd.DataFrame:
    """Generate the image+caption table (pandas). One row per image.

    ``with_pixels=False`` skips codec work and emits empty payloads —
    useful for footprint/join-only tests at larger n.
    """
    return gen_images_rows(range(n), seed=seed, with_pixels=with_pixels)


def gen_images_rows(indices, seed: int = 42, with_pixels: bool = True) -> pd.DataFrame:
    """Rows for an arbitrary index set — the Philox per-row streams make
    any slice independent of batch/order, so distributed generation
    (spark.range → mapInPandas over index batches) produces the SAME
    table as the driver-side loop."""
    hot = hot_spot_centers(seed)
    rows = []
    for i in indices:
        i = int(i)
        rng = _rng(seed, "images", i)
        w = int(SIZES[rng.integers(0, len(SIZES))])
        h = int(SIZES[rng.integers(0, len(SIZES))])
        fmt = str(FMTS[rng.integers(0, len(FMTS))])
        minx, miny = _placement(rng, hot)
        cx = minx + w * PIXEL_SIZE / 2.0
        cy = miny + h * PIXEL_SIZE / 2.0
        caption = (
            f"{ADJ[int(rng.integers(0, len(ADJ)))]} "
            f"{LAND[int(rng.integers(0, len(LAND)))]} tile near ({cx:.1f},{cy:.1f}) #{i}"
        )
        if with_pixels:
            img = _image_pixels(rng, h, w)
            buf = codecs.encode_image(img, fmt)
            ph = int(phash64(img))
        else:
            buf = b""
            ph = 0
        rows.append((f"img_{i:09d}", buf, w, h, fmt, caption, ph, minx, miny))
    df = pd.DataFrame(
        rows,
        columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "minx", "miny"],
    )
    df["w"] = df["w"].astype(np.int32)
    df["h"] = df["h"].astype(np.int32)
    df["phash"] = df["phash"].astype(np.int64)
    # minx/miny are the *placement* ground truth kept alongside for tests;
    # the engine itself derives footprints from (minx, miny, w, h).
    return df


def image_footprints(df: pd.DataFrame) -> pd.DataFrame:
    """Footprint columns (maxx, maxy, geotransform origin) from placement."""
    out = df.copy()
    out["maxx"] = out["minx"] + out["w"].astype(np.float64) * PIXEL_SIZE
    out["maxy"] = out["miny"] + out["h"].astype(np.float64) * PIXEL_SIZE
    return out


# ------------------------------------------------------------------- zones


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain (public classic), CCW, no repeated last pt."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def gen_zones(n: int = 50, seed: int = 42) -> pd.DataFrame:
    """Zone polygons: rectangles, convex blobs, one polygon-with-hole.

    Sized so some zones hold many images and some none (the empty-join case
    of the reference's test_vectorutils.py:850-873)."""
    classes = ["forest", "grass", "urban", "water"]
    hot = hot_spot_centers(seed)
    rows = []
    for i in range(n):
        rng = _rng(seed, "zones", i)
        kind = i % 4
        if i < len(hot):  # guarantee zones over the hot spots (join skew)
            cx, cy = hot[i]
        else:
            cx, cy = rng.uniform(WORLD * 0.05, WORLD * 0.95, 2)
        size = float(rng.uniform(3000, 40000))
        if kind == 0:  # axis-aligned rectangle
            rings = [
                np.array(
                    [
                        [cx - size, cy - size],
                        [cx + size, cy - size],
                        [cx + size, cy + size],
                        [cx - size, cy + size],
                    ]
                )
            ]
        elif kind == 1:  # convex blob
            pts = np.column_stack(
                [cx + rng.normal(0, size, 12), cy + rng.normal(0, size, 12)]
            )
            rings = [_convex_hull(pts)]
        elif kind == 2:  # rectangle with a hole
            rings = [
                np.array(
                    [
                        [cx - size, cy - size],
                        [cx + size, cy - size],
                        [cx + size, cy + size],
                        [cx - size, cy + size],
                    ]
                ),
                np.array(
                    [
                        [cx - size / 3, cy - size / 3],
                        [cx + size / 3, cy - size / 3],
                        [cx + size / 3, cy + size / 3],
                        [cx - size / 3, cy + size / 3],
                    ]
                ),
            ]
        else:  # diamond (boundary-touch edge cases)
            rings = [
                np.array(
                    [[cx, cy - size], [cx + size, cy], [cx, cy + size], [cx - size, cy]]
                )
            ]
        # clip-safe: keep inside world
        rings = [np.clip(r, 0.0, WORLD) for r in rings]
        bbox = geom.polygon_bbox(rings)
        rows.append(
            (
                i,
                classes[int(rng.integers(0, 4))],
                geom.polygon_to_wkb(rings),
                bbox[0],
                bbox[1],
                bbox[2],
                bbox[3],
            )
        )
    return pd.DataFrame(
        rows, columns=["zone_id", "class_name", "geometry", "minx", "miny", "maxx", "maxy"]
    )


# ------------------------------------------------------------------ points


def gen_points(n: int = 200, seed: int = 42) -> pd.DataFrame:
    rows = []
    for i in range(n):
        rng = _rng(seed, "points", i)
        if rng.random() < 0.1:  # deliberately outside the data extent
            x = float(rng.uniform(WORLD * 1.01, WORLD * 1.1))
            y = float(rng.uniform(WORLD * 1.01, WORLD * 1.1))
        else:
            x = float(np.floor(rng.uniform(0, WORLD)))
            y = float(np.floor(rng.uniform(0, WORLD)))
        rows.append(
            (
                i,
                x,
                y,
                ["a", "b", "c"][int(rng.integers(0, 3))],
                float(rng.normal(0, 10)),
                float(rng.normal(5, 3)),
                float(rng.uniform(-1, 1)),
                int(rng.random() < 0.7),
            )
        )
    return pd.DataFrame(
        rows,
        columns=["pt_id", "x", "y", "label", "feat_1", "feat_2", "feat_3", "is_train"],
    )


# ---------------------------------------------------------------- segments


def gen_segments(images: pd.DataFrame, n_seeds: int = 12, seed: int = 42) -> pd.DataFrame:
    """Voronoi-cell segmentation label grid per image (int32 raw C-order)."""
    rows = []
    for i, rec in enumerate(images.itertuples(index=False)):
        rng = _rng(seed, "segments", i)
        h, w = int(rec.h), int(rec.w)
        k = int(rng.integers(4, n_seeds + 1))
        sx = rng.uniform(0, w, k)
        sy = rng.uniform(0, h, k)
        yy, xx = np.mgrid[0:h, 0:w]
        d = (xx[:, :, None] - sx[None, None, :]) ** 2 + (yy[:, :, None] - sy[None, None, :]) ** 2
        lab = np.argmin(d, axis=2).astype(np.int32)
        rows.append((rec.image_id, lab.tobytes(), int(lab.max()) + 1))
    return pd.DataFrame(rows, columns=["image_id", "seg_bytes", "n_segments"])
