"""Seeded inputs owned by the benchmark.

Everything the program under test receives is generated here from the
run's ``--seed``: pixels, stored image bytes, footprints, zones and the
query sequence. Pixels are encoded once with
``rsgislib_spark.kernels.codecs.encode_image`` outside every timed
window; the stored bytes table is data, cached per (kind, seed, size)
under ``perfbench/.cache`` and checked by file digest before each run, so
both sides of a comparison scan the same bytes.

Per-row streams use ``numpy.random.Philox`` keyed by (seed, table, row),
so any image can be regenerated on its own (the tile spot checks rely on
that).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
#: Cached input sets kept per kind; older ones are evicted (disk bound).
KEEP_CACHED = 3

PIXEL_SIZE = 10.0
#: Image edge lengths; 96, 100, 160 and 200 are not multiples of the
#: 64-px tile, so remainder tiles are always exercised.
SIZES = np.array([64, 96, 100, 128, 160, 200, 256], dtype=np.int32)
FMTS = ("raw", "png", "jpg")
LOSSY = {"jpg"}
#: World extent of the supplier-derived zones (pipeline.load_zones_pdf).
ZONE_WORLD = 100_000.0
#: World extent of the footprint set.
FP_WORLD = 1_000_000.0
N_SUPPLIERS = 1000
PSNR_MIN = 40.0
#: Noise amplitudes a lossy image is generated with, in turn, until its
#: decode meets PSNR_MIN (the first one almost always does).
LOSSY_AMPS = (70.0, 50.0, 35.0, 25.0, 15.0)

_TAGS = {"pixels": 1, "images": 2, "zones": 3, "queries": 4, "suppliers": 5}


def rng_for(seed: int, table: str, i: int = 0) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed * 1_000_003 + _TAGS[table], i]))


# ------------------------------------------------------------------ pixels

def image_pixels(seed: int, i: int, h: int, w: int, amp: float = 70.0) -> np.ndarray:
    """Smoothed noise of amplitude ``amp`` plus gradients: rough enough
    that png deflate has work to do; the lossy encoder lowers ``amp``
    where needed to stay above the 40 dB PSNR bound."""
    rng = rng_for(seed, "pixels", i)
    k = 8
    n = rng.normal(0.0, 1.0, (h + k, w + k))
    c = np.cumsum(np.cumsum(n, 0), 1)
    s = (c[k:, k:] - c[:-k, k:] - c[k:, :-k] + c[:-k, :-k]) / (k * k)
    s = s[:h, :w]
    gx = np.linspace(-30.0, 30.0, w)[None, :]
    gy = np.linspace(-20.0, 20.0, h)[:, None]
    img = 128.0 + amp * s / max(float(np.abs(s).max()), 1e-9) + gx + gy
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def focal_sum3(img: np.ndarray) -> int:
    """Sum over pixels of the clipped 3×3 window sum (reference for the
    pipeline's focal kernel), by padding with zeros."""
    p = np.pad(img.astype(np.int64), 1)
    h, w = img.shape
    return int(sum(p[dy:dy + h, dx:dx + w].sum() for dy in range(3) for dx in range(3)))


# ------------------------------------------------------------- placement

def balanced_shapes(seed: int, n: int):
    """(w, h, fmt) per image. The multiset of shapes and formats depends
    on ``n`` only (every (w, h, fmt) combination in turn), so the pixel
    and codec work of a table is the same for every seed; the seed only
    decides which image gets which shape."""
    combos = np.array([(w, h, f) for w in range(len(SIZES)) for h in range(len(SIZES))
                       for f in range(len(FMTS))])
    pick = combos[np.arange(n) % len(combos)][rng_for(seed, "images", 1).permutation(n)]
    return SIZES[pick[:, 0]], SIZES[pick[:, 1]], np.array(FMTS)[pick[:, 2]]


def _placement(seed: int, n: int, world: float, n_hot: int, hot_share: float,
               hot_sigma: float, span: float):
    """Hot-spot skewed lower-left corners on the integer lattice."""
    rng = rng_for(seed, "images", 0)
    hot = rng.uniform(world * 0.15, world * 0.85, (n_hot, 2))
    is_hot = rng.random(n) < hot_share
    which = rng.integers(0, n_hot, n)
    x = np.where(is_hot, hot[which, 0] + rng.normal(0, hot_sigma, n),
                 rng.uniform(0, world - span, n))
    y = np.where(is_hot, hot[which, 1] + rng.normal(0, hot_sigma, n),
                 rng.uniform(0, world - span, n))
    x = np.floor(np.clip(x, 0, world - span))
    y = np.floor(np.clip(y, 0, world - span))
    return x, y


# --------------------------------------------------------------- digests

def file_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if f.startswith(".") or f == "meta.json":
                continue
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def _evict(kind: str, keep: str) -> None:
    if not os.path.isdir(CACHE):
        return
    dirs = [d for d in os.listdir(CACHE) if d.startswith(kind + "-") and d != keep]
    dirs.sort(key=lambda d: os.path.getmtime(os.path.join(CACHE, d)))
    for d in dirs[: max(0, len(dirs) - (KEEP_CACHED - 1))]:
        shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)


def cached(kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    """(directory, meta) of the input set ``kind`` for (seed, size).

    Built by ``build(dir, seed, size) -> meta`` when absent or when the
    stored digest no longer matches the files (a partial write or a
    tampered cache is rebuilt, never used)."""
    name = f"{kind}-s{seed}-n{size}"
    path = os.path.join(CACHE, name)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if file_digest(path) == meta.get("digest"):
            os.utime(path)
            return path, meta
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    meta = build(path, seed, size)
    meta["digest"] = file_digest(path)
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    _evict(kind, name)
    return path, meta


# ------------------------------------------------------------ image table

def _encode_chunk(seed: int, idx: np.ndarray, hs: np.ndarray, ws: np.ndarray, fmts: np.ndarray):
    """Generate, encode and reference-measure the images ``idx``: payloads
    plus the pixel stats of the generated (pre-encode) arrays and, for
    lossy payloads, the decode error the correctness bounds use."""
    from rsgislib_spark.kernels import codecs

    n = len(idx)
    bufs = []
    ref = {k: np.zeros(n, np.int64) for k in ("sum_v", "min_v", "max_v", "focal_sum", "max_err")}
    rmse = np.zeros(n, np.float64)
    for j, i in enumerate(idx):
        h, w, fmt = int(hs[j]), int(ws[j]), str(fmts[j])
        for amp in LOSSY_AMPS if fmt in LOSSY else LOSSY_AMPS[:1]:
            img = image_pixels(seed, int(i), h, w, amp)
            buf = codecs.encode_image(img, fmt)
            if fmt not in LOSSY:
                break
            dec = codecs.decode_image(buf, fmt, h, w)
            if codecs.psnr(img, dec) >= PSNR_MIN:
                break
        else:
            raise RuntimeError(f"generated image {i} decodes below {PSNR_MIN} dB")
        bufs.append(buf)
        ref["sum_v"][j] = int(img.sum(dtype=np.int64))
        ref["min_v"][j] = int(img.min())
        ref["max_v"][j] = int(img.max())
        ref["focal_sum"][j] = focal_sum3(img)
        if fmt in LOSSY:
            d = np.abs(dec.astype(np.int64) - img.astype(np.int64))
            ref["max_err"][j] = int(d.max())
            rmse[j] = float(np.sqrt(np.mean(d.astype(np.float64) ** 2)))
    return bufs, ref, rmse


def _encode_images(seed: int, n: int, world: float, hot_share: float):
    """Stored-table columns and per-image reference stats for ``n``
    images, encoded by a spawn pool of one process per core."""
    import multiprocessing as mp

    ws, hs, fmts = balanced_shapes(seed, n)
    minx, miny = _placement(seed, n, world, n_hot=6, hot_share=hot_share,
                            hot_sigma=world * 0.01, span=float(SIZES.max()) * PIXEL_SIZE)
    procs = min(len(os.sched_getaffinity(0)), max(1, n // 200))
    chunks = np.array_split(np.arange(n), procs * 4)
    args = [(seed, c, hs[c], ws[c], fmts[c]) for c in chunks]
    if procs > 1:
        with mp.get_context("spawn").Pool(procs) as pool:
            parts = pool.starmap(_encode_chunk, args)
    else:
        parts = [_encode_chunk(*a) for a in args]
    bufs = [b for p in parts for b in p[0]]
    ref = {k: np.concatenate([p[1][k] for p in parts]) for k in parts[0][1]}
    rmse = np.concatenate([p[2] for p in parts])
    table = pd.DataFrame({
        "image_key": np.arange(n, dtype=np.int64),
        "image_id": [f"img_{i:07d}" for i in range(n)],
        "bytes": bufs,
        "fmt": fmts.astype(str),
        "w": ws.astype(np.int32),
        "h": hs.astype(np.int32),
        "minx": minx,
        "miny": miny,
        "maxx": minx + ws * PIXEL_SIZE,
        "maxy": miny + hs * PIXEL_SIZE,
    })
    stats = pd.DataFrame({
        "image_key": table["image_key"], "w": table["w"], "h": table["h"],
        "lossy": np.isin(fmts, list(LOSSY)),
        "minx": table["minx"], "miny": table["miny"],
        "maxx": table["maxx"], "maxy": table["maxy"],
        **ref, "rmse": rmse,
    })
    return table, stats


def _write_table(table: pd.DataFrame, path: str, n_files: int) -> None:
    """Stored bytes table: several files of several row groups each, so a
    byte-sized split (8 MB maxPartitionBytes) yields one task per core."""
    os.makedirs(path)
    at = pa.Table.from_pandas(table, preserve_index=False)
    step = -(-len(table) // n_files)
    for f in range(n_files):
        part = at.slice(f * step, step)
        pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"),
                       row_group_size=max(1, step // 4), compression="zstd")


def supplier_keys(seed: int) -> np.ndarray:
    rng = rng_for(seed, "suppliers", 0)
    return np.sort(rng.choice(np.arange(1, 20_001), N_SUPPLIERS, replace=False)).astype(np.int64)


def build_image_set(path: str, seed: int, size: int) -> dict:
    """Stored bytes table + supplier table + per-image reference stats."""
    table, stats = _encode_images(seed, size, ZONE_WORLD, hot_share=0.35)
    _write_table(table, os.path.join(path, "images"), n_files=4)
    stats.to_parquet(os.path.join(path, "ref_stats.parquet"), index=False)
    sdir = os.path.join(path, "sf")
    os.makedirs(sdir)
    pd.DataFrame({"s_suppkey": supplier_keys(seed)}).to_parquet(
        os.path.join(sdir, "supplier.parquet"), index=False)
    fmt_counts = table["fmt"].value_counts().to_dict()
    return {"kind": "images", "seed": seed, "n_images": size,
            "payload_bytes": int(sum(len(b) for b in table["bytes"])),
            "fmt_counts": {k: int(v) for k, v in fmt_counts.items()}}


# ------------------------------------------------------- footprint set

def _zone_rings(rng: np.random.Generator, kind: int, cx: float, cy: float, size: float):
    sq = np.array([[-1, -1], [1, -1], [1, 1], [-1, 1]], np.float64)
    if kind == 0:  # convex blob
        ang = np.sort(rng.uniform(0, 2 * np.pi, 10))
        rad = size * rng.uniform(0.6, 1.0, 10)
        return [np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])]
    if kind == 1:  # diamond
        return [np.array([[cx, cy - size], [cx + size, cy], [cx, cy + size], [cx - size, cy]])]
    if kind == 2:  # square with a hole
        return [np.array([cx, cy]) + sq * size, np.array([cx, cy]) + sq[::-1] * (size / 3)]
    return [np.array([cx, cy]) + sq * size]  # axis-aligned square


def build_footprint_set(path: str, seed: int, size: int) -> dict:
    """Footprint rects (hot-spot skewed), ~200 zone polygons (convex
    blobs, diamonds, squares with holes) and the seeded query sequence."""
    from rsgislib_spark.kernels import geom

    ws, hs, _ = balanced_shapes(seed, size)
    minx, miny = _placement(seed, size, FP_WORLD, n_hot=8, hot_share=0.3,
                            hot_sigma=FP_WORLD * 0.01, span=float(SIZES.max()) * PIXEL_SIZE)
    fp = pd.DataFrame({
        "image_id": [f"fp_{i:07d}" for i in range(size)],
        "pt_id": np.arange(size, dtype=np.int64),
        "minx": minx, "miny": miny,
        "maxx": minx + ws * PIXEL_SIZE, "maxy": miny + hs * PIXEL_SIZE,
    })
    # integer-lattice centres, so kNN squared distances are exact
    fp["x"] = (fp["minx"] + fp["maxx"]) / 2.0
    fp["y"] = (fp["miny"] + fp["maxy"]) / 2.0
    fp.to_parquet(os.path.join(path, "footprints.parquet"), index=False)

    zrng = rng_for(seed, "zones", 0)
    n_zones = 200
    rows, ring_lists = [], []
    hot_c = np.column_stack([fp["x"], fp["y"]])[zrng.integers(0, size, n_zones // 2)]
    for z in range(n_zones):
        # half the zones sit on footprints (dense), half anywhere
        if z < n_zones // 2:
            cx, cy = hot_c[z]
        else:
            cx, cy = zrng.uniform(FP_WORLD * 0.05, FP_WORLD * 0.95, 2)
        # lattice offset .25 keeps polygon edges off the footprint lattice
        cx, cy = np.floor(cx) + 0.25, np.floor(cy) + 0.25
        rings = _zone_rings(zrng, z % 4, cx, cy, float(zrng.uniform(2_000, 12_000)))
        rings = [np.clip(r, 0.0, FP_WORLD) for r in rings]
        bb = geom.polygon_bbox(rings)
        rows.append((z, geom.polygon_to_wkb(rings), *bb))
        ring_lists.append([r.tolist() for r in rings])
    zones = pd.DataFrame(rows, columns=["zone_id", "geometry", "minx", "miny", "maxx", "maxy"])
    zones.to_parquet(os.path.join(path, "zones.parquet"), index=False)
    # the rings again as plain coordinates, for the independent reference
    with open(os.path.join(path, "zone_rings.json"), "w") as fh:
        json.dump(ring_lists, fh)
    return {"kind": "footprints", "seed": seed, "n_footprints": size, "n_zones": n_zones}


def query_sequence(seed: int, n: int, n_zones: int):
    """Seeded closed-loop query sequence, alternating ('window', zone_id)
    and ('knn', query-batch index)."""
    rng = rng_for(seed, "queries", 0)
    return [("knn", q) if q % 2 else ("window", int(rng.integers(0, n_zones))) for q in range(n)]


def knn_batch(seed: int, q: int, cx: np.ndarray, cy: np.ndarray, n: int = 64) -> pd.DataFrame:
    """``n`` query points on the odd integer lattice, each within 1000 of
    a random footprint centre (``cx``, ``cy``), so every batch needs about
    the same number of kNN ring passes."""
    rng = rng_for(seed, "queries", 1 + q)
    pick = rng.integers(0, len(cx), n)
    x = np.floor(cx[pick] / 2) * 2 + 1 + 2 * rng.integers(-500, 500, n)
    y = np.floor(cy[pick] / 2) * 2 + 1 + 2 * rng.integers(-500, 500, n)
    return pd.DataFrame({"pt_id": np.arange(n, dtype=np.int64) + 10_000_000 * (q + 1),
                         "x": np.clip(x, 1, FP_WORLD - 1), "y": np.clip(y, 1, FP_WORLD - 1)})
