"""Independent numpy references the benchmark checks results against.

Nothing here calls ``rsgislib_spark``: zone rectangles are re-derived
from the supplier keys by the documented formula, the window-join
predicate is a from-scratch rect × polygon-with-holes test, and kNN is
brute force over every point.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: Tile edge the zonal pipeline counts tiles with (pipeline.TILE).
ZONAL_TILE = 96


# ------------------------------------------------------------------ zonal

def supplier_zone_rects(s: np.ndarray) -> np.ndarray:
    """(n, 4) zone rectangles for supplier keys (GEO_ZONES derivation)."""
    s = s.astype(np.int64)
    x0 = np.where(s % 10 == 0, 45000 + (s % 7) * 100, (s * 7919) % 90000) + 0.25
    y0 = np.where(s % 10 == 0, 45000 + ((s * 3) % 7) * 100, (s * 104729) % 90000) + 0.25
    return np.column_stack([x0, y0, x0 + 2000 + (s % 12) * 1500, y0 + 2000 + ((s * 5) % 12) * 1500])


def zonal_expected(stats: pd.DataFrame, zone_ids: np.ndarray) -> pd.DataFrame:
    """Per-zone rollup of per-image stats over the bbox-overlap join.

    ``stats`` holds one row per image: footprint, w, h, the pixel stats of
    the generated (pre-encode) array, and for lossy payloads the decode
    error (``max_err``, ``rmse``) from which per-zone tolerances follow."""
    rects = supplier_zone_rects(zone_ids)
    b = stats[["minx", "miny", "maxx", "maxy"]].to_numpy()
    hit = ((b[:, None, 0] <= rects[None, :, 2]) & (b[:, None, 2] >= rects[None, :, 0])
           & (b[:, None, 1] <= rects[None, :, 3]) & (b[:, None, 3] >= rects[None, :, 1]))
    ii, zz = np.nonzero(hit)
    w = stats["w"].to_numpy(np.int64)
    h = stats["h"].to_numpy(np.int64)
    cy = np.minimum(h, 2) * 2 + np.maximum(h - 2, 0) * 3
    cx = np.minimum(w, 2) * 2 + np.maximum(w - 2, 0) * 3
    lossy = stats["lossy"].to_numpy(bool)
    per = pd.DataFrame({
        "zone_id": zone_ids[zz],
        "n_tiles": (-(-w // ZONAL_TILE) * -(-h // ZONAL_TILE))[ii],
        "n_px": (w * h)[ii],
        "sum_v": stats["sum_v"].to_numpy()[ii],
        "min_v": stats["min_v"].to_numpy()[ii],
        "max_v": stats["max_v"].to_numpy()[ii],
        "focal_sum": stats["focal_sum"].to_numpy()[ii],
        "focal_cnt": (cy * cx)[ii],
        "n_lossy": lossy[ii].astype(np.int64),
        "max_err": stats["max_err"].to_numpy()[ii],
        "err_px": (stats["rmse"].to_numpy() * w * h)[ii],
    })
    g = per.groupby("zone_id")
    out = g.agg(n_images=("n_px", "size"), n_tiles=("n_tiles", "sum"), n_px=("n_px", "sum"),
                sum_v=("sum_v", "sum"), min_v=("min_v", "min"), max_v=("max_v", "max"),
                focal_sum=("focal_sum", "sum"), focal_cnt=("focal_cnt", "sum"),
                n_lossy=("n_lossy", "sum"), max_err=("max_err", "max"),
                err_px=("err_px", "sum")).reset_index()
    out["mean_focal"] = out["focal_sum"] / out["focal_cnt"]
    return out


def zonal_mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Count columns must match exactly; pixel stats exactly for all-
    lossless zones and within the decode-error bounds otherwise (sum:
    Σ rmse·n_px by Cauchy–Schwarz; min/max: the largest pixel error; focal
    mean: 9 windows per pixel)."""
    errs = []
    m = exp.merge(got, on="zone_id", how="outer", suffixes=("", "_got"), indicator=True)
    if (m["_merge"] != "both").any():
        errs.append(f"zone sets differ ({int((m['_merge'] != 'both').sum())} zones)")
        m = m[m["_merge"] == "both"]
    for c in ("n_images", "n_tiles", "n_px"):
        bad = m[c].to_numpy(np.int64) != m[c + "_got"].to_numpy(np.int64)
        if bad.any():
            errs.append(f"{c} differs in {int(bad.sum())} zones")
    tol_sum = np.ceil(m["err_px"].to_numpy())
    tol_px = m["max_err"].to_numpy(np.float64)
    tol_focal = 9.0 * m["err_px"].to_numpy() / m["focal_cnt"].to_numpy() + 1e-6
    for c, tol in (("sum_v", tol_sum), ("min_v", tol_px), ("max_v", tol_px),
                   ("mean_focal", tol_focal)):
        d = np.abs(m[c].to_numpy(np.float64) - m[c + "_got"].to_numpy(np.float64))
        # all-lossless zones get no slack beyond the 6-digit rounding
        lim = np.where(m["n_lossy"].to_numpy() > 0, tol, 1e-6 if c == "mean_focal" else 0.0)
        bad = d > lim + 1e-9
        if bad.any():
            errs.append(f"{c} outside bound in {int(bad.sum())} zones")
    return errs


# --------------------------------------------------------- window joins

def _orient(ax, ay, bx, by, cx, cy):
    return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


def _segments_meet(p1, p2, q1, q2) -> np.ndarray:
    """Closed-segment intersection, broadcast over leading axes; each
    argument is a (..., 2) array."""
    d1 = _orient(q1[..., 0], q1[..., 1], q2[..., 0], q2[..., 1], p1[..., 0], p1[..., 1])
    d2 = _orient(q1[..., 0], q1[..., 1], q2[..., 0], q2[..., 1], p2[..., 0], p2[..., 1])
    d3 = _orient(p1[..., 0], p1[..., 1], p2[..., 0], p2[..., 1], q1[..., 0], q1[..., 1])
    d4 = _orient(p1[..., 0], p1[..., 1], p2[..., 0], p2[..., 1], q2[..., 0], q2[..., 1])
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)

    def on(a1, a2, p, d):
        return (d == 0) & (np.minimum(a1[..., 0], a2[..., 0]) <= p[..., 0]) & (
            p[..., 0] <= np.maximum(a1[..., 0], a2[..., 0])) & (
            np.minimum(a1[..., 1], a2[..., 1]) <= p[..., 1]) & (
            p[..., 1] <= np.maximum(a1[..., 1], a2[..., 1]))

    return proper | on(q1, q2, p1, d1) | on(q1, q2, p2, d2) | on(p1, p2, q1, d3) | on(p1, p2, q2, d4)


def _inside(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd point-in-polygon over every ring (holes included)."""
    inside = np.zeros(len(px), bool)
    for r in rings:
        dy = np.roll(r[:, 1], -1) - r[:, 1]
        # horizontal edges never cross the ray; keep their slope finite
        dy = np.where(dy == 0, 1.0, dy)
        x0, y0 = r[:, 0], r[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        cross = ((y0[None] > py[:, None]) != (y1[None] > py[:, None])) & (
            px[:, None] < (x1 - x0)[None] * (py[:, None] - y0[None]) / dy[None] + x0[None])
        inside ^= (cross.sum(axis=1) % 2).astype(bool)
    return inside


def rects_meeting_polygon(rects: np.ndarray, rings) -> np.ndarray:
    """Exact closed rect × polygon-with-holes intersection test.

    A rect meets the polygon iff an outer vertex lies in the rect, a
    rect corner lies in the polygon, or some rect edge meets some ring
    edge; otherwise the rect lies wholly outside or wholly inside a
    hole."""
    outer = rings[0]
    bb = np.array([outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max()])
    hit = np.zeros(len(rects), bool)
    cand = np.flatnonzero((rects[:, 0] <= bb[2]) & (rects[:, 2] >= bb[0])
                          & (rects[:, 1] <= bb[3]) & (rects[:, 3] >= bb[1]))
    if not len(cand):
        return hit
    r = rects[cand]
    vin = ((outer[None, :, 0] >= r[:, None, 0]) & (outer[None, :, 0] <= r[:, None, 2])
           & (outer[None, :, 1] >= r[:, None, 1]) & (outer[None, :, 1] <= r[:, None, 3])).any(axis=1)
    cin = _inside(r[:, 0], r[:, 1], rings)
    corners = np.stack([r[:, [0, 1]], r[:, [2, 1]], r[:, [2, 3]], r[:, [0, 3]]], axis=1)
    e1, e2 = corners, np.roll(corners, -1, axis=1)  # (n, 4, 2)
    meet = np.zeros(len(r), bool)
    for ring in rings:
        s1, s2 = ring, np.roll(ring, -1, axis=0)  # (m, 2)
        meet |= _segments_meet(e1[:, :, None], e2[:, :, None], s1[None, None], s2[None, None]).any(axis=(1, 2))
    hit[cand] = vin | cin | meet
    return hit


# -------------------------------------------------------------------- kNN

def knn_expected(qx, qy, qid, px, py, pid, k: int) -> pd.DataFrame:
    """Brute-force k nearest (d², id)-ordered neighbours per query."""
    rows = []
    for x, y, q in zip(qx, qy, qid):
        d2 = (px - x) ** 2 + (py - y) ** 2
        # every point at or below the k-th distance, so ties order by id
        full = np.flatnonzero(d2 <= np.partition(d2, k - 1)[k - 1])
        order = full[np.lexsort((pid[full], d2[full]))]
        for rank, j in enumerate(order[:k], 1):
            rows.append((q, pid[j], d2[j], rank))
    return pd.DataFrame(rows, columns=["query_id", "nbr_id", "d2", "rank"])
