"""Packed STR (Sort-Tile-Recursive) bbox tree — pure numpy.

The broadcast spatial index for the small (zone) side of spatial joins,
playing the role of the rtree/STRtree the reference requires for
``perform_spatial_join`` (``python/rsgislib/vectorutils/__init__.py:2196-2199``
errors without rtree installed).

Bulk-loaded bottom-up (classic STR packing: sort by x-center, slice into
vertical strips, sort each strip by y-center, pack nodes of fanout B).
Queries are batched and vectorized: one descend per query *level*, with
all surviving (query, node) pairs tested against node bboxes in one numpy
op. Designed to be pickled into a Spark broadcast variable.
"""

from __future__ import annotations

import numpy as np

_FANOUT = 16


class STRtree:
    def __init__(self, bboxes: np.ndarray, fanout: int = _FANOUT):
        """bboxes: (n,4) float64 (minx,miny,maxx,maxy)."""
        bboxes = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
        self.item_boxes = bboxes
        # a box with a NaN side fails every closed-interval test, so it is
        # left out of the tree: packed in, it would turn its ancestors'
        # boxes NaN and hide its siblings from every query
        live = np.flatnonzero(~np.isnan(bboxes).any(axis=1))
        n = len(live)
        self.fanout = fanout
        if n == 0:
            self.levels = []
            return
        # --- STR packing of leaf order
        cx = (bboxes[live, 0] + bboxes[live, 2]) / 2
        cy = (bboxes[live, 1] + bboxes[live, 3]) / 2
        nleaf = (n + fanout - 1) // fanout
        nstrips = int(np.ceil(np.sqrt(nleaf)))
        per_strip = nstrips * fanout
        order = np.argsort(cx, kind="stable")
        for s in range(0, n, per_strip):
            seg = order[s : s + per_strip]
            seg_sorted = seg[np.argsort(cy[seg], kind="stable")]
            order[s : s + per_strip] = seg_sorted
        self.order = live[order]  # leaf slot -> original item index

        # --- build levels bottom-up; each level: (m,4) boxes + child slices
        boxes = bboxes[self.order]
        self.levels = []  # list of (node_boxes (m,4), child_start (m,), child_end (m,))
        cur = boxes
        while len(cur) > 1:
            m = (len(cur) + fanout - 1) // fanout
            nb = np.empty((m, 4), dtype=np.float64)
            cs = np.empty(m, dtype=np.int64)
            ce = np.empty(m, dtype=np.int64)
            for i in range(m):
                a, b = i * fanout, min((i + 1) * fanout, len(cur))
                nb[i, 0] = cur[a:b, 0].min()
                nb[i, 1] = cur[a:b, 1].min()
                nb[i, 2] = cur[a:b, 2].max()
                nb[i, 3] = cur[a:b, 3].max()
                cs[i], ce[i] = a, b
            self.levels.append((nb, cs, ce))
            cur = nb
        self.levels.reverse()  # root first

    def query(self, qboxes: np.ndarray):
        """Batched bbox query.

        qboxes: (q,4). Returns (query_idx, item_idx) int64 arrays of all
        candidate pairs whose bboxes intersect (closed intervals).
        """
        qboxes = np.asarray(qboxes, dtype=np.float64).reshape(-1, 4)
        nq = len(qboxes)
        if nq == 0 or len(self.item_boxes) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        if not self.levels:  # at most one box without a NaN side
            hits = _isect(qboxes, self.item_boxes)
            qi, ii = np.nonzero(hits)
            return qi.astype(np.int64), ii.astype(np.int64)

        # frontier: pairs (query_id, node_id) at current level
        qi = np.arange(nq, dtype=np.int64)
        root_boxes = self.levels[0][0]
        hit = _isect(qboxes, root_boxes)
        fq, fn = np.nonzero(hit)
        for li in range(len(self.levels)):
            nb, cs, ce = self.levels[li]
            if li == 0:
                # fq,fn already computed against root level boxes
                pass
            # expand each (query, node) into children at next granularity
            starts, ends = cs[fn], ce[fn]
            counts = ends - starts
            if counts.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.int64)
            total = int(counts.sum())
            rep_q = np.repeat(fq, counts)
            offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
            child = np.arange(total, dtype=np.int64) - np.repeat(offs, counts) + np.repeat(starts, counts)
            if li + 1 < len(self.levels):
                child_boxes = self.levels[li + 1][0][child]
            else:
                child_boxes = self.item_boxes[self.order][child]
            ok = _isect_pair(qboxes[rep_q], child_boxes)
            fq, fn = rep_q[ok], child[ok]
        return fq, self.order[fn]


def _isect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (
        (a[:, None, 0] <= b[None, :, 2])
        & (a[:, None, 2] >= b[None, :, 0])
        & (a[:, None, 1] <= b[None, :, 3])
        & (a[:, None, 3] >= b[None, :, 1])
    )


def _isect_pair(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (
        (a[:, 0] <= b[:, 2])
        & (a[:, 2] >= b[:, 0])
        & (a[:, 1] <= b[:, 3])
        & (a[:, 3] >= b[:, 1])
    )
