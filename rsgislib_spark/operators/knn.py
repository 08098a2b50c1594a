"""kNN operators.

 - :func:`knn_apply` — feature-space kNN extrapolation, reference
   ``apply_rat_knn`` (binding ``python/src/rastergis.cpp:2095-2126``, impl
   ``src/rastergis/RSGISRATKNN.cpp:32-228``): for each apply row, the k
   nearest TRAINING rows under a distance metric, within ``dist_thres``,
   summarized (mean/median/mode/min/max/stddev). Defaults k=12,
   mahalanobis, median (``rastergis.cpp:2106-2109``).
   Metrics enum: euclidean/manhattan/mahalanobis/minkowski/chebyshev
   (``python/rsgislib/__init__.py:160-166``).

 - :func:`closest_point_join` — spatial k=1 join, reference
   ``match_closest_vec_pts`` (``vectorutils/__init__.py:3359-3473``):
   :func:`knn_points_bucketed` with k=1, optional tolerance. The
   reference raises on ties; we break ties deterministically by smallest
   match id (documented deviation, SURVEY §2.3).

 - :func:`knn_points_bucketed` / :func:`knn_features_bucketed` — the
   SCALE path (the north rule's "kNN neighbor lookup over cell-bucketed
   candidates") in 2 or d dimensions: candidates = a query's ring of
   grid cells, exact refine + rank ``<= k`` by (d2, nbr_id). ONE numpy
   ring escalation (:func:`_partition_top_k`) runs at every scale: in one
   Python pass over the points for a batch the driver can merge, in a
   two-pass tile cogroup (:func:`_tile_top_k`) for any other. The one
   pass reads a point table served from Spark's cache as its prepared
   copy (:func:`_prepared`): the points packed once, in cell key order,
   into a few binary rows per partition that persist in Spark's cache
   while their source's cache instance lives.

 - :func:`radius_count_bucketed` — radius count on a ring-1 cell
   equi-join (cell ≥ r ⇒ ring-1 covers the disk), replacing the O(N²)
   theta-join.

Physical shape: each point operator has one path. The spatial ones
(``closest_point_join`` and the ``*_bucketed`` operators) bound a
query's candidates by local density and never broadcast the point
table. ``knn_apply`` broadcasts its training side, the labelled sample
set (small by construction), because its four non-euclidean metrics
have no cell bound; it walks each batch's distance matrix in blocks of
at most ``KNN_ELEM_BUDGET`` elements.
"""

from __future__ import annotations

import functools
import math
import threading
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import BinaryType, DoubleType, IntegerType, LongType, StructField, StructType

from rsgislib_spark.qcommon import GRID_DIM, broadcastable, fenced_small_pdf

METRICS = ("euclidean", "manhattan", "chebyshev", "minkowski", "mahalanobis")
SUMMARIES = ("mean", "median", "mode", "min", "max", "stddev")
#: Driver fence for the broadcast side (fenced_small_pdf) — patchable in tests.
MAX_BROADCAST_TRAIN = 5_000_000

#: Most candidate rows a one-pass kNN batch returns to the driver: a
#: batch runs the pass only when its queries × k × the point table's
#: partitions fit; past it the tile cogroup takes the whole batch
#: (patchable in tests).
MAX_DRIVER_CANDIDATES = 2_000_000
#: Most (query, point) candidate pairs one kernel call holds at once: its
#: candidate ranges and dense blocks are walked in windows of this many
#: elements, so a hot cell costs time, not memory; ``knn_apply``'s
#: (query, train, feature) blocks too (read when the op is built;
#: patchable in tests).
KNN_ELEM_BUDGET = 1 << 19


def _ring_plan(pmin, pmax, qmin, qmax, n_points: int, k: int, cell: float, dist_thres: float):
    """(first ring, forced last ring) of a bucketed kNN in d = len(pmin)
    dimensions, from the per-dimension point and query extents (None
    reads 0). The forced last ring covers every point, or the threshold
    disk when that is smaller."""
    pmin, pmax, qmin, qmax = ([float(v or 0.0) for v in vs] for vs in (pmin, pmax, qmin, qmax))
    d = len(pmin)
    span = max(b - a for a, b in zip(pmin, pmax))
    # span of the COMBINED query+point extent: a query outside the point
    # bbox must still reach every point cell on the forced final ring, so
    # max_ring is derived from both tables, not the points alone
    comb_span = max(
        max(b, qb) - min(a, qa) for a, b, qa, qb in zip(pmin, pmax, qmin, qmax)
    )
    max_ring = max(1, int(math.ceil(comb_span / cell)) + 1)
    if np.isfinite(dist_thres):
        # any point outside ring R is > R·cell away: past this ring every
        # point is beyond the threshold
        max_ring = min(max_ring, max(1, int(math.ceil(dist_thres / cell))))
    # density-informed initial ring: radius of the d-ball expected to hold
    # k points (V_d = π^{d/2} / Γ(d/2 + 1)) — self-corrects a badly
    # undersized cell choice (e.g. sparse data) without paying many
    # escalation rounds
    vol = max(span, cell) ** d
    density = n_points / vol if vol > 0 else 0.0
    ring = 1
    if density > 0:
        ball = math.pi ** (d / 2.0) / math.gamma(d / 2.0 + 1.0)
        r_expect = ((k + 1) / (ball * density)) ** (1.0 / d)
        ring = max(1, int(math.ceil(r_expect / cell)))
    return min(ring, max_ring), max_ring


def _cell_spans(pmin, pmax, cell: float) -> list:
    """(lowest cell, cell count) of each leading dimension a packed cell
    key holds, from the point extent (None reads 0): at most 3, while
    the dimension's cells are below 2^53 in magnitude (exact in a double
    and in int64) and the product of the counts stays below 2^62. Keying
    fewer dimensions stays exact: a point outside ring R in any keyed
    dimension is more than R·cell away."""
    spans = []
    for a, b in zip(pmin[:3], pmax[:3]):
        a, b = float(a or 0.0) / cell, float(b or 0.0) / cell
        if not (abs(a) < 2.0**53 and abs(b) < 2.0**53):
            break
        w = math.floor(b) - math.floor(a) + 1
        if math.prod(s[1] for s in spans) * w >= 1 << 62:
            break
        spans.append((math.floor(a), w))
    return spans


def _rel_cells(cols, spans, cell: float) -> list:
    """Cells of coordinate columns relative to each keyed dimension's
    lowest cell, clipped to one cell beyond the span: a ring around a
    clipped cell reaches every in-span cell the true ring does."""
    return [
        np.clip(np.floor(c / cell), a - 1, a + w).astype(np.int64) - a for c, (a, w) in zip(cols, spans)
    ]


def _cell_keys(pcols, spans, cell: float):
    """(cell key, key strides) of points over the keyed dimensions
    ``spans`` (:func:`_cell_spans`): the cells relative to each
    dimension's lowest cell, packed so that key order is the cells'
    lexicographic order."""
    width = [w for _, w in spans]
    stride = [math.prod(width[j + 1 :]) for j in range(len(spans))]
    keys = np.zeros(len(pcols[0]), np.int64)
    for c, (lo, _), s in zip(pcols, spans, stride):
        rel = np.floor(c / cell).astype(np.int64)
        rel -= lo
        rel *= s
        keys += rel
    return keys, stride


def _box_cells(lo: list, hi: list, stride: list, n: int):
    """Every cell of each of n rows' boxes [lo[j], hi[j]] over the dims j
    as (row, Σ index_j · stride[j]), rows in order."""
    cnt = np.ones(n, np.int64)
    for a, b in zip(lo, hi):
        cnt *= np.maximum(b - a + 1, 0)
    seg = np.repeat(np.arange(n), cnt)
    t = np.arange(len(seg)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    key = np.zeros(len(seg), np.int64)
    for a, b, s in zip(lo, hi, stride):
        span = (b - a + 1)[seg]
        key += (a[seg] + t % span) * s
        t //= span
    return seg, key


def _resolved(cnt, kth_d2, k: int, ring: float, cell: float):
    """A query's top-k is final after a round of ``ring`` when it has k
    candidates and the k-th lies within the ring's coverage guarantee
    (any point outside ring R is > R·cell away)."""
    return (cnt >= k) & (kth_d2 <= float(ring * cell) ** 2)


def _top_k_rows(q: np.ndarray, j: np.ndarray, d2: np.ndarray, pid: np.ndarray, k: int):
    """Exact top-k over candidate rows (query position ``q``, point
    position ``j``, ``d2``): the first k per query by (d2, pid[j]),
    sorted by (q, d2, pid[j])."""
    if not len(q):
        return q, j, d2
    order = np.lexsort((pid[j], d2, q))
    q, j, d2 = q[order], j[order], d2[order]
    pos = np.arange(len(q))
    start = np.maximum.accumulate(np.where(np.r_[True, q[1:] != q[:-1]], pos, 0))
    keep = pos - start < k
    return q[keep], j[keep], d2[keep]


def _partition_top_k(
    qid: np.ndarray, qcols: list, pid: np.ndarray, pcols: list,
    k: int, cell: float, dist_thres: float, exclude_self: bool, budget: int,
):
    """Exact top-k of every query over one set of points in d dimensions
    (per-dimension coordinate arrays) — THE ring escalation of the
    bucketed kNN, planned by :func:`_ring_plan` on its inputs' extent.

    Selection rule: any point outside ring R is more than R·cell from the
    query, so a query is resolved once it has k candidates and its k-th
    is within R·cell; the rest re-run with a 4× ring, and the ring that
    covers every point (or the threshold disk) resolves them all. The
    points are sorted by a cell key packed over the first m ≤ 3
    dimensions (:func:`_cell_spans`), so a ring is (2r+1)^(m−1)
    ``searchsorted`` key ranges per query, walked ``budget`` elements at
    a time over groups of queries whose ranges fit the budget too. A
    group whose ranges cover more than 1/8 of its (query, point) pairs
    scores dense query × point blocks instead, each row cut to its k-th
    d2 (ties kept) before the exact rank; every point is a candidate
    there, so the group is final. d2 is ``0.0 + Σ diffⱼ²`` in column
    order, the Spark expression's. Returns (query position, point
    position, d2) rows, each query's in (d2, pid) order."""
    none = (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))
    nq, n = len(qcols[0]), len(pcols[0])
    if not n or not nq:
        return none
    pmin, pmax = [c.min() for c in pcols], [c.max() for c in pcols]
    ring, max_ring = _ring_plan(
        pmin, pmax, [c.min() for c in qcols], [c.max() for c in qcols], n, k, cell, dist_thres
    )
    spans = _cell_spans(pmin, pmax, cell)
    width = [w for _, w in spans]
    keys, stride = _cell_keys(pcols, spans, cell)
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    qc = _rel_cells(qcols, spans, cell)
    thres2 = dist_thres * dist_thres if np.isfinite(dist_thres) else None

    def refine(q, j, top):
        # d2 of candidate pairs, filtered, merged into the running top-k
        d2 = 0.0
        for qv, pv in zip(qcols, pcols):
            diff = qv[q] - pv[j]
            d2 = d2 + diff * diff
        keep = np.ones(d2.shape, bool)
        if exclude_self:
            keep &= qid[q] != pid[j]
        if thres2 is not None:
            keep &= d2 < thres2
        if d2.ndim == 2 and d2.shape[1] > k:  # dense block: cut each row at its k-th
            keep &= d2 <= np.partition(np.where(keep, d2, np.inf), k - 1, axis=1)[:, k - 1 : k]
        q, j = np.broadcast_arrays(q, j)
        new = (q[keep], j[keep], d2[keep])
        return _top_k_rows(*(np.concatenate(ab) for ab in zip(top, new)), pid, k)

    def walk(seg_q, lo, cnt):
        # candidate ranges (query seg_q[s], sorted points lo[s] .. lo[s] + cnt[s])
        cum = np.r_[0, np.cumsum(cnt)]
        top = none
        for s in range(0, int(cum[-1]), budget):
            el = np.arange(s, min(s + budget, cum[-1]))
            seg = np.searchsorted(cum, el, "right") - 1
            top = refine(seg_q[seg], order[lo[seg] + el - cum[seg]], top)
        return top

    def dense(qs):
        top, pb = none, min(n, budget)
        for g in np.split(qs, range(budget // pb, len(qs), budget // pb)):
            for b in range(0, n, pb):
                top = refine(g[:, None], np.arange(b, min(b + pb, n))[None, :], top)
        return top

    if not spans:  # no dimension can be keyed: every point is a candidate
        return dense(np.arange(nq))
    todo, outs = np.arange(nq), []
    while todo.size:
        ring = min(ring, max_ring)
        r = min(ring, max(width) + 1)
        per_q = math.prod(min(2 * r + 1, w) for w in width[:-1])  # most ranges per query
        step = max(1, budget // per_q)  # groups of queries whose ranges fit the budget
        groups = np.split(todo, range(step, len(todo), step)) if 8 * per_q <= n else []
        rows, wide, done = [], [todo[:0]] if groups else [todo], np.zeros(nq, bool)
        for g in groups:
            lo = [np.maximum(c[g] - r, 0) for c in qc]
            hi = [np.minimum(c[g] + r, w - 1) for c, w in zip(qc, width)]
            seg, base = _box_cells(lo[:-1], hi[:-1], stride, len(g))
            klo = np.searchsorted(keys, base + lo[-1][seg], "left")
            span = np.maximum(np.searchsorted(keys, base + hi[-1][seg], "right") - klo, 0)
            if 8 * int(span.sum()) <= len(g) * n:
                rows.append(walk(g[seg], klo, span))
            else:
                wide.append(g)  # its ranges cover most points: score them all
        wide = np.concatenate(wide)
        if wide.size:
            rows.append(dense(wide))
            done[wide] = True
        q, j, d2 = (np.concatenate(a) for a in zip(*rows))
        if ring >= max_ring:
            outs.append((q, j, d2))
            break
        kth = np.full(nq, -np.inf)
        np.maximum.at(kth, q, d2)
        ok = done[todo] | _resolved(np.bincount(q, minlength=nq)[todo], kth[todo], k, ring, cell)
        keep = np.isin(q, todo[ok])
        outs.append((q[keep], j[keep], d2[keep]))
        todo = todo[~ok]
        ring *= 4
    return tuple(np.concatenate(a) for a in zip(*outs))


#: Largest prepared row in bytes: a partition's packed points are split
#: into rows of at most this many (read when a copy is built; patchable
#: in tests).
PREPARED_ROW_BYTES = 1 << 24
#: numpy type of the ids a prepared row packs, by Spark type name: any
#: other id type keeps the row input step.
_PACKED_IDS = {"byte": "i1", "short": "i2", "integer": "i4", "long": "i8", "float": "f4", "double": "f8"}
_PACKED = StructType([StructField("_pts", BinaryType()), StructField("_null", BinaryType())])


@dataclass
class _Prepared:
    """A cached point side's prepared copy: ``df`` persists its ``rows``
    packed rows, whose ids are numpy ``ids``; ``plan`` is the point
    side's plan with cached data and ``source`` the ids of its leaves'
    cached buffers, the cache instance the copy was built from."""

    sc: object
    plan: object
    source: tuple
    df: DataFrame
    rows: int
    ids: str


_prepared_copies: list = []
_prepared_lock = threading.Lock()


def _cache_source(t: DataFrame):
    """(plan with cached data, ids of the leaves' cached buffers) when
    every leaf of ``t``'s plan is served from Spark's cache, else None."""
    plan = t._jdf.queryExecution().withCachedData()
    leaves = plan.collectLeaves()
    source = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "InMemoryRelation":
            return None
        source.append(leaf.cacheBuilder().cachedColumnBuffers().id())
    return plan, tuple(source)


def _prepared(t: DataFrame, d: int, cell: float) -> _Prepared | None:
    """The prepared copy of the point side ``t`` (nbr_id, t0..), built on
    first use, or None when ``t`` is not served from Spark's cache or its
    id is not a fixed-width number (those keep the row input step).

    Lifetime: a copy serves only the cache instance it was built from (a
    plan equal to ``t``'s over the same cached buffers). Each call first
    unpersists every copy whose source buffers are no longer cached (the
    source was uncached or re-cached) or whose session stopped. The copy
    keeps the cell key order of the first call's ``cell``; another cell
    reuses it (the kernel sorts its input whatever the order)."""
    sc = t.sparkSession.sparkContext
    with _prepared_lock:
        live = sc._jsc.getPersistentRDDs() if _prepared_copies else {}
        for e in list(_prepared_copies):
            if e.sc is not sc or not all(i in live for i in e.source):
                _prepared_copies.remove(e)
                if e.sc is sc:
                    e.df.unpersist()
        ids = _PACKED_IDS.get(t.schema["nbr_id"].dataType.typeName())
        cached = _cache_source(t) if ids else None
        if cached is None:
            return None
        plan, source = cached
        for e in _prepared_copies:
            if e.source == source and e.plan.sameResult(plan):
                return e
        pack = functools.partial(_pack_points, d=d, cell=cell, row_bytes=PREPARED_ROW_BYTES, source=source)
        df = t.mapInArrow(pack, _PACKED).persist()
        # one job fills the cache and counts the rows (a count takes three)
        e = _Prepared(sc, plan, source, df, len(df.select(F.lit(1)).collect()), ids)
        _prepared_copies.append(e)
        return e


def _pack_points(batches, d: int, cell: float, row_bytes: int, source: tuple):
    """The prepare step over one partition of (nbr_id, t0..): its points
    in the kernel's cell key order (:func:`_cell_keys` over the
    partition's extent), each row of at most ``row_bytes`` holding
    ``_pts`` = the d coordinate arrays (float64) then the id array,
    contiguous and padded to 8 bytes, and ``_null`` = the id null mask
    (a byte per point), or null when no id in the row is null.

    ``source`` is not read: it puts the source's cache instance in the
    pickled function, so the prepared plan of another instance never
    equals this one in Spark's cache manager."""
    import pyarrow as pa

    parts = [b for b in batches if b.num_rows]
    if not parts:  # an empty partition yields nothing
        return
    b = pa.Table.from_batches(parts).combine_chunks().to_batches()[0]
    ids = b.column("nbr_id")
    pcols = [b.column(f"t{j}").to_numpy() for j in range(d)]
    keys, _ = _cell_keys(pcols, _cell_spans([c.min() for c in pcols], [c.max() for c in pcols], cell), cell)
    order = np.argsort(keys, kind="stable")
    null = ids.is_null().to_numpy(zero_copy_only=False)[order] if ids.null_count else None
    pid = ids.fill_null(0).to_numpy()[order]
    width = 8 * d + pid.itemsize
    per = max(1, row_bytes // width)
    for lo in range(0, len(order), per):
        at = order[lo : lo + per]
        mask = None if null is None else null[lo : lo + per]
        pts = b"".join([*(c[at].tobytes() for c in pcols), pid[lo : lo + per].tobytes()])
        mask = mask.tobytes() if mask is not None and mask.any() else None
        yield pa.RecordBatch.from_arrays(
            [pa.array([pts + bytes(-len(pts) % 8)]), pa.array([mask], pa.binary())], names=["_pts", "_null"]
        )


def _unpack_points(b, d: int, ids: str):
    """(pid, pcols, id null mask or None) of each prepared row of an
    Arrow batch, as zero-copy views of the ``_pts`` buffer."""
    from rsgislib_spark.kernels.codecs import arrow_batch_cols

    (views,) = arrow_batch_cols(b, "_pts")
    for pts, null in zip(views, b.column("_null").to_pylist()):
        n = len(pts) // (8 * d + np.dtype(ids).itemsize)
        pcols = [np.frombuffer(pts, np.float64, n, 8 * n * j) for j in range(d)]
        yield np.frombuffer(pts, ids, n, 8 * n * d), pcols, None if null is None else np.frombuffer(null, bool)


def _local_top_k(
    batch: pd.DataFrame, t: DataFrame, d: int, k: int, cell: float, dist_thres: float,
    exclude_self: bool,
) -> pd.DataFrame | None:
    """A query batch's exact kNN in one Python pass over the points: a
    ``mapInArrow`` carries the batch (query_id, q0..) in its closure and
    returns the local top-k (:func:`_partition_top_k`) of each set of
    points it reads; the driver merges them with :func:`_top_k_rows`.
    Exact, because the global top-k of a query is the top-k of the union
    of its local top-k lists.

    The input step, by the point side ``t`` (nbr_id, t0..): a cached one
    is read as its prepared copy (:func:`_prepared`), a few packed rows
    per partition, each a set; any other as its rows, each partition a
    set. Returns (query_id, nbr_id, d2, rank), or None, running no pass,
    when the batch's queries × k × the sets (prepared rows, or point
    partitions) exceed ``MAX_DRIVER_CANDIDATES``."""
    import pyarrow as pa

    from rsgislib_spark.kernels.codecs import arrow_batch_cols

    qid = batch["query_id"].to_numpy()
    qcols = [batch[f"q{j}"].to_numpy(np.float64) for j in range(d)]
    budget = KNN_ELEM_BUDGET
    dist = StructField("d2", DoubleType())
    schema = StructType([StructField("_q", LongType()), t.schema["nbr_id"], dist])

    def top(pid, pcols, nbr):
        # one set's local top-k, its ids taken by position through nbr
        q, j, d2 = _partition_top_k(qid, qcols, pid, pcols, k, cell, dist_thres, exclude_self, budget)
        return pa.RecordBatch.from_arrays([pa.array(q), nbr(j), pa.array(d2)], names=["_q", "nbr_id", "d2"])

    prep = _prepared(t, d, cell)
    if prep is None:

        def rows(it):
            parts = [b for b in it if b.num_rows]
            if not parts:  # an empty partition yields nothing
                return
            b = pa.Table.from_batches(parts).combine_chunks().to_batches()[0]
            pid, *pcols = arrow_batch_cols(b, "nbr_id", *[f"t{j}" for j in range(d)])
            yield top(np.asarray(pid), pcols, lambda j: b.column("nbr_id").take(pa.array(j)))

        local = t.mapInArrow(rows, schema)
        # each partition returns at most k rows per query; the partition
        # count comes from the plan the collect then reuses
        n_sets = local._jdf.queryExecution().executedPlan().execute().getNumPartitions()
    else:
        ids = prep.ids

        def packed(it):
            for b in it:
                for pid, pcols, null in _unpack_points(b, d, ids):
                    # a null id ranks as NaN, as the row input reads it
                    key = pid if null is None else np.where(null, np.nan, pid)
                    yield top(key, pcols, lambda j: pa.array(pid[j], mask=None if null is None else null[j]))

        local, n_sets = prep.df.mapInArrow(packed, schema), prep.rows
    if len(batch) * k * n_sets > MAX_DRIVER_CANDIDATES:
        return None
    got = local.toPandas()
    nbr = got["nbr_id"].to_numpy()
    q, j, d2 = _top_k_rows(got["_q"].to_numpy(), np.arange(len(got)), got["d2"].to_numpy(), nbr, k)
    rank = np.arange(len(q)) - np.searchsorted(q, q) + 1  # q is sorted
    return pd.DataFrame({"query_id": qid[q], "nbr_id": nbr[j], "d2": d2, "rank": rank.astype(np.int32)})


def _tile_plan(pmin, pmax, n_points: int, k: int, cell: float, dist_thres: float, par: int):
    """(halo H, keyed spans, tile size in cells, tile count) of the tile
    cogroup, from the point extent: H is :func:`_ring_plan`'s first
    ring, and the keyed dimensions (:func:`_cell_spans`) are cut into
    tiles of T ≥ H cells, about 4·``par`` of them."""
    halo, _ = _ring_plan(pmin, pmax, pmin, pmax, n_points, k, cell, dist_thres)
    spans = _cell_spans(pmin, pmax, cell)
    per_dim = math.ceil((4 * par) ** (1.0 / len(spans))) if spans else 1
    size = [max(halo, -(-w // per_dim)) for _, w in spans]
    return halo, spans, size, [-(-w // s) for (_, w), s in zip(spans, size)]


def _tile_top_k(
    q0: DataFrame, t: DataFrame, d: int, k: int, cell: float, dist_thres: float,
    exclude_self: bool,
) -> DataFrame:
    """A query batch's exact kNN as a two-pass tile cogroup: two Python
    passes of :func:`_partition_top_k` in one Spark DAG.

    - *Sizing*: one job for the points' extent and count feeds
      :func:`_tile_plan`. Each point goes to its own tile and every
      neighbour tile within H cells (integer cell arithmetic, at most 3^m
      copies), each query to its own tile (clamped into the tile range):
      a tile holds every point within ring H of its queries.
    - *Pass 1* runs the kernel per tile. A query is final when it has k
      rows with the k-th within H·cell, or when ``dist_thres`` ≤ H·cell;
      its rows go to its own tile. A straggler leaves as one row per point
      tile within its bound: its k-th distance plus one cell (every tile
      with fewer than k rows), clipped by ``dist_thres``.
    - *Pass 2* cogroups the points, keyed by their own tile only, with
      those rows: final rows pass through, stragglers run the kernel over
      the tile's points, and a window ranks the tiles' rows by (d2, nbr_id).

    Both cogroup inputs are hash-partitioned on the tile into an explicit
    ``defaultParallelism`` partitions (one wave of Python tasks); left to
    AQE, the shuffles coalesced into one or two tasks."""
    from rsgislib_spark.kernels.codecs import arrow_batch_cols

    qn, tn = [f"q{j}" for j in range(d)], [f"t{j}" for j in range(d)]
    ext = t.agg(*[F.min(c) for c in tn], *[F.max(c) for c in tn], F.count(F.lit(1))).first()
    par = q0.sparkSession.sparkContext.defaultParallelism
    halo, spans, size, ntile = _tile_plan(ext[:d], ext[d : 2 * d], ext[2 * d], k, cell, dist_thres, par)
    # (lowest cell, cells, tile size, tiles, key stride) per keyed dimension
    plan = [(*sp, size[j], ntile[j], math.prod(ntile[j + 1 :])) for j, sp in enumerate(spans)]
    reach = halo if math.prod(ntile) > 1 else math.inf  # one tile holds every point
    budget = KNN_ELEM_BUDGET

    cells = t.selectExpr("*", *[f"FLOOR(t{j} / {cell!r}D) - {p[0]} AS _c{j}" for j, p in enumerate(plan)])
    near = cells
    for j, (lo, w, s, nt, st) in enumerate(plan):  # own tile and the neighbour tiles within the halo
        near = near.selectExpr("*", f"explode(array(-1, 0, 1)) AS _o{j}").where(
            f"_c{j} DIV {s} + _o{j} BETWEEN 0 AND {nt - 1}"
            f" AND _c{j} - (_c{j} DIV {s} + _o{j}) * {s} BETWEEN {-halo} AND {s - 1 + halo}"
        )
    tiles = " + ".join([f"(_c{j} DIV {p[2]} + _o{j}) * {p[-1]}" for j, p in enumerate(plan)] or ["0L"])
    own = " + ".join([f"_c{j} DIV {p[2]} * {p[-1]}" for j, p in enumerate(plan)] or ["0L"])
    qtile = " + ".join([  # the query's cell clipped to one beyond the span, its tile clamped
        f"LEAST(GREATEST((FLOOR(LEAST(GREATEST(q{j} / {cell!r}D, {lo - 1}D), {lo + w}D)) - {lo})"
        f" DIV {s}, 0), {nt - 1}) * {st}"
        for j, (lo, w, s, nt, st) in enumerate(plan)
    ] or ["0L"])
    routed = StructType([
        StructField("tile", LongType()), q0.schema["query_id"],
        StructField("nbr_id", t.schema["nbr_id"].dataType), StructField("d2", DoubleType()),
        *[StructField(c, DoubleType()) for c in qn],
    ])

    def kernel(qt, pts):
        qid, *qcols = arrow_batch_cols(qt, "query_id", *qn)
        pid, *pcols = arrow_batch_cols(pts, "nbr_id", *tn)
        q, j, d2 = _partition_top_k(
            np.asarray(qid), qcols, np.asarray(pid), pcols, k, cell, dist_thres, exclude_self, budget
        )
        return qcols, q, j, d2

    def pass1(pts, qt):
        import pyarrow as pa

        qt, pts = qt.combine_chunks(), pts.combine_chunks()
        qcols, q, j, d2 = kernel(qt, pts)
        cnt, kth = np.bincount(q, minlength=qt.num_rows), np.full(qt.num_rows, -np.inf)
        np.maximum.at(kth, q, d2)
        final = _resolved(cnt, kth, k, reach, cell) | (dist_thres <= reach * cell)
        late, keep = np.flatnonzero(~final), final[q]
        # a straggler's bound in cells (its k-th distance or dist_thres, plus
        # one), then every point tile it reaches
        bound = np.where(cnt[late] >= k, np.floor(np.sqrt(np.maximum(kth[late], 0.0)) / cell) + 1, np.inf)
        bound = np.minimum(bound, math.floor(min(dist_thres / cell, 2.0**62)) + 1)
        lo, hi = [], []
        for c, (_, w, s, nt, _) in zip(_rel_cells([c[late] for c in qcols], spans, cell), plan):
            r = np.minimum(bound, w + 1).astype(np.int64)
            lo.append(np.maximum((c - r) // s, 0))
            hi.append(np.minimum((c + r) // s, nt - 1))
        seg, tile = _box_cells(lo, hi, [p[-1] for p in plan], len(late))
        # final rows (with their own tile), then one row per (straggler, point tile)
        src, n_r = np.r_[q[keep], late[seg]], len(seg)
        miss = np.arange(len(src)) >= len(src) - n_r
        return pa.table({
            "tile": np.r_[qt.column("tile").to_numpy()[q[keep]], tile],
            "query_id": qt.column("query_id").take(src),
            "nbr_id": pts.column("nbr_id").take(pa.array(np.r_[j[keep], np.zeros_like(seg)], mask=miss)),
            "d2": pa.array(np.r_[d2[keep], np.zeros(n_r)], mask=miss),
            **{c: v[src] for c, v in zip(qn, qcols)},
        })

    def pass2(pts, rows):
        import pyarrow as pa
        import pyarrow.compute as pc

        done = pc.is_valid(rows.column("d2"))
        late = rows.filter(pc.invert(done)).combine_chunks()
        _, q, j, d2 = kernel(late, pts.combine_chunks())
        new = pa.table({"query_id": late["query_id"].take(q), "nbr_id": pts["nbr_id"].take(j), "d2": d2})
        fin = rows.filter(done).select(new.column_names)
        return pa.concat_tables([fin, new], promote_options="default")

    def cogroup(a, b, fn, schema):
        a, b = (df.repartition(par, "tile").groupBy("tile") for df in (a, b))
        return a.cogroup(b).applyInArrow(fn, schema)

    first = cogroup(
        near.selectExpr(*t.columns, f"{tiles} AS tile"), q0.selectExpr("*", f"{qtile} AS tile"),
        pass1, routed,
    )
    own_pts = cells.selectExpr(*t.columns, f"{own} AS tile")
    second = cogroup(own_pts, first, pass2, _result_schema(q0, t)[:3])
    rank = F.row_number().over(W.partitionBy("query_id").orderBy("d2", "nbr_id"))
    return second.withColumn("rank", rank).where(f"rank <= {k}")


def _result_schema(q0: DataFrame, t: DataFrame) -> StructType:
    """(query_id, nbr_id, d2, rank) of a bucketed kNN."""
    fields = [q0.schema["query_id"], t.schema["nbr_id"], StructField("d2", DoubleType())]
    return StructType([*fields, StructField("rank", IntegerType())])


def _knn_bucketed(
    queries: DataFrame, points: DataFrame, id_col: str, cols: Sequence[str], k: int,
    cell: float, dist_thres: float, exclude_self: bool,
) -> DataFrame:
    """The bucketed kNN operators' shared body over the coordinate
    columns ``cols``; see :func:`knn_points_bucketed`. A row with a null
    or NaN coordinate is never a query nor a candidate. A broadcastable
    batch runs :func:`_local_top_k`; any other, or one over its collect
    bound, runs :func:`_tile_top_k`."""
    d = len(cols)
    # one SQL projection per side: one py4j call each, where composed
    # Columns cost ~25 ms of driver time per kNN call
    q0, t = (
        df.selectExpr(
            f"`{id_col}` AS {name}_id", *[f"CAST(`{c}` AS DOUBLE) AS {p}{j}" for j, c in enumerate(cols)]
        ).where(" AND ".join(f"{p}{j} IS NOT NULL AND NOT isnan({p}{j})" for j in range(d)))
        for df, name, p in ((queries, "query", "q"), (points, "nbr", "t"))
    )
    if broadcastable(q0):
        spark, schema = q0.sparkSession, _result_schema(q0, t)
        batch = q0.toPandas()
        if batch.empty:
            return spark.createDataFrame([], schema)
        top = _local_top_k(batch, t, d, k, cell, dist_thres, exclude_self)
        if top is not None:
            return spark.createDataFrame(top, schema)
    return _tile_top_k(q0, t, d, k, cell, dist_thres, exclude_self)


def knn_points_bucketed(
    queries: DataFrame,
    points: DataFrame,
    k: int = 12,
    cell: float = 4096.0,
    dist_thres: float = np.inf,
    id_col: str = "pt_id",
    x_col: str = "x",
    y_col: str = "y",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact spatial kNN over CELL-BUCKETED candidates — the scale path
    promised by the north rule and by ``apply_rat_knn``'s contract
    (ref: src/rastergis/RSGISRATKNN.cpp:390-420, which linearly scans
    all training rows; here the scan is restricted to the k-ring).

    Candidates: the points in the (2r+1)² grid cells of a query's ring
    (the point table is never broadcast); exact refine by d2 and rank
    ``≤ k`` per query in (d2, nbr_id) order, by the selection rule of
    :func:`_partition_top_k` — hence bucketed == brute force always.

    Physical shape, by the query side (both run that one kernel):

    - *one pass*: the projected queries are broadcastable (Catalyst's
      size estimate within ``spark.sql.autoBroadcastJoinThreshold``; −1
      disables) and queries × k × point sets is within
      ``MAX_DRIVER_CANDIDATES``. The batch is collected once and rides
      in the closure of one ``mapInArrow`` over the points, whose tasks
      return each query's exact local top-k per set for the driver to
      merge. No join, shuffle or extent job. Its input, by the point
      side: when every leaf of its plan is served from Spark's cache
      (and its id is a fixed-width number), the first call persists a
      prepared copy — each partition's ids and coordinates packed in
      cell key order into rows of at most ``PREPARED_ROW_BYTES`` — and
      every call reads those few rows as zero-copy arrays, one set each.
      The copy is tied to its source's cache instance: it is unpersisted
      once the source is uncached or re-cached, and never serves an
      earlier cache. Any other point side is read as its rows, one set
      per partition, and caches nothing.
    - *tile cogroup* otherwise (:func:`_tile_top_k`): one extent job
      sizes tiles with a halo; pass 1 settles most queries per tile,
      pass 2 takes each straggler to the tiles within its bound, and a
      window ranks the union. Two Python passes in one DAG.

    A point with a null or NaN coordinate is never a candidate, and
    such a query returns no rows.

    Neighbours at ``dist >= dist_thres`` are excluded (strict ``<``,
    matching knn_apply / the reference's dist_thres test). Queries with
    fewer than k in-threshold neighbours return fewer rows.

    Returns (query_id, nbr_id, d2, rank) with rank 1..k ordered by
    (d2, nbr_id) — deterministic across engines when coordinates live
    on an integer lattice (d2 is then integer-valued).
    """
    return _knn_bucketed(queries, points, id_col, (x_col, y_col), k, cell, dist_thres, exclude_self)


def knn_features_bucketed(
    queries: DataFrame,
    points: DataFrame,
    feat_cols: Sequence[str],
    k: int = 12,
    cell: float = 100.0,
    dist_thres: float = np.inf,
    id_col: str = "pt_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact FEATURE-SPACE kNN over d-dimensional grid buckets — the
    scale path for ``apply_rat_knn``'s euclidean metric when the
    training side outgrows a broadcast (ref RSGISRATKNN.cpp:390-420
    linearly scans all training rows; knn_apply broadcasts them; this
    restricts the scan to the Chebyshev cell neighbourhood), for any
    number of features like the reference (RSGISRATKNN.cpp:82-86).
    Returns (query_id, nbr_id, d2, rank).

    Same kernel, selection rule and physical shapes as
    :func:`knn_points_bucketed`. Cells are keyed, and tiles cut, on the
    first min(d, 3) features; the rest only refine. Exact for any d: a
    point outside the Chebyshev ring R in any keyed dimension is at L∞ —
    hence L2 — distance > R·cell. For d ≳ 8 prefer
    similarity.lsh_bucketed_topk."""
    if not feat_cols:
        raise ValueError("knn_features_bucketed needs at least 1 feature dim")
    return _knn_bucketed(queries, points, id_col, feat_cols, k, cell, dist_thres, exclude_self)


def radius_count_bucketed(
    points: DataFrame,
    radius: float,
    id_col: str = "pt_id",
    x_col: str = "x",
    y_col: str = "y",
    cell: float | None = None,
) -> DataFrame:
    """Count of OTHER points within ``radius`` via the cell equi-join —
    the scale path of ``calc_npts_in_radius`` (ref
    vectorattrs/__init__.py:997-1049). With ``cell ≥ radius`` the ring-1
    neighbourhood covers the whole disk, so candidates are exact: each
    point explodes to the keys of its 3×3 cells (x index · GRID_DIM + y
    index, as kernels.cells.linear_cell) and equi-joins the cell-keyed
    points (both shuffled; the hint keeps the optimizer from
    broadcasting them); the refine keeps ``d2 ≤ r²``. The self-pair
    (d2 = 0) always joins, so an inner join + count-1 yields 0 for
    isolated points without a left join. Pure Catalyst.

    A point with a null or NaN coordinate gets no row and counts for no
    other point, as in the kNN operators: its cell key is null or its d2
    NaN, which the join or the refine drops."""
    cell = float(cell if cell is not None else radius)
    if cell < radius:
        raise ValueError("cell must be >= radius for ring-1 coverage")
    key = f"(FLOOR({{0}}0 / {cell!r}D) + {{1}}) * {GRID_DIM} + FLOOR({{0}}1 / {cell!r}D) + {{2}}"
    t, q = (
        points.selectExpr(f"`{id_col}` AS {name}", f"CAST(`{x_col}` AS DOUBLE) AS {p}0",
                          f"CAST(`{y_col}` AS DOUBLE) AS {p}1")
        for name, p in (("nbr_id", "t"), ("query_id", "q"))
    )
    t = t.selectExpr("*", f"{key.format('t', 0, 0)} AS cell_key")
    for j in range(2):
        q = q.selectExpr("*", f"explode(sequence(-1, 1)) AS _o{j}")
    q = q.selectExpr("query_id", "q0", "q1", f"{key.format('q', '_o0', '_o1')} AS cell_key")
    d2 = "0.0D + (q0 - t0) * (q0 - t0) + (q1 - t1) * (q1 - t1)"
    cand = q.join(t.hint("shuffle_hash"), "cell_key").where(f"{d2} <= {float(radius) * float(radius)!r}D")
    return cand.groupBy(F.col("query_id").alias(id_col)).agg(
        (F.count("*") - F.lit(1)).alias("n_in_radius")
    )


def _distances(q: np.ndarray, t: np.ndarray, metric: str, p: float, vi: np.ndarray | None):
    """(nq, nt) distance matrix, vectorized."""
    d = q[:, None, :] - t[None, :, :]
    if metric == "euclidean":
        return np.sqrt((d * d).sum(axis=2))
    if metric == "manhattan":
        return np.abs(d).sum(axis=2)
    if metric == "chebyshev":
        return np.abs(d).max(axis=2)
    if metric == "minkowski":
        return (np.abs(d) ** p).sum(axis=2) ** (1.0 / p)
    if metric == "mahalanobis":
        # d Vi d^T per pair; Vi = inverse covariance of the TRAINING set
        return np.sqrt(((d @ vi) * d).sum(axis=2))
    raise ValueError(f"metric must be one of {METRICS}")


def _apply_batch(
    q: np.ndarray, tf: np.ndarray, tv: np.ndarray, k: int, metric: str, vi: np.ndarray | None,
    summary: str, dist_thres: float, budget: int,
):
    """(out_val, n_neigh) of one batch of apply rows ``q`` over the
    training features ``tf`` and values ``tv``: each row's k nearest
    under ``metric``, those within ``dist_thres`` summarized. The
    distance matrix is walked in blocks of at most ``budget`` (query ×
    train × feature) elements, each row's k nearest so far merged with
    the next block by ``argpartition``."""
    nt, nf = tf.shape
    kk = min(k, nt)
    tb = max(1, min(nt, budget // nf))  # train rows per block
    qb = max(1, budget // (tb * nf))  # query rows per block
    out_val, n_neigh = [], []
    for a in range(0, len(q), qb):
        qs = q[a : a + qb]
        dd, at = np.zeros((len(qs), 0)), np.zeros((len(qs), 0), np.int64)
        for c in range(0, nt, tb):
            cols = np.arange(c, min(c + tb, nt))
            dd = np.hstack([dd, _distances(qs, tf[c : c + tb], metric, 2.0, vi)])
            at = np.hstack([at, np.broadcast_to(cols, (len(qs), len(cols)))])
            if dd.shape[1] > kk:
                keep = np.argpartition(dd, kk - 1, axis=1)[:, :kk]
                dd, at = np.take_along_axis(dd, keep, axis=1), np.take_along_axis(at, keep, axis=1)
        # the summaries reduce the (block × kk) candidates at once
        valid = dd < dist_thres
        out_val.append(_summarize_rows(tv[at], valid, summary))
        n_neigh.append(valid.sum(axis=1))
    return np.concatenate(out_val), np.concatenate(n_neigh).astype(np.int32)


def _summarize(vals: np.ndarray, how: str) -> float:
    """Scalar reference implementation of one summary. NOT on the
    operator path (superseded by the vectorized ``_summarize_rows``) —
    kept as the per-row test oracle in tests/test_operators."""
    if how == "mean":
        return float(vals.mean())
    if how == "median":
        return float(np.median(vals))
    if how == "mode":
        u, c = np.unique(vals, return_counts=True)
        return float(u[np.argmax(c)])  # ties → smallest value (np.unique sorted)
    if how == "min":
        return float(vals.min())
    if how == "max":
        return float(vals.max())
    if how == "stddev":
        return float(vals.std())
    raise ValueError(f"summary must be one of {SUMMARIES}")


def _summarize_rows(vals: np.ndarray, valid: np.ndarray, how: str) -> np.ndarray:
    """Row-wise neighbour summaries over a (nq, kk) candidate value
    matrix with a validity mask — batch-vectorized (no per-row Python).
    Rows with no valid neighbour return NaN. Semantics match
    :func:`_summarize` per row: population stddev, numpy even-count
    median, mode ties → smallest value."""
    nq = vals.shape[0]
    n = valid.sum(axis=1)
    out = np.full(nq, np.nan)
    rows = n > 0
    if not rows.any():
        return out
    if how == "mean":
        s = np.where(valid, vals, 0.0).sum(axis=1)
        out[rows] = s[rows] / n[rows]
    elif how == "min":
        out[rows] = np.where(valid, vals, np.inf).min(axis=1)[rows]
    elif how == "max":
        out[rows] = np.where(valid, vals, -np.inf).max(axis=1)[rows]
    elif how == "stddev":
        s = np.where(valid, vals, 0.0).sum(axis=1)
        mean = np.zeros(nq)
        mean[rows] = s[rows] / n[rows]
        dev2 = np.where(valid, (vals - mean[:, None]) ** 2, 0.0).sum(axis=1)
        out[rows] = np.sqrt(dev2[rows] / n[rows])
    elif how == "median":
        srt = np.sort(np.where(valid, vals, np.inf), axis=1)
        idx = np.arange(nq)
        lo = np.maximum(n - 1, 0) // 2
        hi = n // 2
        med = (srt[idx, lo] + srt[idx, np.minimum(hi, vals.shape[1] - 1)]) / 2.0
        out[rows] = med[rows]
    elif how == "mode":
        u = np.unique(vals[valid])
        codes = np.searchsorted(u, vals)
        counts = np.zeros((nq, len(u)), dtype=np.int64)
        ridx = np.broadcast_to(np.arange(nq)[:, None], vals.shape)
        np.add.at(counts, (ridx[valid], codes[valid]), 1)
        # argmax picks the FIRST max → smallest value (u is sorted)
        out[rows] = u[counts.argmax(axis=1)[rows]]
    else:
        raise ValueError(f"summary must be one of {SUMMARIES}")
    return out


def knn_apply(
    apply_df: DataFrame,
    train_df: DataFrame,
    feat_cols: Sequence[str],
    val_col: str,
    id_col: str = "pt_id",
    k: int = 12,
    metric: str = "mahalanobis",
    summary: str = "median",
    dist_thres: float = np.inf,
) -> DataFrame:
    """Returns apply rows (id_col) + ``out_val`` (+``n_neigh``).

    Rows with no neighbour within dist_thres get null out_val (the
    reference leaves the RAT column at its init value)."""
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    if summary not in SUMMARIES:
        raise ValueError(f"summary must be one of {SUMMARIES}")
    spark = apply_df.sparkSession
    tr = fenced_small_pdf(
        train_df.select(*dict.fromkeys([*feat_cols, val_col])),
        "knn_apply broadcast training set",
        "Use knn_features_bucketed (cell-bucketed scale path) instead.",
        max_rows=MAX_BROADCAST_TRAIN,
    )
    t_feats = tr[list(feat_cols)].to_numpy(np.float64)
    t_vals = tr[val_col].to_numpy(np.float64)
    vi = None
    if metric == "mahalanobis":
        cov = np.cov(t_feats, rowvar=False)
        cov = np.atleast_2d(cov)
        vi = np.linalg.pinv(cov)
    b = spark.sparkContext.broadcast((t_feats, t_vals, vi))

    src = apply_df.select(id_col, *feat_cols)
    schema = f"{id_col} long, out_val double, n_neigh int"
    budget = KNN_ELEM_BUDGET

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tf, tv, vi_ = b.value
        for pdf in it:
            if not len(pdf):
                continue
            q = pdf[list(feat_cols)].to_numpy(np.float64)
            out_val, n_neigh = _apply_batch(q, tf, tv, k, metric, vi_, summary, dist_thres, budget)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(np.int64), "out_val": out_val, "n_neigh": n_neigh})

    return src.mapInPandas(_run, schema=schema)


def closest_point_join(
    base: DataFrame,
    match: DataFrame,
    tolerance: float = np.inf,
    base_id: str = "pt_id",
    match_id: str = "pt_id",
) -> DataFrame:
    """k=1 spatial join point→closest point: :func:`knn_points_bucketed`
    with k=1 and ``dist_thres=tolerance``, over its kernel and paths.
    The kNN queries are keyed on the base row itself, ``struct(base_id,
    x, y)`` taken distinct, and ``base`` is left-joined back on that key:
    one output row per base row, also when base rows share an id (equal
    rows get equal matches).

    Output: base_id, closest_id (null when no match lies within
    tolerance, or when the base row has a null or NaN coordinate), dist
    (NaN when closest_id is null). A match point with a null or NaN
    coordinate is never a match. Ties broken by smallest match id
    (deviation from the reference, which raises —
    ``vectorutils/__init__.py:3428-3434``)."""
    row = F.struct(base_id, "x", "y").alias("_row")
    res = knn_points_bucketed(
        base.select(row, "x", "y").distinct(),
        match.select(F.col(match_id).alias("_row"), "x", "y"),
        k=1, dist_thres=tolerance, id_col="_row", exclude_self=False,
    ).select(F.col("query_id").alias("_row"), F.col("nbr_id").alias("closest_id"), F.sqrt("d2").alias("dist"))
    # an unmatched row's left-joined dist is null: normalize it to NaN
    return base.select(base_id, row).join(res, "_row", "left").select(
        base_id, "closest_id", F.coalesce("dist", F.lit(float("nan"))).alias("dist")
    )
