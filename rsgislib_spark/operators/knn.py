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
   argmin of the full distance matrix, optional tolerance. The reference
   raises on ties; we break ties deterministically by smallest train id
   (documented deviation, SURVEY §2.3).

 - :func:`knn_points_bucketed` — the SCALE path (the north rule's "kNN
   neighbor lookup over cell-bucketed candidates"): both sides bucketed
   to grid cells, candidates = query's k-ring of cells, exact refine +
   rank ``<= k`` by (d2, nbr_id). A ring-escalation loop guarantees
   exactness: a query is resolved only when it has k candidates and its
   kth-neighbour distance is within the ring's coverage guarantee (any
   point outside ring R is at distance > R·cell), so bucketed ==
   brute-force always. A small query batch runs the loop inside one
   Python pass over the points (each partition's exact local top-k,
   merged on the driver); a large one runs it as a distributed loop of
   cell equi-joins (window rank, persist, anti-join, emptiness check per
   round). :func:`knn_features_bucketed` runs the same engine in d
   dimensions on the distributed loop only.

 - :func:`radius_count_bucketed` — radius count on the same cell join
   (cell ≥ r ⇒ ring-1 covers the disk), replacing the O(N²) theta-join.

Physical shape: ``knn_apply``/``closest_point_join``/``radius_count``
broadcast the training/match side — the documented FAST PATH when that
side is small (it is the labelled sample set by construction). The
``*_bucketed`` operators are the default at scale: candidates per query
bounded by local density, skew handled by the same salting policy as
the spatial join. Large query sides shuffle on the cell key only; an
interactive batch travels to the points inside the one ``mapInArrow``
pass, which shuffles nothing and returns at most k rows per query and
partition.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

METRICS = ("euclidean", "manhattan", "chebyshev", "minkowski", "mahalanobis")
SUMMARIES = ("mean", "median", "mode", "min", "max", "stddev")
#: Driver fence for the broadcast side (fenced_small_pdf) — patchable in tests.
MAX_BROADCAST_TRAIN = 5_000_000


#: Linear cell-key grid dimension (matches kernels.cells.linear_cell).
GRID_DIM = 1 << 21
#: Beyond this ring the (2r+1)² cell explode costs more than a plain
#: cross-join of the (few) remaining queries × points.
XJOIN_RING = 48
#: Most candidate rows a one-pass kNN batch returns to the driver: a
#: batch runs the pass only when its queries × k × the point table's
#: partitions fit; past it the distributed loop takes the whole batch
#: (patchable in tests).
MAX_DRIVER_CANDIDATES = 2_000_000
#: Most (query, point) candidate pairs one pass task holds at once: its
#: candidate ranges are walked in windows of this many elements, so a
#: hot cell costs time, not memory (read when the op is built; patchable
#: in tests).
KNN_ELEM_BUDGET = 1 << 19


def _union_and_release(outs: list, persisted: list) -> DataFrame:
    """Union the per-round outputs; when the escalation loop cached
    intermediates, materialize the union once (localCheckpoint — the
    blocks are reclaimed by the ContextCleaner on GC) and release the
    round caches, so repeated invocations in a long-lived session don't
    accumulate persisted blocks until the storage pool evicts."""
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    if persisted:
        out = out.localCheckpoint(eager=True)
        for p in persisted:
            p.unpersist()
    return out


def _extent(df: DataFrame, cols: Sequence[str]):
    """One job: the per-column minima, maxima and the row count."""
    return df.agg(*[F.min(c) for c in cols], *[F.max(c) for c in cols], F.count(F.lit(1))).first()


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


def _final_round(ring: int, max_ring: int, xjoin_ring: int) -> bool:
    """The round that resolves every remaining query: its ring is the
    forced last ring, or past the explode cutoff (then a cross-join
    makes all points candidates — exact for any ring, and a huge explode
    is far worse)."""
    return ring >= max_ring or ring > xjoin_ring


def _resolved(cnt, kth_d2, k: int, ring: int, cell: float):
    """A query's top-k is final after a round of ``ring`` when it has k
    candidates and the k-th lies within the ring's coverage guarantee
    (any point outside ring R is > R·cell away). Takes Spark Columns or
    numpy arrays alike, so both kNN loops apply the one rule."""
    return (cnt >= k) & (kth_d2 <= float(ring * cell) ** 2)


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Exact refine in Spark: ``row_number() ≤ k`` per query by (d2, nbr_id)."""
    win = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("nbr_id"))
    return (
        cand.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "d2", "rank")
    )


def _top_k_pandas(cand: pd.DataFrame, k: int) -> pd.DataFrame:
    """:func:`_top_k` on the driver: rank ≤ k per query by (d2, nbr_id)."""
    cand = cand.sort_values(["query_id", "d2", "nbr_id"], kind="stable", ignore_index=True)
    cand["rank"] = cand.groupby("query_id", sort=False).cumcount().astype(np.int32) + 1
    return cand[cand["rank"] <= k]


def _top_k_rows(q: np.ndarray, j: np.ndarray, d2: np.ndarray, pid: np.ndarray, k: int):
    """:func:`_top_k` in numpy over candidate rows (query position ``q``,
    point position ``j``, ``d2``): the first k per query by (d2, pid[j]),
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
    qid: np.ndarray, qx: np.ndarray, qy: np.ndarray,
    pid: np.ndarray, px: np.ndarray, py: np.ndarray,
    k: int, cell: float, dist_thres: float, exclude_self: bool, budget: int,
):
    """Exact top-k of every query over one partition's points — the ring
    escalation of :func:`knn_points_bucketed` in numpy, planned by
    :func:`_ring_plan` on the partition's own extent. The points are
    sorted by their :func:`_xy_key` cell key, so one ring column of a
    query is one ``searchsorted`` key range; the candidate ranges are
    walked ``budget`` elements at a time, over groups of queries whose
    ranges fit the budget too. d2 is ``0.0 + dx² + dy²`` in
    the Spark expression's order. Returns (query position, point
    position, d2) rows sorted by query, then (d2, pid)."""
    none = (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))
    if not len(px) or not len(qx):
        return none
    ring, max_ring = _ring_plan(
        (px.min(), py.min()), (px.max(), py.max()), (qx.min(), qy.min()), (qx.max(), qy.max()),
        len(px), k, cell, dist_thres,
    )
    keys = np.floor(px / cell).astype(np.int64) * GRID_DIM + np.floor(py / cell).astype(np.int64)
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    qcx, qcy = np.floor(qx / cell).astype(np.int64), np.floor(qy / cell).astype(np.int64)
    thres2 = dist_thres * dist_thres if np.isfinite(dist_thres) else None

    def round_top_k(qs, ring, cross):
        # candidate ranges (query seg_q[s], sorted points lo[s] .. lo[s] + n[s])
        if cross:  # every point is a candidate
            seg_q, lo, n = qs, np.zeros(len(qs), np.int64), np.full(len(qs), len(keys))
        else:
            col = (qcx[qs, None] + np.arange(-ring, ring + 1)) * GRID_DIM
            lo = np.searchsorted(keys, (col + (qcy[qs] - ring)[:, None]).ravel(), "left")
            hi = np.searchsorted(keys, (col + (qcy[qs] + ring)[:, None]).ravel(), "right")
            seg_q, n = np.repeat(qs, 2 * ring + 1), hi - lo
        cum = np.r_[0, np.cumsum(n)]
        top = none
        for s in range(0, int(cum[-1]), budget):
            el = np.arange(s, min(s + budget, cum[-1]))
            seg = np.searchsorted(cum, el, "right") - 1
            q, j = seg_q[seg], order[lo[seg] + el - cum[seg]]
            dx, dy = qx[q] - px[j], qy[q] - py[j]
            d2 = 0.0 + dx * dx + dy * dy
            keep = np.ones(len(q), bool)
            if exclude_self:
                keep &= qid[q] != pid[j]
            if thres2 is not None:
                keep &= d2 < thres2
            top = _top_k_rows(
                *(np.concatenate([a, b[keep]]) for a, b in zip(top, (q, j, d2))), pid, k
            )
        return top

    todo = np.arange(len(qx))
    outs = []
    while todo.size:
        ring = min(ring, max_ring)
        final = _final_round(ring, max_ring, XJOIN_RING)
        # queries in groups whose ring ranges also fit the budget
        step = max(1, budget // (2 * ring + 1))
        q, j, d2 = (np.concatenate(a) for a in zip(*(
            round_top_k(todo[c : c + step], ring, final and ring > XJOIN_RING)
            for c in range(0, len(todo), step)
        )))
        if final:
            outs.append((q, j, d2))
            break
        kth = np.full(len(qx), -np.inf)
        np.maximum.at(kth, q, d2)
        ok = _resolved(np.bincount(q, minlength=len(qx))[todo], kth[todo], k, ring, cell)
        keep = np.isin(q, todo[ok])
        outs.append((q[keep], j[keep], d2[keep]))
        todo = todo[~ok]
        ring *= 4
    return tuple(np.concatenate(a) for a in zip(*outs))


def _local_top_k(
    batch: pd.DataFrame, t: DataFrame, k: int, cell: float, dist_thres: float,
    exclude_self: bool,
) -> pd.DataFrame | None:
    """A query batch's exact kNN in one Python pass over the points: a
    ``mapInArrow`` over ``t`` (nbr_id, t0, t1) carries the batch in its
    closure and returns each partition's local top-k
    (:func:`_partition_top_k`); the driver merges them with
    :func:`_top_k_pandas`. Exact, because the global top-k of a query is
    the top-k of the union of its local top-k lists. Returns (query_id,
    nbr_id, d2, rank), or None, running no job, when the batch's
    queries × k × the point partitions exceed ``MAX_DRIVER_CANDIDATES``."""
    from rsgislib_spark.kernels.codecs import arrow_batch_cols

    qid = batch["query_id"].to_numpy()
    qx, qy = batch["q0"].to_numpy(np.float64), batch["q1"].to_numpy(np.float64)
    budget = KNN_ELEM_BUDGET
    schema = StructType([
        StructField("_q", LongType()), t.schema["nbr_id"], StructField("d2", DoubleType()),
    ])

    def run(it):
        import pyarrow as pa

        parts = [b for b in it if b.num_rows]
        if not parts:  # an empty partition yields nothing
            return
        b = pa.Table.from_batches(parts).combine_chunks().to_batches()[0]
        pid, px, py = arrow_batch_cols(b, "nbr_id", "t0", "t1")
        q, j, d2 = _partition_top_k(
            qid, qx, qy, np.asarray(pid), px, py, k, cell, dist_thres, exclude_self, budget
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(q), b.column("nbr_id").take(pa.array(j)), pa.array(d2)],
            names=["_q", "nbr_id", "d2"],
        )

    local = t.mapInArrow(run, schema)
    # each partition returns at most k rows per query; the partition count
    # comes from the plan the collect then reuses
    n_parts = local._jdf.queryExecution().executedPlan().execute().getNumPartitions()
    if len(batch) * k * n_parts > MAX_DRIVER_CANDIDATES:
        return None
    got = local.toPandas()
    cand = pd.DataFrame({"query_id": qid[got["_q"].to_numpy()], "nbr_id": got["nbr_id"], "d2": got["d2"]})
    return _top_k_pandas(cand, k)


def _xy_key(cell: float):
    """Cell key of 2-D points, x index · GRID_DIM + y index (as
    kernels.cells.linear_cell), over columns ``{prefix}0``/``{prefix}1``;
    ``offsets`` adds the ring offsets ``_o0``/``_o1``."""

    def key(prefix: str, offsets: bool = False) -> F.Column:
        ix, iy = (F.floor(F.col(f"{prefix}{j}") / F.lit(cell)).cast("long") for j in range(2))
        if offsets:
            ix, iy = ix + F.col("_o0"), iy + F.col("_o1")
        return ix * F.lit(GRID_DIM) + iy

    return key


def _candidates(
    base: DataFrame, ring: int, cross: bool, *,
    t: DataFrame, d: int, key, exclude_self: bool, dist_thres: float,
) -> DataFrame:
    """(query, point) candidate rows with d2 of one escalation round over
    query columns q0..q{d-1} and point columns t0..t{d-1}: each query
    explodes to the (2r+1)^d cells of its ring (one explode per
    dimension, pure Catalyst) and equi-joins the cell-keyed points on
    ``cell_key``, both sides shuffled on it (the hint keeps the optimizer
    from broadcasting the points). ``cross`` makes every point a
    candidate instead."""
    if cross:
        cand = base.crossJoin(t.drop("cell_key"))  # exact last resort
    else:
        qe = base
        for j in range(d):
            qe = qe.withColumn(f"_o{j}", F.explode(F.expr(f"sequence({-ring}, {ring})")))
        qe = qe.withColumn("cell_key", key("q", offsets=True)).drop(*[f"_o{j}" for j in range(d)])
        cand = qe.join(t.hint("shuffle_hash"), "cell_key")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("nbr_id"))
    d2 = F.lit(0.0)
    for j in range(d):
        diff = F.col(f"q{j}") - F.col(f"t{j}")
        d2 = d2 + diff * diff
    cand = cand.withColumn("d2", d2)
    if np.isfinite(dist_thres):
        cand = cand.filter(F.col("d2") < F.lit(dist_thres * dist_thres))
    return cand


def _knn_bucketed(
    q0: DataFrame, t: DataFrame, d: int, key, k: int, cell: float, dist_thres: float,
    exclude_self: bool, xjoin_ring: int, one_pass: bool,
) -> DataFrame:
    """Ring escalation shared by the bucketed kNN operators, over query
    rows (query_id, q0..) and point rows (nbr_id, t0..); see
    :func:`knn_points_bucketed`. A row with a null or NaN coordinate is
    never a query nor a candidate. ``one_pass`` (2-D only) lets a
    broadcastable batch run :func:`_local_top_k`."""
    from rsgislib_spark.qcommon import broadcastable

    spark = q0.sparkSession
    schema = StructType([
        q0.schema["query_id"], t.schema["nbr_id"],
        StructField("d2", DoubleType()), StructField("rank", IntegerType()),
    ])
    qcols, tcols = [f"q{j}" for j in range(d)], [f"t{j}" for j in range(d)]
    q0, t = (
        df.where(" AND ".join(f"{c} IS NOT NULL AND NOT isnan({c})" for c in cols))
        for df, cols in ((q0, qcols), (t, tcols))
    )
    if one_pass and broadcastable(q0):
        batch = q0.toPandas()
        if batch.empty:
            return spark.createDataFrame([], schema)
        top = _local_top_k(batch, t, k, cell, dist_thres, exclude_self)
        if top is not None:
            return spark.createDataFrame(top, schema)
    pstats, qstats = _extent(t, tcols), _extent(q0, qcols)
    ring, max_ring = _ring_plan(
        pstats[:d], pstats[d : 2 * d], qstats[:d], qstats[d : 2 * d], int(pstats[2 * d]),
        k, cell, dist_thres,
    )
    candidates = partial(
        _candidates, t=t.withColumn("cell_key", key("t")), d=d, key=key,
        exclude_self=exclude_self, dist_thres=dist_thres,
    )
    return _escalate(q0, candidates, k, ring, max_ring, cell, xjoin_ring)


def _escalate(
    remaining: DataFrame, candidates, k: int, ring: int, max_ring: int,
    cell: float, xjoin_ring: int,
) -> DataFrame:
    """Distributed ring escalation: each round ranks the candidates of
    only the remaining queries (``candidates(base, ring, cross)`` → rows
    with query_id, nbr_id, d2), keeps the resolved ones, anti-joins them
    away and stops when nothing remains — so the common case is one
    round plus a cheap empty check."""
    outs = []
    persisted = []
    while True:
        ring = min(ring, max_ring)
        final = _final_round(ring, max_ring, xjoin_ring)
        ranked = _top_k(candidates(remaining, ring, final and ring > xjoin_ring), k)
        if final:
            outs.append(ranked)
            break
        ranked = ranked.persist()
        persisted.append(ranked)
        resolved = (
            ranked.groupBy("query_id")
            .agg(F.count("*").alias("cnt"), F.max("d2").alias("maxd2"))
            .filter(_resolved(F.col("cnt"), F.col("maxd2"), k, ring, cell))
            .select("query_id")
        )
        outs.append(ranked.join(resolved, "query_id"))
        remaining = remaining.join(resolved, "query_id", "left_anti").persist()
        persisted.append(remaining)
        if remaining.isEmpty():
            break
        ring *= 4

    return _union_and_release(outs, persisted)


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
    ``≤ k`` per query in (d2, nbr_id) order.

    Selection rule: any point outside ring R is at distance > R·cell
    from the query, so a query is RESOLVED once it has k candidates and
    its k-th is within R·cell. Unresolved queries re-run with a 4× ring;
    the round whose ring covers every point (or the threshold disk, or
    passes the explode cutoff, where every point becomes a candidate)
    resolves the rest. Hence bucketed == brute force always.

    Physical shape, by the query side:

    - *one pass*: the projected queries are broadcastable (Catalyst's
      size estimate within ``spark.sql.autoBroadcastJoinThreshold``; −1
      disables) and queries × k × point partitions is within
      ``MAX_DRIVER_CANDIDATES``. The batch is collected once and rides
      in the closure of one ``mapInArrow`` over the points. Each task
      sorts its partition's points by cell key and runs the ring
      escalation in numpy on the partition's own extent, returning
      every query's exact local top-k; the driver merges them. One
      Python pass, no join, shuffle, persist or extent job.
    - otherwise, the distributed loop from the start: one job for the
      point and query extents each, then per round the queries explode
      to their ring cells and equi-join the points on the cell key (both
      shuffled), rank with a window, persist, anti-join the resolved
      queries away and check the rest for emptiness.

    A point with a null or NaN coordinate is never a candidate, and
    such a query returns no rows.

    Neighbours at ``dist >= dist_thres`` are excluded (strict ``<``,
    matching knn_apply / the reference's dist_thres test). Queries with
    fewer than k in-threshold neighbours return fewer rows.

    Returns (query_id, nbr_id, d2, rank) with rank 1..k ordered by
    (d2, nbr_id) — deterministic across engines when coordinates live
    on an integer lattice (d2 is then integer-valued).
    """
    # one SQL projection per side: one py4j call each, where composed
    # Columns cost ~25 ms of driver time per kNN call
    q0, t = (
        df.selectExpr(
            f"`{id_col}` AS {name}_id", f"CAST(`{x_col}` AS DOUBLE) AS {p}0",
            f"CAST(`{y_col}` AS DOUBLE) AS {p}1",
        )
        for df, name, p in ((queries, "query", "q"), (points, "nbr", "t"))
    )
    return _knn_bucketed(
        q0, t, 2, _xy_key(cell), k, cell, dist_thres, exclude_self, XJOIN_RING, one_pass=True
    )


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
    restricts the scan to the Chebyshev cell neighbourhood).

    Same candidates, ring escalation and selection rule as
    :func:`knn_points_bucketed`, in d dims and on the distributed loop
    only: candidates = the (2r+1)^d ring (one chained explode per
    dimension, pure Catalyst), exact refine + row_number ≤ k,
    resolution guarantee d_k ≤ r·cell (any point outside the Chebyshev
    ring R is at L∞ — hence L2 — distance > R·cell, in every dimension
    count). Returns (query_id, nbr_id, d2, rank).

    Cell key: d ≤ 3 packs the per-dim indices into ONE long (radix
    GRID_DIM — cheapest shuffle key; indices must fit 21 bits); d ≥ 4
    uses a STRUCT of per-dim longs (Catalyst joins on struct equality;
    no bit budget, arbitrary d — the reference's apply_rat_knn takes
    any number of RAT fields, RSGISRATKNN.cpp:82-86). The ring explode
    is (2r+1)^d rows per query, so high-d escalation hands off to the
    exact cross-join finalizer after a d-dependent cutoff — grid
    bucketing's curse of dimensionality is real; for d ≳ 8 prefer
    similarity.lsh_bucketed_topk."""
    d = len(feat_cols)
    if d < 1:
        raise ValueError("knn_features_bucketed needs at least 1 feature dim")
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        *[F.col(c).cast("double").alias(f"q{j}") for j, c in enumerate(feat_cols)],
    )
    t = points.select(
        F.col(id_col).alias("nbr_id"),
        *[F.col(c).cast("double").alias(f"t{j}") for j, c in enumerate(feat_cols)],
    )

    def key(prefix: str, offsets: bool = False) -> F.Column:
        def digit(j):
            idx = F.floor(F.col(f"{prefix}{j}") / F.lit(cell)).cast("long")
            if offsets:
                idx = idx + F.col(f"_o{j}")
            return idx

        if d <= 3:
            # radix-packed d-digit key; digits shifted by half the radix
            # so negative feature indices stay injective (signed digits
            # with magnitude near GRID_DIM/2 would otherwise collide
            # across adjacent high digits)
            kcol = F.lit(0).cast("long")
            for j in range(d):
                kcol = kcol * F.lit(GRID_DIM) + digit(j) + F.lit(GRID_DIM // 2)
            return kcol
        # d ≥ 4: struct key — no packing budget, joins on struct equality
        return F.struct(*[digit(j).alias(f"k{j}") for j in range(d)])

    if d <= 3:
        xjoin_ring = {1: 2048, 2: 64, 3: 16}[d]
    else:
        # largest ring whose (2r+1)^d explode stays under ~20k candidate
        # cells per query; past it the exact cross-join finalizer wins
        xjoin_ring = max(1, int((20_000 ** (1.0 / d) - 1) // 2))
    return _knn_bucketed(
        q0, t, d, key, k, cell, dist_thres, exclude_self, xjoin_ring, one_pass=False
    )


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
    neighbourhood covers the whole disk, so candidates are exact; the
    refine keeps ``d2 ≤ r²``. The self-pair (d2 = 0) always joins, so an
    inner join + count-1 yields 0 for isolated points without a left
    join. Pure Catalyst; no broadcast of the point table; one shuffle on
    the cell key + one on the id for the count."""
    cell = float(cell if cell is not None else radius)
    if cell < radius:
        raise ValueError("cell must be >= radius for ring-1 coverage")
    key = _xy_key(cell)
    t = points.select(
        F.col(id_col).alias("nbr_id"),
        F.col(x_col).cast("double").alias("t0"),
        F.col(y_col).cast("double").alias("t1"),
    )
    q = points.select(
        F.col(id_col).alias("query_id"),
        F.col(x_col).cast("double").alias("q0"),
        F.col(y_col).cast("double").alias("q1"),
    )
    r2 = float(radius) * float(radius)
    cand = _candidates(
        q, 1, False, t=t.withColumn("cell_key", key("t")), d=2, key=key,
        exclude_self=False, dist_thres=np.inf,
    ).filter(F.col("d2") <= F.lit(r2))
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
        return np.sqrt(np.einsum("qtf,fg,qtg->qt", d, vi, d))
    raise ValueError(f"metric must be one of {METRICS}")


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
    from rsgislib_spark.qcommon import fenced_small_pdf

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

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tf, tv, vi_ = b.value
        for pdf in it:
            if not len(pdf):
                continue
            q = pdf[list(feat_cols)].to_numpy(np.float64)
            dm = _distances(q, tf, metric, 2.0, vi_)
            ids = pdf[id_col].to_numpy(np.int64)
            # top-k per row under threshold — fully vectorized: argpartition
            # narrows to kk candidates per row, the mask keeps in-threshold
            # ones, and the summaries reduce the (batch × kk) block at once
            kk = min(k, dm.shape[1])
            part = np.argpartition(dm, kk - 1, axis=1)[:, :kk]
            dd = np.take_along_axis(dm, part, axis=1)
            valid = dd < dist_thres
            vals = tv[part]
            out_val = _summarize_rows(vals, valid, summary)
            n_neigh = valid.sum(axis=1).astype(np.int32)
            yield pd.DataFrame({id_col: ids, "out_val": out_val, "n_neigh": n_neigh})

    return src.mapInPandas(_run, schema=schema)


def closest_point_join(
    base: DataFrame,
    match: DataFrame,
    tolerance: float = np.inf,
    base_id: str = "pt_id",
    match_id: str = "pt_id",
    strategy: str = "broadcast",
) -> DataFrame:
    """k=1 spatial join point→closest point.

    ``strategy="broadcast"`` (fast path, match side small) broadcasts the
    match table; ``strategy="bucketed"`` delegates to
    :func:`knn_points_bucketed` with k=1 — no broadcast, scale path.

    Output: base_id, closest_id (null when no match within tolerance),
    dist (NaN when no match — identical across both strategies). Ties
    broken by smallest match id (deviation from the reference, which
    raises — ``vectorutils/__init__.py:3428-3434``)."""
    if strategy == "bucketed":
        qdf = base.select(F.col(base_id).alias("pt_id"), "x", "y")
        tdf = match.select(F.col(match_id).alias("pt_id"), "x", "y")
        res = knn_points_bucketed(
            qdf, tdf, k=1, dist_thres=tolerance, exclude_self=False
        ).select(
            F.col("query_id").alias(base_id),
            F.col("nbr_id").alias("closest_id"),
            F.sqrt("d2").alias("dist"),
        )
        # beyond-tolerance rows: left join yields null dist — normalize to
        # NaN so both strategies emit the same (null closest_id, NaN dist)
        return (
            base.select(base_id)
            .join(res, base_id, "left")
            .withColumn("dist", F.coalesce(F.col("dist"), F.lit(float("nan"))))
        )
    spark = base.sparkSession
    from rsgislib_spark.qcommon import fenced_small_pdf

    m = fenced_small_pdf(
        match.select(match_id, "x", "y"),
        "closest_point_join broadcast match set",
        'Use strategy="bucketed" (knn_points_bucketed) instead.',
        max_rows=MAX_BROADCAST_TRAIN,
    )
    b = spark.sparkContext.broadcast(
        (m[match_id].to_numpy(np.int64), m["x"].to_numpy(np.float64), m["y"].to_numpy(np.float64))
    )
    schema = f"{base_id} long, closest_id long, dist double"
    src = base.select(base_id, "x", "y")

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mid, mx, my = b.value
        # deterministic tie-break: pre-sort by id so argmin picks smallest
        order = np.argsort(mid, kind="stable")
        mid_s, mx_s, my_s = mid[order], mx[order], my[order]
        for pdf in it:
            if not len(pdf):
                continue
            qx = pdf["x"].to_numpy(np.float64)
            qy = pdf["y"].to_numpy(np.float64)
            d2 = (qx[:, None] - mx_s[None, :]) ** 2 + (qy[:, None] - my_s[None, :]) ** 2
            j = np.argmin(d2, axis=1)
            dist = np.sqrt(d2[np.arange(len(qx)), j])
            cid = mid_s[j].astype(np.float64)
            bad = dist >= tolerance
            cid[bad] = np.nan
            out = pd.DataFrame(
                {
                    base_id: pdf[base_id].to_numpy(np.int64),
                    "closest_id": pd.array(
                        np.where(bad, None, mid_s[j]), dtype="Int64"
                    ),
                    "dist": np.where(bad, np.nan, dist),
                }
            )
            yield out

    return src.mapInPandas(_run, schema=schema)


def radius_count(points: DataFrame, radius: float, id_col: str = "pt_id") -> DataFrame:
    """Count of OTHER points within ``radius`` of each point — reference
    ``calc_npts_in_radius`` (``vectorattrs/__init__.py:997-1049``, KDTree
    ball query minus self)."""
    spark = points.sparkSession
    from rsgislib_spark.qcommon import fenced_small_pdf

    p = fenced_small_pdf(
        points.select(id_col, "x", "y"),
        "radius_count broadcast point set",
        "Use radius_count_bucketed (cell equi-join scale path) instead.",
        max_rows=MAX_BROADCAST_TRAIN,
    )
    b = spark.sparkContext.broadcast(
        (p["x"].to_numpy(np.float64), p["y"].to_numpy(np.float64))
    )
    schema = f"{id_col} long, n_in_radius long"
    src = points.select(id_col, "x", "y")
    r2 = radius * radius

    def _run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ax, ay = b.value
        for pdf in it:
            if not len(pdf):
                continue
            qx = pdf["x"].to_numpy(np.float64)
            qy = pdf["y"].to_numpy(np.float64)
            d2 = (qx[:, None] - ax[None, :]) ** 2 + (qy[:, None] - ay[None, :]) ** 2
            n = (d2 <= r2).sum(axis=1) - 1  # minus self
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(np.int64), "n_in_radius": n})

    return src.mapInPandas(_run, schema=schema)
