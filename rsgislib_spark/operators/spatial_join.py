"""Spatial join: image footprints × zone polygons.

Reimplements ``rsgislib.vectorutils.perform_spatial_join`` semantics
(``python/rsgislib/vectorutils/__init__.py:2159-2225``):
``join_how ∈ {inner, left, right}`` × ``join_op ∈ {intersects, within,
contains}``, one output row per matching pair (geopandas sjoin
multiplicity), base attributes retained.

Two physical strategies, same semantics:

 - :func:`spatial_join_broadcast` — the zone side is broadcast as a
   pickled ZoneIndex (STR bbox tree + rings). The union of the zone
   bboxes is pushed down first as a Catalyst column filter (closed
   intervals, the tree's own test), so only images that can meet a zone
   reach Python. One ``mapInArrow`` pass over those runs the tree query
   and the exact predicate and CARRIES THE ROWS: it emits each matching
   image row (``batch.take``) once per zone it meets, with that zone's
   ``zone_id``, so nothing joins back on the image id and the big side
   never shuffles; the zone attributes then join as a broadcast. A
   ``left`` join passes every image and emits the unmatched ones with a
   null ``zone_id``. This is the 100 TB path whenever zones fit on an
   executor (they do by design — the reference's zone side is a small
   vector layer). :func:`spatial_select`, :func:`layer_predicate` and
   the ``vec_*_vec`` predicates run the same pass over a slim
   (id, bbox) projection.

 - :func:`spatial_join_cells` — both sides exploded to covering grid
   cells, cell equi-join (Catalyst sort-merge/shuffle-hash with AQE),
   pair-dedup, then the exact refine. The scale-out path when the zone
   side is itself huge.

Both strategies refine through :meth:`ZoneIndex.refine`: one batched
pass over all candidate (rect, zone) pairs of an Arrow batch
(``geom.rect_polygon_pairs``), however many zones they touch — never a
loop over zones.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from rsgislib_spark.kernels import geom
from rsgislib_spark.kernels.strtree import STRtree
from rsgislib_spark.operators.footprints import DEFAULT_RES, explode_footprint_cells

JOIN_OPS = ("intersects", "within", "contains")
JOIN_HOWS = ("inner", "left", "right")

#: Driver fence for the broadcast zone side: 500k polygons × ~1 KB WKB
#: ≈ 0.5 GB on the driver — above that the zone side is no longer
#: "small by construction" (SURVEY §1.1) and must go through the cells
#: path with the zone explode run as a DataFrame op.
MAX_BROADCAST_ZONES = 500_000


def _fenced_zones_pdf(zones_slim: DataFrame) -> pd.DataFrame:
    from rsgislib_spark.qcommon import fenced_small_pdf

    return fenced_small_pdf(
        zones_slim,
        "spatial_join broadcast zone index",
        "Use spatial_join_cells (both-sides-large path) instead.",
        max_rows=MAX_BROADCAST_ZONES,
    )


class ZoneIndex:
    """Broadcastable zone-polygon index: STR bbox tree + decoded rings,
    and the same rings flattened into a :class:`geom.PolygonSet` (shell
    vertices and ring edges in flat arrays with per-zone offsets), built
    once on the driver and carried in the pickle.

    The exact refine (:meth:`refine`) runs over candidate PAIRS, not per
    zone: every (rect, zone) pair is checked by the pair-batched
    ``geom.rect_polygon_pairs`` kernels in a few numpy passes, however
    many zones the candidates touch (a zonal task touches most of its
    1 000 zones; one pass per zone was ~100 ms a task)."""

    def __init__(self, zone_ids: np.ndarray, wkbs: list):
        self.zone_ids = np.asarray(zone_ids, dtype=np.int64)
        self.rings = [geom.wkb_to_polygon(w) for w in wkbs]
        self.polys = geom.PolygonSet(self.rings)
        self.bboxes = self.polys.bboxes
        self.tree = STRtree(self.bboxes)

    @classmethod
    def from_pandas(cls, zones_pdf: pd.DataFrame) -> "ZoneIndex":
        return cls(zones_pdf["zone_id"].to_numpy(), list(zones_pdf["geometry"]))

    def refine(self, rects: np.ndarray, zone_pos: np.ndarray, join_op: str) -> np.ndarray:
        """Exact predicate per candidate pair: rect ``rects[i]`` against
        zone position ``zone_pos[i]`` → (P,) bool; ``join_op`` one of
        :data:`JOIN_OPS` (else ValueError)."""
        return geom.rect_polygon_pairs(rects, zone_pos, self.polys, join_op)

    def match(self, rects: np.ndarray, join_op: str):
        """(rect_idx, zone_pos) arrays of exact predicate matches, in
        zone order: STRtree candidates, then one :meth:`refine` over all
        of them."""
        qi, zi = self.tree.query(rects)
        order = np.argsort(zi, kind="stable")
        qs, zs = qi[order], zi[order]
        keep = self.refine(rects[qs], zs, join_op)
        return qs[keep], zs[keep]


def _in_zone_bbox(zx: ZoneIndex) -> F.Column:
    """Catalyst filter keeping the rects that can meet some zone: closed
    overlap with the union of the zone bboxes, the STRtree's own test, so
    it drops only rects the tree would reject anyway. A zone bbox with a
    NaN side matches nothing and stays out of the union; with no other
    zone, nothing passes. Built as one SQL expression (one py4j call;
    composing Columns took ~15 ms), bounds as exact double literals."""
    b = zx.bboxes[~np.isnan(zx.bboxes).any(axis=1)]
    if not len(b):
        return F.lit(False)
    x0, y0, x1, y1 = (
        f"CAST('{float(v)!r}' AS DOUBLE)"
        for v in (b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max())
    )
    return F.expr(f"minx <= {x1} AND maxx >= {x0} AND miny <= {y1} AND maxy >= {y0}")


def _matched_rows(
    rows: DataFrame, zindex_b, join_op: str, keep_unmatched: bool = False
) -> DataFrame:
    """Each row of ``rows`` once per zone of the broadcast index it
    meets under ``join_op``, with that zone's ``zone_id`` appended: one
    ``mapInArrow`` pass (tree query, then one exact :meth:`ZoneIndex.refine`
    per Arrow batch) that carries the rows through (``batch.take``), so a
    row gets only its own zones even when ids repeat. With
    ``keep_unmatched`` a row that meets no zone is emitted once with a
    null ``zone_id``.

    Callers filter ``rows`` by :func:`_in_zone_bbox` first (except a left
    join, which must see every row), so the pass sees the candidates and
    not the table. A THIN input (fewer scan partitions than cores — e.g.
    one small parquet file) would run the match on 1-2 tasks, so it is
    repartitioned up to the default parallelism first (:func:`widen`)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from rsgislib_spark.kernels.codecs import arrow_batch_cols
    from rsgislib_spark.qcommon import widen

    schema = StructType([*rows.schema.fields, StructField("zone_id", LongType())])

    def _match(it):
        import pyarrow as pa

        zx: ZoneIndex = zindex_b.value
        for b in it:
            if not b.num_rows:
                continue
            rects = np.column_stack(arrow_batch_cols(b, "minx", "miny", "maxx", "maxy"))
            qi, zi = zx.match(rects.astype(np.float64), join_op)
            zone, null = zx.zone_ids[zi], None
            if keep_unmatched:
                miss = np.flatnonzero(np.bincount(qi, minlength=b.num_rows) == 0)
                qi = np.concatenate([qi, miss])
                null = np.r_[np.zeros(len(zone), bool), np.ones(len(miss), bool)]
                zone = np.concatenate([zone, np.zeros(len(miss), np.int64)])
            if not len(qi):
                continue
            out = b.take(pa.array(qi))
            yield pa.RecordBatch.from_arrays(
                [*out.columns, pa.array(zone, mask=null)], names=[*out.schema.names, "zone_id"]
            )

    return widen(rows).mapInArrow(_match, schema=schema)


def _id_pairs(images: DataFrame, zones: DataFrame, id_col: str, *join_ops: str) -> list:
    """(id_col, zone_id) pair streams of the slim (id, bbox) projection,
    one per ``join_ops`` entry, sharing one zone fence, index broadcast
    and bbox filter."""
    zones_pdf = _fenced_zones_pdf(zones.select("zone_id", "geometry"))
    zx = ZoneIndex.from_pandas(zones_pdf)
    zindex_b = images.sparkSession.sparkContext.broadcast(zx)
    slim = images.select(id_col, "minx", "miny", "maxx", "maxy").filter(_in_zone_bbox(zx))
    return [_matched_rows(slim, zindex_b, op).select(id_col, "zone_id") for op in join_ops]


def spatial_join_broadcast(
    images: DataFrame,
    zones: DataFrame,
    join_op: str = "intersects",
    join_how: str = "inner",
    id_col: str = "image_id",
) -> DataFrame:
    """Spatial join with the zone side broadcast (primary strategy).

    Output columns: ``zone_id``, all image columns, then the zone
    attribute columns (minus zone geometry/bbox). One row per matching
    (image row, zone) pair; ``left``/``right`` keep unmatched rows of the
    respective side with nulls, mirroring geopandas sjoin via the
    reference's join_how validation (vectorutils/__init__.py:2196-2207).
    Rows pair by position inside the refine, not by key: ``id_col`` (the
    image key) may repeat, and is kept for the signature shared with
    :func:`spatial_join_cells`.
    """
    if join_how not in JOIN_HOWS:
        raise ValueError(f"join_how must be one of {JOIN_HOWS}")
    if join_op not in JOIN_OPS:
        raise ValueError(f"join_op must be one of {JOIN_OPS}")
    zones_pdf = _fenced_zones_pdf(zones.select("zone_id", "geometry"))
    zx = ZoneIndex.from_pandas(zones_pdf)
    zindex_b = images.sparkSession.sparkContext.broadcast(zx)
    zone_attrs = F.broadcast(zones.drop("geometry", "minx", "miny", "maxx", "maxy"))
    if join_how == "left":
        # every image row survives: the pass sees the whole table
        rows = _matched_rows(images, zindex_b, join_op, keep_unmatched=True)
    else:
        rows = _matched_rows(images.filter(_in_zone_bbox(zx)), zindex_b, join_op)
    # a right join keeps every zone at least once
    return rows.join(zone_attrs, "zone_id", join_how)


def spatial_join_cells(
    images: DataFrame,
    zones: DataFrame,
    join_op: str = "intersects",
    res: int = DEFAULT_RES,
    id_col: str = "image_id",
    join_how: str = "inner",
) -> DataFrame:
    """Cell equi-join + exact refine — both sides large. Returns the
    PAIR LIST (id_col, zone_id); callers attach payloads/attrs by
    equi-join afterwards (no broadcast — the point of this path).

    images exploded to covering cells; zones exploded to covering cells
    (driver-side, zone count small — if zones were huge this explode runs
    as a DataFrame op too); equi-join on cell, keyed by the zone's
    position in the broadcast ZoneIndex; duplicate pairs (image spanning
    k cells) removed with ``dropDuplicates``; then one
    :meth:`ZoneIndex.refine` per Arrow batch over all its pairs.

    ``join_how`` mirrors the reference's full inner/left/right surface
    (vectorutils/__init__.py:2159-2225) on this path too: ``left``
    preserves unmatched images (null zone_id) via an anti-join of the
    image ids against the refined pairs — one extra shuffle on the
    16-byte id key, no broadcast; ``right`` preserves unmatched zones
    (null id) symmetrically. A huge×huge LEFT spatial join is a real
    shape at 100 TB (every image row must survive into the tiling
    stage whether or not a zone claims it).
    """
    if join_how not in JOIN_HOWS:
        raise ValueError(f"join_how must be one of {JOIN_HOWS}")
    spark = images.sparkSession
    img_cells = explode_footprint_cells(images, res=res, id_col=id_col)

    zones_pdf = _fenced_zones_pdf(
        zones.select("zone_id", "geometry", "minx", "miny", "maxx", "maxy")
    )
    from rsgislib_spark.kernels import cells as cellmod

    ridx, cc = cellmod.cells_covering_bbox(
        zones_pdf["minx"].to_numpy(), zones_pdf["miny"].to_numpy(),
        zones_pdf["maxx"].to_numpy(), zones_pdf["maxy"].to_numpy(), res,
    )
    zcells = pd.DataFrame({"zone_pos": ridx.astype(np.int64), "cell": cc})
    zcells_df = spark.createDataFrame(zcells)
    zindex_b = spark.sparkContext.broadcast(ZoneIndex.from_pandas(zones_pdf))

    cand = img_cells.join(F.broadcast(zcells_df), "cell", "inner").select(
        id_col, "zone_pos", "minx", "miny", "maxx", "maxy"
    ).dropDuplicates([id_col, "zone_pos"])

    id_type = dict(images.dtypes)[id_col]
    schema = f"{id_col} {id_type}, zone_id long"

    def _refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zx: ZoneIndex = zindex_b.value
        for pdf in it:
            if not len(pdf):
                continue
            rects = pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(dtype=np.float64)
            zpos = pdf["zone_pos"].to_numpy(dtype=np.int64)
            keep = zx.refine(rects, zpos, join_op)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy()[keep], "zone_id": zx.zone_ids[zpos[keep]]}
            )

    pairs = cand.mapInPandas(_refine, schema=schema)
    if join_how == "inner":
        return pairs
    id_type = dict(images.dtypes)[id_col]
    if join_how == "left":
        unmatched = (
            images.select(id_col)
            .join(pairs.select(id_col), id_col, "left_anti")
            .withColumn("zone_id", F.lit(None).cast("long"))
        )
        return pairs.unionByName(unmatched)
    # right: every zone at least once
    unmatched_z = (
        zones.select("zone_id")
        .join(pairs.select("zone_id"), "zone_id", "left_anti")
        .withColumn(id_col, F.lit(None).cast(id_type))
        .select(id_col, "zone_id")
    )
    return pairs.unionByName(unmatched_z)


def spatial_select(
    images: DataFrame, zones: DataFrame, join_op: str = "intersects",
    id_col: str = "image_id",
) -> DataFrame:
    """Semi-join: images matching ANY zone — reference ``spatial_select``
    (vectorutils/__init__.py:2565-2610). left_semi keeps image columns only."""
    pairs = _id_pairs(images, zones, id_col, join_op)[0].select(id_col).distinct()
    return images.join(pairs, id_col, "left_semi")


# ---------------------------------------------- boolean layer predicates

def layer_predicate(
    images: DataFrame, zones: DataFrame, join_op: str = "intersects",
    id_col: str = "image_id",
) -> bool:
    """True iff ANY feature of ``images`` <join_op> ANY feature of
    ``zones`` — the boolean layer predicates ``vec_intersects_vec`` /
    ``vec_within_vec`` / ``vec_contains_vec``
    (vectorgeoms/__init__.py:2541-2952). Plan: broadcast-index pair
    generation + ``isEmpty`` on the pair stream — Spark's collect-limit
    stops at the first surviving pair, so a hit on an early partition
    never scans the rest."""
    return not _id_pairs(images, zones, id_col, join_op)[0].isEmpty()


def vec_intersects_vec(images: DataFrame, zones: DataFrame, id_col: str = "image_id") -> bool:
    """Any image intersects any zone (vectorgeoms/__init__.py:2541-...)."""
    return layer_predicate(images, zones, "intersects", id_col)


def vec_within_vec(images: DataFrame, zones: DataFrame, id_col: str = "image_id") -> bool:
    """Any image lies within any zone."""
    return layer_predicate(images, zones, "within", id_col)


def vec_contains_vec(images: DataFrame, zones: DataFrame, id_col: str = "image_id") -> bool:
    """Any image contains any zone."""
    return layer_predicate(images, zones, "contains", id_col)


def vec_overlaps_vec(images: DataFrame, zones: DataFrame, id_col: str = "image_id") -> bool:
    """Any pair overlaps: intersects but neither side contains the other
    (DE-9IM overlaps, assuming interiors meet when the closed rects do —
    exact on the catalog's tie-free lattices, where boundary-only
    contact cannot occur; touches/crosses remain out of scope for the
    rectilinear kernels and should use a full geometry library)."""
    pi, pw, pc = _id_pairs(images, zones, id_col, "intersects", "within", "contains")
    return not pi.join(
        pw.unionByName(pc).distinct(), [id_col, "zone_id"], "left_anti"
    ).isEmpty()
