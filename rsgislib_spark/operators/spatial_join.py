"""Spatial join: image footprints × zone polygons.

Reimplements ``rsgislib.vectorutils.perform_spatial_join`` semantics
(``python/rsgislib/vectorutils/__init__.py:2159-2225``):
``join_how ∈ {inner, left, right}`` × ``join_op ∈ {intersects, within,
contains}``, one output row per matching pair (geopandas sjoin
multiplicity), base attributes retained.

One physical strategy, and one zone side (:func:`_zone_side`) that the
zonal operators (``operators.zonal``) share:

 - :func:`spatial_join_broadcast` — the zone side is collected once
   (one fenced ``toArrow`` of every zone column but the bbox) and
   broadcast as a pickled ZoneIndex (STR bbox tree + rings) plus the
   zone attribute columns as one Arrow batch in zone-position order.
   The union of the zone bboxes is pushed down first as a Catalyst
   column filter (closed intervals, the tree's own test), so only images
   that can meet a zone reach Python. One ``mapInArrow`` pass over those,
   on the input's own partitions, runs the tree query and the exact
   predicate and emits the FINAL rows: each matching image row
   (``batch.take``) once per zone it meets, with that zone's ``zone_id``
   and attributes taken by zone position. Nothing joins back on the image
   id or on ``zone_id``, the big side never shuffles, and two zone rows
   sharing an id keep their own attributes. A ``left`` join passes every
   image and emits the unmatched ones with a null ``zone_id`` and null
   attributes. Only ``right`` joins: it must keep every zone, so the pass
   emits the matched zone's position and the zone rows join on it. The
   zone side must fit on the driver (:data:`MAX_BROADCAST_ZONES`); the
   reference's zone side is a small vector layer.
   :func:`spatial_select` runs the same pass and emits each matching
   row once; :func:`layer_predicate` and the ``vec_*_vec`` predicates run
   it over a slim (id, bbox) projection.

Every pass refines through :meth:`ZoneIndex.refine`: one batched pass
over all candidate (rect, zone) pairs of an Arrow batch
(``geom.rect_polygon_pairs``), however many zones they touch — never a
loop over zones.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from rsgislib_spark.kernels import geom
from rsgislib_spark.kernels.strtree import STRtree

JOIN_OPS = ("intersects", "within", "contains")
JOIN_HOWS = ("inner", "left", "right")

#: Driver fence for every broadcast zone side (joins, selects, layer
#: predicates, zonal operators): 500k polygons × ~1 KB WKB ≈ 0.5 GB on
#: the driver — above that the zone side is no longer "small by
#: construction" (SURVEY §1.1).
MAX_BROADCAST_ZONES = 500_000


def _zone_side(zones: DataFrame, *cols: str) -> tuple[ZoneIndex, pa.Table]:
    """The one driver collect of every DataFrame zone input (joins,
    selects, layer predicates, zonal operators): ``zone_id``,
    ``geometry`` and ``cols`` of every zone, as Arrow (types exact),
    behind the :data:`MAX_BROADCAST_ZONES` fence; with the
    :class:`ZoneIndex` built from it (zone position = row of the table)."""
    from rsgislib_spark.qcommon import fenced_small_table

    table = fenced_small_table(
        zones.select("zone_id", "geometry", *cols),
        "broadcast zone index",
        "The zone side must fit on the driver: it is collected and broadcast whole.",
        max_rows=MAX_BROADCAST_ZONES,
    )
    return ZoneIndex(table["zone_id"].to_numpy(), table["geometry"].to_pylist()), table


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


#: Column the ``right`` join's pass emits in place of ``zone_id``: the
#: matched zone's position in the broadcast index, the key the zone rows
#: join on.
ZONE_POS = "_zone_pos"

#: Zone columns a join does not carry (the polygon and its bbox).
_ZONE_GEOM = ("geometry", "minx", "miny", "maxx", "maxy")


def _zone_batch(zx: ZoneIndex, table: pa.Table, attr_names=()) -> pa.RecordBatch:
    """What the pass takes per match, in zone-position order: the
    int64 ``zone_id`` (the pass's output type), then ``attr_names``."""
    cols = [pa.array(zx.zone_ids), *(table[c].combine_chunks() for c in attr_names)]
    return pa.RecordBatch.from_arrays(cols, names=["zone_id", *attr_names])


def _matched_rows(
    rows: DataFrame, zones_b, join_op: str, attrs: list = (), how: str = "inner"
) -> DataFrame:
    """Each row of ``rows`` once per zone of the broadcast ``(ZoneIndex,
    zone batch)`` (:func:`_zone_batch`) it meets under ``join_op``: one
    ``mapInArrow`` pass on ``rows``' own partitions (tree query, then one
    exact :meth:`ZoneIndex.refine` per Arrow batch) that emits the final
    rows — ``zone_id``, the row (``batch.take``), then the zone's
    attribute columns (``attrs``, their fields) — taking the zone columns
    by zone POSITION, so a row gets only its own zones and a zone row
    only its own attributes, even when image or zone ids repeat.

    ``how="left"`` also emits each row that meets no zone once, with a
    null ``zone_id`` and null attributes (a null position). ``how="right"``
    emits :data:`ZONE_POS` (the matched zone's position) instead of
    ``zone_id`` and no attributes, for the caller's join on the zone rows.
    ``how="semi"`` emits each row that meets some zone once, its columns
    only.

    Callers filter ``rows`` by :func:`_in_zone_bbox` first (except a left
    join, which must see every row), so the pass sees the candidates and
    not the table. The pass does not repartition: a thin source is
    widened by its owner (:func:`rsgislib_spark.qcommon.widen`). Its
    Arrow batches name columns by position, so an attribute may share an
    image column's name, as in a join's output."""
    from pyspark.sql.types import LongType, StructField, StructType

    from rsgislib_spark.kernels.codecs import arrow_batch_cols

    fields = [
        *([] if how == "semi" else [StructField(ZONE_POS if how == "right" else "zone_id", LongType())]),
        *rows.schema.fields,
        *attrs,
    ]
    slots = [f"_{i}" for i in range(len(fields))]
    schema = StructType(
        [StructField(n, f.dataType, f.nullable, f.metadata) for n, f in zip(slots, fields)]
    )

    def _match(it):
        zx, zcols = zones_b.value
        for b in it:
            if not b.num_rows:
                continue
            rects = np.column_stack(arrow_batch_cols(b, "minx", "miny", "maxx", "maxy"))
            qi, zi = zx.match(rects.astype(np.float64), join_op)
            if how == "semi":
                if len(qi):
                    yield pa.RecordBatch.from_arrays(b.take(pa.array(np.unique(qi))).columns, names=slots)
                continue
            null = None
            if how == "left":
                miss = np.flatnonzero(np.bincount(qi, minlength=b.num_rows) == 0)
                qi = np.concatenate([qi, miss])
                null = np.arange(len(qi)) >= len(zi)
                zi = np.concatenate([zi, np.zeros(len(miss), np.int64)])
            if not len(qi):
                continue
            pos = pa.array(zi, mask=null)
            image = b.take(pa.array(qi)).columns
            if how == "right":
                cols = [pos, *image]
            else:
                zone = zcols.take(pos).columns
                cols = [zone[0], *image, *zone[1:]]
            yield pa.RecordBatch.from_arrays(cols, names=slots)

    return rows.mapInArrow(_match, schema=schema).toDF(*(f.name for f in fields))


def _id_pairs(images: DataFrame, zones: DataFrame, id_col: str, *join_ops: str) -> list:
    """(id_col, zone_id) pair streams of the slim (id, bbox) projection,
    one per ``join_ops`` entry, sharing one zone fence, index broadcast
    and bbox filter."""
    zx, table = _zone_side(zones)
    zones_b = images.sparkSession.sparkContext.broadcast((zx, _zone_batch(zx, table)))
    slim = images.select(id_col, "minx", "miny", "maxx", "maxy").filter(_in_zone_bbox(zx))
    return [_matched_rows(slim, zones_b, op).select(id_col, "zone_id") for op in join_ops]


def spatial_join_broadcast(
    images: DataFrame,
    zones: DataFrame,
    join_op: str = "intersects",
    join_how: str = "inner",
    id_col: str = "image_id",
) -> DataFrame:
    """Spatial join with the zone side broadcast (primary strategy).

    Output columns: ``zone_id``, all image columns, then the zone
    attribute columns (every zone column but ``zone_id``, geometry and
    bbox). One row per matching (image row, zone row) pair;
    ``left``/``right`` keep unmatched rows of the respective side with
    nulls, mirroring geopandas sjoin via the reference's join_how
    validation (vectorutils/__init__.py:2196-2207).

    ``inner`` and ``left`` are one fence collect plus one pass
    (:func:`_matched_rows`) that emits these rows, attributes included:
    no join. ``right`` joins the pass's matches to the zone rows on the
    zone position (a broadcast of the matches when they are small).
    Rows and zones pair by position, not by key: image ids and
    ``zone_id`` may repeat. ``id_col`` is not read; it is kept because
    callers pass it.
    """
    if join_how not in JOIN_HOWS:
        raise ValueError(f"join_how must be one of {JOIN_HOWS}")
    if join_op not in JOIN_OPS:
        raise ValueError(f"join_op must be one of {JOIN_OPS}")
    from pyspark.sql.types import LongType, StructField, StructType

    spark = images.sparkSession
    attr_names = [c for c in zones.columns if c != "zone_id" and c not in _ZONE_GEOM]
    zx, table = _zone_side(zones, *attr_names)
    fields = [zones.schema[c] for c in attr_names]
    # every image row survives a left join: the pass sees the whole table
    rows = images if join_how == "left" else images.filter(_in_zone_bbox(zx))
    if join_how == "right":
        zones_b = spark.sparkContext.broadcast((zx, None))
        matches = _matched_rows(rows, zones_b, join_op, how="right")
        zone_rows = spark.createDataFrame(
            table.drop_columns(["geometry"]).append_column(
                ZONE_POS, pa.array(np.arange(len(table)))
            ),
            schema=StructType(
                [zones.schema["zone_id"], *fields, StructField(ZONE_POS, LongType(), False)]
            ),
        )
        # a right outer join cannot build (broadcast) its right side, so a
        # hint on the zone rows would be ignored; Spark broadcasts the
        # matches when they are small
        out = matches.join(zone_rows, ZONE_POS, "right")
        return out.select(
            zone_rows["zone_id"],
            *(matches[c] for c in images.columns),
            *(zone_rows[c] for c in attr_names),
        )
    if join_how == "left":  # an unmatched row's zone columns are null
        fields = [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    zones_b = spark.sparkContext.broadcast((zx, _zone_batch(zx, table, attr_names)))
    return _matched_rows(rows, zones_b, join_op, fields, how=join_how)


def spatial_select(
    images: DataFrame, zones: DataFrame, join_op: str = "intersects",
    id_col: str = "image_id",
) -> DataFrame:
    """Semi-join: the image rows matching ANY zone, image columns only,
    each row once — reference ``spatial_select``
    (vectorutils/__init__.py:2565-2610). One fence collect and one pass
    over the bbox-filtered rows (:func:`_matched_rows`, ``how="semi"``):
    rows are selected by position, so a row that meets no zone stays out
    even when another row shares its ``id_col`` (kept for the signature
    shared with the joins)."""
    zx, _ = _zone_side(zones)
    zones_b = images.sparkSession.sparkContext.broadcast((zx, None))
    return _matched_rows(images.filter(_in_zone_bbox(zx)), zones_b, join_op, how="semi")


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
