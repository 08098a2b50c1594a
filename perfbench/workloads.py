"""The workloads: inputs, set-up, operations and their checks.

Each workload owns its seeded inputs (``prepare``), loads them into a
session (``load``, part of ``setup_s``), and runs operations of the kinds
in ``kinds``, in turn. ``run_op`` returns (items, result); ``check``
returns a list of errors (empty when the result is right).

==================  ==================================================
workload            op kinds
==================  ==================================================
zonal-decoded       ``zonal``: full-table decoded zonal pass
                    (north_star_decoded)
tile-manifest       ``write``: tile → resumable_write →
                    verify_against_manifest; ``resume``: resume after a
                    simulated kill of half the buckets
footprint-queries   ``window``: window join of one zone; ``knn``: kNN
                    (k=8) of 64 points
==================  ==================================================

``BENCHMARK.json`` times zonal-decoded and footprint-queries; the traced
run of zonal-decoded adds the tile-manifest op set for the tiler and
manifest layers (its timed runs would not fit the benchmark's time budget).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
import reference

MAX_PARTITION_BYTES = str(8 * 1024 * 1024)


class Workload:
    name = ""
    #: op kinds, in the order the timed window runs them (one cycle); the
    #: first is the one ``p50_ms`` reports
    kinds: tuple = ()
    #: op kinds whose items feed ``items_per_s``
    item_kinds: tuple = ()
    #: cycles the timed window holds at least, so each kind's median is
    #: a median of at least this many ops
    min_cycles = 3
    #: workload whose op set the traced run adds, for the layers named by
    #: that workload's ``own_layers`` (metric-name prefixes)
    companion: str | None = None
    own_layers: tuple = ()
    spark_conf: dict = {}

    def __init__(self, seed: int, smoke: bool, work: str):
        self.seed = seed
        self.smoke = smoke
        self.work = work

    def schedule(self):
        """Endless op-kind sequence for the timed window; it cycles
        through ``kinds``, and the window ends on a whole cycle."""
        while True:
            yield from self.kinds

    def traced_ops(self) -> list:
        return list(self.kinds)

    def reset(self) -> None:
        """Restart the op sequence (each measured or traced op set starts
        from the same first op)."""

    def before_op(self, kind: str) -> None:
        """Untimed preparation for the next op (e.g. a simulated kill)."""

    def trace_extra(self) -> dict:
        """Workload counts the per-layer metrics need, after the traced ops."""
        return {}

    def kernels(self, spans, run_span) -> dict:
        return {}


def _parquet_files(path: str) -> list:
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _timed(spans, parent, name: str, fn):
    """(fn(), seconds), recording a span around the call when tracing."""
    t0 = time.time()
    out = fn()
    t1 = time.time()
    if spans is not None:
        spans.add(name, name.rsplit(".", 1)[0], t0, t1, parent)
    return out, t1 - t0


def _codec_rates(path: str, spans, run_span, n_per_fmt: int = 60) -> dict:
    """Single-thread in-process decode rate per format over a sample of
    the workload's own stored payloads."""
    from rsgislib_spark.kernels import codecs

    t = pq.read_table(path, columns=["bytes", "fmt", "w", "h"]).to_pandas()
    out = {}
    for fmt in inputs.FMTS:
        sub = t[t["fmt"] == fmt].head(n_per_fmt)
        px = int((sub["w"] * sub["h"]).sum())
        with spans.span(f"codecs.decode_image[{fmt}]", "kernel.codecs", run_span) as sid:
            t0 = time.perf_counter()
            for buf, w, h in zip(sub["bytes"], sub["w"], sub["h"]):
                codecs.decode_image(buf, fmt, int(h), int(w))
            dt = time.perf_counter() - t0
        out[f"codecs.decode_mpx_per_s.{fmt}"] = px / 1e6 / dt if dt > 0 else 0.0
        spans.items[sid]["count"] = len(sub)
    return out


def _match_rates(zindex, rects: np.ndarray, spans, run_span) -> dict:
    with spans.span("ZoneIndex.match", "kernel.spatial_join", run_span):
        t0 = time.perf_counter()
        qi, _ = zindex.match(rects, "intersects")
        dt = time.perf_counter() - t0
    with spans.span("STRtree.query", "kernel.strtree", run_span):
        cq, _ = zindex.tree.query(rects)
    return {"spatial_join.match_rects_per_s": len(rects) / dt if dt > 0 else 0.0,
            "strtree.candidates_per_match": len(cq) / len(qi) if len(qi) else 0.0}


def _image_set_kernels(path: str, spans, run_span) -> dict:
    """Codec rates over the set's payloads and ``ZoneIndex.match`` rates of
    its footprints against the supplier-derived zones."""
    from rsgislib_spark.operators.spatial_join import ZoneIndex
    from rsgislib_spark.pipeline import load_zones_pdf

    zx = ZoneIndex.from_pandas(load_zones_pdf(os.path.join(path, "sf")))
    rects = pd.read_parquet(os.path.join(path, "ref_stats.parquet"),
                            columns=["minx", "miny", "maxx", "maxy"]).to_numpy(np.float64)
    return {**_codec_rates(os.path.join(path, "images"), spans, run_span),
            **_match_rates(zx, rects, spans, run_span)}


# ----------------------------------------------------------- zonal-decoded

class ZonalDecoded(Workload):
    name = "zonal-decoded"
    kinds = item_kinds = ("zonal",)
    companion = "tile-manifest"
    spark_conf = {"spark.sql.files.maxPartitionBytes": MAX_PARTITION_BYTES}
    size, smoke_size = 3000, 300

    def prepare(self) -> dict:
        n = self.smoke_size if self.smoke else self.size
        self.path, meta = inputs.cached("images", self.seed, n, inputs.build_image_set)
        self.images_dir = os.path.join(self.path, "images")
        self.sf_dir = os.path.join(self.path, "sf")
        stats = pd.read_parquet(os.path.join(self.path, "ref_stats.parquet"))
        keys = pd.read_parquet(os.path.join(self.sf_dir, "supplier.parquet"))["s_suppkey"].to_numpy()
        self.expected = reference.zonal_expected(stats, keys)
        self.n_images = n
        return meta

    def load(self, spark) -> None:
        self.images = spark.read.parquet(self.images_dir)
        # warm-up: the first pass starts the Python workers and their
        # imports, the second still runs slow while the JVM compiles
        for _ in range(2):
            self.run_op(spark, "zonal")

    def run_op(self, spark, kind: str, spans=None, parent=None):
        from rsgislib_spark.pipeline import north_star_decoded

        return self.n_images, north_star_decoded(spark, self.sf_dir, images_bytes=self.images).toPandas()

    def check(self, kind, got) -> list:
        return reference.zonal_mismatches(got, self.expected)

    def corrupt(self, kind, got):
        got = got.copy()
        got.loc[got.index[0], "n_images"] += 1
        return got

    def kernels(self, spans, run_span) -> dict:
        return _image_set_kernels(self.path, spans, run_span)


# ------------------------------------------------------------ tile-manifest

N_BUCKETS = 8
KILLED = tuple(range(N_BUCKETS // 2, N_BUCKETS))


class TileManifest(Workload):
    name = "tile-manifest"
    kinds = ("write", "resume")
    item_kinds = ("write",)
    min_cycles = 1  # a cycle takes about 20 s
    own_layers = ("tiler.", "manifest.")
    spark_conf = {"spark.sql.files.maxPartitionBytes": MAX_PARTITION_BYTES,
                  # tile_images is transfer-bound both ways: 64-row Arrow batches
                  "spark.sql.execution.arrow.maxRecordsPerBatch": "64"}
    size, smoke_size = 400, 60
    tile, overlap = 64, 8

    def prepare(self) -> dict:
        n = self.smoke_size if self.smoke else self.size
        self.path, meta = inputs.cached("images", self.seed, n, inputs.build_image_set)
        self.images_dir = os.path.join(self.path, "images")
        self.out = os.path.join(self.work, "tiles")
        stats = pd.read_parquet(os.path.join(self.path, "ref_stats.parquet"))
        rng = inputs.rng_for(self.seed, "queries", 7)
        lossless = stats.index[~stats["lossy"].to_numpy()].to_numpy()
        self.spot = {f"img_{i:07d}": (int(i), int(stats.at[i, "h"]), int(stats.at[i, "w"]))
                     for i in rng.choice(lossless, min(3, len(lossless)), replace=False)}
        self.n_images = n
        self.rows_written = None
        return meta

    def _tiles(self):
        from rsgislib_spark.operators.tiler import tile_images

        return tile_images(self.images, self.tile, self.tile, mode="overlap", overlap=self.overlap)

    def load(self, spark) -> None:
        self.images = spark.read.parquet(self.images_dir)
        # warm-up: one tiling pass to a no-op sink
        self._tiles().write.format("noop").mode("overwrite").save()

    def before_op(self, kind: str) -> None:
        if kind == "write":
            shutil.rmtree(self.out, ignore_errors=True)
        else:
            self._kill()

    def _kill(self) -> None:
        """Simulated kill half-way: the last half of the bucket directories
        and their manifest rows disappear."""
        self.killed_rows = self.killed_px = 0
        for b in KILLED:
            d = os.path.join(self.out, f"bucket={b}")
            for f in _parquet_files(d):
                t = pq.read_table(f, columns=["tw", "th"])
                self.killed_rows += t.num_rows
                self.killed_px += int(pc.sum(pc.multiply(t["tw"], t["th"])).as_py() or 0)
            shutil.rmtree(d, ignore_errors=True)
        mdir = os.path.join(self.out, "_manifest")
        for f in os.listdir(mdir):
            if f.endswith(".parquet"):
                buckets = set(pq.read_table(os.path.join(mdir, f), columns=["bucket"])
                              .column(0).to_pylist())
                if buckets & set(KILLED):
                    if not buckets <= set(KILLED):
                        raise RuntimeError(f"manifest file {f} mixes buckets {sorted(buckets)}")
                    os.remove(os.path.join(mdir, f))

    def run_op(self, spark, kind: str, spans=None, parent=None):
        from rsgislib_spark.operators.manifest import resumable_write, verify_against_manifest

        res, _ = _timed(spans, parent, "operators.manifest.resumable_write", lambda: resumable_write(
            self._tiles(), self.out, id_col="image_id", n_buckets=N_BUCKETS, stage="tiles"))
        if kind == "resume":
            return 0, (res, None)
        ver, self.verify_s = _timed(spans, parent, "operators.manifest.verify_against_manifest",
                                    lambda: verify_against_manifest(spark, self.out, "image_id").toPandas())
        return self.n_images, (res, ver)

    def _tile_files(self) -> list:
        return [f for f in _parquet_files(self.out) if "bucket=" in f]

    def _written_rows(self) -> int:
        return sum(pq.read_metadata(f).num_rows for f in self._tile_files())

    def check(self, kind, result) -> list:
        from pyspark.sql import SparkSession
        from rsgislib_spark.operators.manifest import verify_against_manifest

        res, ver = result
        errs = []
        want = list(range(N_BUCKETS)) if kind == "write" else list(KILLED)
        if sorted(res["written"]) != want:
            errs.append(f"{kind} wrote buckets {res['written']}, expected {want}")
        if ver is None:  # after a resume, every bucket must verify again
            ver = verify_against_manifest(SparkSession.getActiveSession(), self.out,
                                          "image_id").toPandas()
        if len(ver) != N_BUCKETS or not ver["ok"].all():
            errs.append(f"verify_against_manifest: {int((~ver['ok']).sum())} bad of {len(ver)} buckets")
        rows = self._written_rows()
        if self.rows_written is None:
            self.rows_written = rows
        elif rows != self.rows_written:
            errs.append(f"{rows} tile rows on disk, earlier cycles wrote {self.rows_written}")
        errs += self._spot_check()
        return errs

    def _spot_check(self) -> list:
        """Every tile of the spot-checked lossless images equals the
        generated array, and the tiles cover the whole image."""
        errs = []
        t = pq.ParquetDataset(self._tile_files(), filters=[("image_id", "in", list(self.spot))]).read(
            columns=["image_id", "x0", "y0", "tw", "th", "pixels"]).to_pandas()
        for iid, (i, h, w) in self.spot.items():
            img = inputs.image_pixels(self.seed, i, h, w)
            sub = t[t["image_id"] == iid]
            cover = np.zeros((h, w), bool)
            for x0, y0, tw, th, px in zip(sub["x0"], sub["y0"], sub["tw"], sub["th"], sub["pixels"]):
                if px != img[y0:y0 + th, x0:x0 + tw].tobytes():
                    errs.append(f"{iid} tile at ({x0},{y0}) differs from the generated pixels")
                cover[y0:y0 + th, x0:x0 + tw] = True
            if not cover.all():
                errs.append(f"{iid}: tiles leave {int((~cover).sum())} px uncovered")
        return errs

    def corrupt(self, kind, result):
        res, ver = result
        return {**res, "written": res["written"][:-1]}, ver

    def trace_extra(self) -> dict:
        """Counts of the traced op set: one full write and one resume."""
        px = sum(int(pc.sum(pc.multiply(t["tw"], t["th"])).as_py() or 0)
                 for t in (pq.read_table(f, columns=["tw", "th"]) for f in self._tile_files()))
        return {"tile_rows_per_write": self.rows_written,
                "tile_payload_bytes": px + self.killed_px,
                "files_written": len(_parquet_files(self.out)),
                "verify_s": self.verify_s}

    def kernels(self, spans, run_span) -> dict:
        return _image_set_kernels(self.path, spans, run_span)


# --------------------------------------------------------- footprint-queries

KNN_K = 8


class FootprintQueries(Workload):
    name = "footprint-queries"
    kinds = item_kinds = ("window", "knn")
    min_cycles = 4
    spark_conf: dict = {}
    size, smoke_size = 200_000, 5_000

    def prepare(self) -> dict:
        n = self.smoke_size if self.smoke else self.size
        self.path, meta = inputs.cached("footprints", self.seed, n, inputs.build_footprint_set)
        self.fp = pd.read_parquet(os.path.join(self.path, "footprints.parquet"))
        with open(os.path.join(self.path, "zone_rings.json")) as fh:
            self.rings = [[np.array(r) for r in z] for z in json.load(fh)]
        self.queries = inputs.query_sequence(self.seed, 4096, len(self.rings))
        self._next = 0
        return meta

    def traced_ops(self) -> list:
        return [q[0] for q in self.queries[:4]]

    def reset(self) -> None:
        self._next = 0

    def load(self, spark) -> None:
        self.footprints = spark.read.parquet(os.path.join(self.path, "footprints.parquet")).cache()
        self.rects = self.footprints.select("image_id", "minx", "miny", "maxx", "maxy")
        self.points = self.footprints.select("pt_id", "x", "y")
        self.zones = spark.read.parquet(os.path.join(self.path, "zones.parquet")).cache()
        self.footprints.count()
        self.zones.count()
        # warm-up: one window join and one kNN query outside the sequence
        self._window(len(self.rings) - 1)
        self._knn(spark, len(self.queries) + 1)

    def _window(self, zone: int) -> list:
        from pyspark.sql import functions as F
        from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

        got = spatial_join_broadcast(self.rects, self.zones.filter(F.col("zone_id") == zone),
                                     "intersects", "inner", id_col="image_id")
        return sorted(r[0] for r in got.select("image_id").collect())

    def _knn_batch(self, batch: int) -> pd.DataFrame:
        return inputs.knn_batch(self.seed, batch, self.fp["x"].to_numpy(), self.fp["y"].to_numpy())

    def _knn(self, spark, batch: int) -> pd.DataFrame:
        from rsgislib_spark.operators.knn import knn_points_bucketed

        qdf = spark.createDataFrame(self._knn_batch(batch))
        return knn_points_bucketed(qdf, self.points, k=KNN_K, id_col="pt_id").toPandas()

    def run_op(self, spark, kind: str, spans=None, parent=None):
        q = self.queries[self._next % len(self.queries)]
        self._next += 1
        if kind == "window":
            return 1, (q[1], self._window(q[1]))
        return 1, (q[1], self._knn(spark, q[1]))

    def check(self, kind, result) -> list:
        key, got = result
        if kind == "window":
            rects = self.fp[["minx", "miny", "maxx", "maxy"]].to_numpy()
            want = sorted(self.fp["image_id"].to_numpy()[reference.rects_meeting_polygon(rects, self.rings[key])])
            return [] if got == want else [f"window join on zone {key}: {len(got)} ids, expected {len(want)}"]
        q = self._knn_batch(key)
        want = reference.knn_expected(q["x"].to_numpy(), q["y"].to_numpy(), q["pt_id"].to_numpy(),
                                      self.fp["x"].to_numpy(), self.fp["y"].to_numpy(),
                                      self.fp["pt_id"].to_numpy(), KNN_K)
        got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
        same = (len(got) == len(want)) and all(
            np.array_equal(got[c].to_numpy(np.float64), want[c].to_numpy(np.float64))
            for c in ("query_id", "nbr_id", "d2", "rank"))
        return [] if same else [f"kNN batch {key}: neighbours differ from brute force"]

    def corrupt(self, kind, result):
        key, got = result
        if kind == "window":
            return key, got[1:] if got else ["fp_bogus"]
        got = got.copy()
        got.loc[got.index[0], "d2"] += 1.0
        return key, got

    def trace_extra(self) -> dict:
        n_knn = sum(1 for k in self.traced_ops() if k == "knn")
        return {"knn_neighbours": n_knn * 64 * KNN_K}

    def kernels(self, spans, run_span) -> dict:
        from rsgislib_spark.kernels import geom
        from rsgislib_spark.operators.spatial_join import ZoneIndex

        zpdf = pd.DataFrame({"zone_id": np.arange(len(self.rings)),
                             "geometry": [geom.polygon_to_wkb(r) for r in self.rings]})
        rects = self.fp[["minx", "miny", "maxx", "maxy"]].to_numpy(np.float64)
        # no payloads here: the codec rates read 0, as other unexercised layers do
        return {**{f"codecs.decode_mpx_per_s.{f}": 0.0 for f in inputs.FMTS},
                **_match_rates(ZoneIndex.from_pandas(zpdf), rects, spans, run_span)}


WORKLOADS = {w.name: w for w in (ZonalDecoded, TileManifest, FootprintQueries)}
