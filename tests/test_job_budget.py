"""Spark job budgets of the interactive operators.

A small-batch kNN and a single-zone window join should each cost a
handful of Spark jobs; every extra job is a driver round trip on an
interactive query. These tests count the jobs of one call through a job
group and the status tracker, so a reintroduced per-round persist /
emptiness check / checkpoint, or a second pass over the image table,
fails here without a benchmark run."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators import knn, manifest
from rsgislib_spark.operators.spatial_join import spatial_join_broadcast

#: queries collect, the one Python pass over the points, result collect
KNN_ONE_ROUND_JOBS = 3
#: a cached point table's first call also builds its prepared copy: the
#: one collect that fills the persisted packed rows and counts them
KNN_PREPARE_JOBS = 1
#: the same call forced onto the tile cogroup: the point extent, then one
#: job per shuffle stage of the DAG (both passes' inputs, the window) and
#: the result collect
KNN_TILE_JOBS = 8
#: zone fence (one collect of the whole zone rows), then the one pass over
#: the bbox-filtered images that emits the final rows: no attribute
#: broadcast or join, and no widening shuffle of the input
WINDOW_JOIN_JOBS = 2
#: one resumable write that has buckets left to write: the one staged
#: partitioned write, then the lineage aggregate over the staged files
#: (its shuffle stage and its collect), and one more for the parallel file
#: listing Spark runs over more than 32 staged directories; the manifest
#: is read and written on the driver, so a call with nothing left to write
#: runs no job
MANIFEST_WRITE_JOBS = 4


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_knn_one_round_job_budget(spark, points_pdf, monkeypatch):
    pts = spark.createDataFrame(points_pdf)
    qs = spark.createDataFrame(points_pdf.iloc[:16])
    rounds = []
    real = knn._local_top_k
    monkeypatch.setattr(knn, "_local_top_k", lambda *a, **kw: rounds.append(1) or real(*a, **kw))
    n = _jobs(spark, "budget-knn", lambda: knn.knn_points_bucketed(qs, pts, k=4, cell=50000.0).toPandas())
    assert len(rounds) == 1
    assert n <= KNN_ONE_ROUND_JOBS, n


def test_knn_on_a_cached_point_table_job_budget(spark, points_pdf):
    """The first call over a cached point table builds its prepared copy
    (at most KNN_PREPARE_JOBS more); the second reads it within the one
    round's budget and adds no entry to Spark's cache manager."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    pts = spark.createDataFrame(points_pdf).cache()
    qs = spark.createDataFrame(points_pdf.iloc[:16])

    def call():
        return knn.knn_points_bucketed(qs, pts, k=4, cell=50000.0).toPandas()

    try:
        pts.count()
        first = _jobs(spark, "budget-knn-prepare", call)
        entries = cache.numCachedEntries()
        second = _jobs(spark, "budget-knn-prepared", call)
        assert cache.numCachedEntries() == entries
    finally:
        pts.unpersist()
    assert second <= KNN_ONE_ROUND_JOBS, second
    assert first <= KNN_ONE_ROUND_JOBS + KNN_PREPARE_JOBS, first


def test_knn_tile_cogroup_job_budget(spark, points_pdf, monkeypatch):
    pts = spark.createDataFrame(points_pdf)
    qs = spark.createDataFrame(points_pdf.iloc[:16])
    tiles = []
    real = knn._tile_top_k
    monkeypatch.setattr(knn, "_tile_top_k", lambda *a, **kw: tiles.append(1) or real(*a, **kw))
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)

    def call():  # builds the op inside the job group: the extent job runs here
        return knn.knn_points_bucketed(qs, pts, k=4, cell=50000.0).toPandas()

    spark.conf.set(key, "-1")
    try:
        n = _jobs(spark, "budget-knn-tile", call)
    finally:
        spark.conf.set(key, threshold)
    assert len(tiles) == 1
    assert n <= KNN_TILE_JOBS, n


def _window_join_jobs(spark, images, zones_pdf, group):
    zone = spark.createDataFrame(zones_pdf).filter(F.col("zone_id") == 3)
    got = []
    n = _jobs(
        spark, group,
        lambda: got.extend(spatial_join_broadcast(images, zone).select("image_id").collect()),
    )
    assert got  # the zone matches images, so the refine ran
    return n


def test_single_zone_window_join_job_budget(spark, images_nopix_pdf, zones_pdf):
    images = spark.createDataFrame(images_nopix_pdf[["image_id", "minx", "miny", "maxx", "maxy"]])
    n = _window_join_jobs(spark, images, zones_pdf, "budget-window")
    assert n <= WINDOW_JOIN_JOBS, n


def test_window_join_on_a_thin_cached_table_job_budget(spark, images_nopix_pdf, zones_pdf):
    """A cached one-partition image table (fewer partitions than cores):
    the join runs on that partition, so a widening repartition of the
    input (one more shuffle stage, one more job) fails here."""
    images = spark.createDataFrame(
        images_nopix_pdf[["image_id", "minx", "miny", "maxx", "maxy"]]
    ).coalesce(1).cache()
    try:
        images.count()
        assert images.rdd.getNumPartitions() == 1
        n = _window_join_jobs(spark, images, zones_pdf, "budget-window-thin")
    finally:
        images.unpersist()
    assert n <= WINDOW_JOIN_JOBS, n


def test_resumable_write_job_budget(spark, tmp_path, manifest_files):
    """A write and a resume of two buckets each pass every input row
    through the producer once, and a call with nothing left passes none:
    the bucket filter sits above the producer, so one staged write
    replaces a filtered pass per bucket."""
    seen = spark.sparkContext.accumulator(0)

    def produce(it):
        for b in it:
            seen.add(b.num_rows)
            yield b

    src = spark.range(5000).withColumnRenamed("id", "row_id").mapInArrow(produce, "row_id long")
    out = str(tmp_path / "budget")

    def call(group):
        seen.value = 0
        n = _jobs(spark, group, lambda: manifest.resumable_write(src, out, "row_id", n_buckets=8))
        return n, seen.value

    n, rows = call("budget-manifest-write")
    assert n <= MANIFEST_WRITE_JOBS and rows == 5000, (n, rows)
    files = manifest_files(out)
    for b in (6, 7):
        os.remove(files[b])
        shutil.rmtree(os.path.join(out, f"bucket={b}"))
    n, rows = call("budget-manifest-resume")
    assert n <= MANIFEST_WRITE_JOBS and rows == 5000, (n, rows)
    assert call("budget-manifest-done") == (0, 0)
