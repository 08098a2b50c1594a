#!/usr/bin/env python
"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Not the performance yardstick: ``headline_queries_total_sec`` sums
min-of-2 walls of 14 catalog queries and checks only row counts, so it
is not comparable across commits or with anything perfbench reports.
Compare performance with ``python3 perfbench/run.py --workload <name>
--seed <n>`` (see perfbench/README.md).

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The scaling numbers recorded in BENCH/BASELINE.md are history; the
cluster-size evidence is ``scripts/run_standalone_cluster.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q10_cell_assign",
    "q11_spatial_join_intersects",
    "q14_zonal_point_stats",
    "q16_knn_zone_centers",
    "q19_tile_grid",
    "q20_tile_cells",
    "q25_focal_mean",
    "q31_token_stats",
    "q35_minhash_bands",
    "q40_ann_cosine_topk",
    "q55_salted_cell_join",
    "q64_north_star",
    "q91_north_star_decoded",
]


BENCH_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_data")


def _q91_bytes_table(spark, sf_dir: str) -> str:
    """Build-once bytes-bearing image table for q91 (gitignored cache).

    The catalog's q91 runs encode→decode in ONE plan (the correctness
    gate needs no on-disk state); the BENCH variant instead scans a
    prebuilt bytes table — the shape a real deployment pays, where
    stored bytes are read, never encoded, in the hot path. The build is
    outside the timed window, as perfbench builds its inputs."""
    from rsgislib_spark.pipeline import encode_images_df

    sf = sf_dir.rstrip("/").split("sf")[-1]
    path = os.path.join(BENCH_DATA, f"north_star_bytes_sf{sf}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        encode_images_df(spark, sf_dir).write.mode("overwrite").parquet(path)
    return path


def run_bench(sf_dir: str, cpus: int, queries_to_run=None) -> dict:
    from rsgislib_spark.queries import QUERIES
    from rsgislib_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="rsgislib_spark_bench")
    timings = {}
    names = queries_to_run or HEADLINE
    # Warm the fixed startup paths once so per-query walls measure the
    # engine, not process bring-up: parquet reader + whole-stage codegen
    # (a real groupBy-agg) and the Python worker pool (a no-op
    # mapInPandas). Each query still pays its own codegen compile.
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .groupBy("n_regionkey").agg(F.count("*"), F.sum("n_nationkey"))
        .collect()
    )
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # Each query is executed PASSES times and the MIN wall recorded —
    # the per-level-minima protocol BENCH/BASELINE.md uses everywhere:
    # the shared host's external load bursts (8-25 loadavg, zero
    # in-container processes) land mid-run and a single-shot timing
    # then measures the burst, not the engine. The first pass also
    # absorbs per-query one-time costs a steady-state deployment never
    # pays per query (worker-side module imports, codegen compile).
    # Passes run ROUND-ROBIN across queries (A,B,...,A,B,...) rather
    # than back-to-back per query, so a multi-minute burst overlaps at
    # most one wall of each query instead of sinking both walls of one.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))

    def _make_runner(name):
        if name == "q91_north_star_decoded":
            from rsgislib_spark.pipeline import north_star_decoded

            bytes_path = _q91_bytes_table(spark, sf_dir)  # untimed build-once

            def run_q91():
                # binary scans split by bytes or the decode fan-out idles
                # cores. Arrow batch sizing is PER-OP: transfer-bound
                # payload ops (image_features, tile_images) win ~3× with
                # 64-row batches, but q91's fused decode+zonal kernel
                # computes enough per row that per-batch overhead
                # dominates instead (interleaved A/B: default 5.66 s vs
                # 64-row 9.53 s best) — q91 keeps the default batching.
                # set/restore per run (try/finally) so an exception can't
                # leak the 8 MB split into other queries' scans.
                prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
                spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024)
                )
                try:
                    return north_star_decoded(
                        spark, sf_dir, images_bytes=spark.read.parquet(bytes_path)
                    ).count()
                finally:
                    spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

            return run_q91
        return lambda _n=name: QUERIES[_n](spark, sf_dir).count()

    runners = {name: _make_runner(name) for name in names}
    walls: dict = {name: [] for name in names}
    for _ in range(passes):
        for name in names:
            t0 = time.perf_counter()
            n = runners[name]()
            walls[name].append(round(time.perf_counter() - t0, 4))
            timings[f"{name}__rows"] = n
    for name in names:
        timings[name] = min(walls[name])
    timings["__walls"] = walls
    spark.stop()
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_pre = tuple(round(x, 2) for x in os.getloadavg())
    timings = run_bench(sf_dir, cpus)
    load_post = tuple(round(x, 2) for x in os.getloadavg())
    walls = timings.pop("__walls", {})
    qt = {k: v for k, v in timings.items() if not k.endswith("__rows")}
    total = round(sum(qt.values()), 4)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # passes + per-query all-pass walls + host loadavg are recorded so
    # min-of-N numbers are distinguishable from single-shot ones and a
    # burst-hit run carries the load that explains it (ADVICE r4).
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": qt,
        "sf": sf,
        "passes": max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))),
        "walls": walls,
        "loadavg_pre": load_pre,
        "loadavg_post": load_post,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
