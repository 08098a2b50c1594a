"""Checkpoint-resumable writes with per-partition lineage manifests.

North-rule requirement the reference lacks entirely (its tiled pipelines
delete temp dirs and restart from zero — ``segmentation/tiledclump.py:
120-124,220-223``): a killed job must restart without recomputing
finished partitions.

Design (Iceberg-snapshot style, parquet-native so it runs in this
container): output is bucketed by a deterministic hash of a key column;
each bucket is written as its own job to ``out_dir/bucket=<b>/``; after a
bucket lands, a LINEAGE row ``(stage, bucket, n_rows, key_hash_sum)`` is
appended to ``out_dir/_manifest/``. On restart, completed buckets are
read from the manifest and skipped (driver-side anti-set). The lineage
hash (bit_xor of xxhash64 of the key, order-independent) lets a verifier
re-check any bucket without re-running the producer.

Determinism: bucket = pmod(xxhash64(key), n_buckets) — stable across
retries, executors, and salting (same hash family as operators.salting).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SUBDIR = "_manifest"


def bucket_col(id_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str) -> set:
    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    if not os.path.exists(mdir) or not any(
        f.endswith(".parquet") for f in os.listdir(mdir)
    ):
        return set()
    pdf = spark.read.parquet(mdir).select("bucket").distinct().toPandas()
    return set(int(b) for b in pdf["bucket"])


def resumable_write(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_buckets: int = 16,
    stage: str = "tiles",
) -> dict:
    """Write ``df`` to ``out_dir`` bucket-by-bucket with manifest commits.

    Returns {"written": [...], "skipped": [...]}. Restart-safe: re-invoking
    after a kill continues from the first un-manifested bucket. The input
    should be cheap to re-derive or cached; at scale the source table is
    partitioned on the same bucket expression so each pass prunes to one
    bucket's files (Iceberg partition transform ``bucket(N, id)``).
    """
    spark = df.sparkSession
    done = completed_buckets(spark, out_dir)
    b = df.withColumn("_bucket", bucket_col(id_col, n_buckets))
    written, skipped = [], []
    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    for bk in range(n_buckets):
        if bk in done:
            skipped.append(bk)
            continue
        part = b.filter(F.col("_bucket") == bk).drop("_bucket")
        part.write.mode("overwrite").parquet(os.path.join(out_dir, f"bucket={bk}"))
        # lineage row: counts + order-independent key hash (verifiable)
        # bit_xor: order-independent and overflow-free (ANSI-safe), unlike
        # a bigint SUM of full-range hashes
        lin = part.agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.expr(f"bit_xor(xxhash64({id_col}))"), F.lit(0)).alias("key_hash_sum"),
        ).withColumn("bucket", F.lit(bk)).withColumn("stage", F.lit(stage))
        lin.coalesce(1).write.mode("append").parquet(mdir)
        written.append(bk)
    return {"written": written, "skipped": skipped}


# ----------------------------------------------- pluggable table-format sink
#
# Same seam pattern as the codec / CRS / ML backends: parquet + the
# manifest layer above is the builtin (runs anywhere); when the session
# has an Iceberg catalog configured (jars on the classpath +
# spark.sql.catalog.* set — absent in this sandbox), the sink routes
# through `df.writeTo(table)` and ACID snapshots/resume become Iceberg's
# job. One deploy-time config flip, no operator changes.

#: The catalog class the Iceberg probe loads (patchable in tests).
ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when this session can write Iceberg tables: an Iceberg
    SparkCatalog is configured — at start-up (SparkContext conf) or at
    runtime (``spark.conf.set``) — AND its class loads (probed once per
    call — cheap JVM reflection, no table I/O)."""
    try:
        confs = {**dict(spark.sparkContext.getConf().getAll()), **spark.conf.getAll}
        has_catalog = any(
            k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
            for k, v in confs.items()
        )
        if not has_catalog:
            return False
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)  # noqa: SLF001 — probe only
        return True
    except Exception:
        return False


def _write_iceberg(df: DataFrame, table: str, mode: str) -> None:
    w = df.writeTo(table)
    if mode == "append":
        w.append()
    else:
        w.createOrReplace()


def write_table(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    table: str | None = None,
    n_buckets: int = 16,
    stage: str = "tiles",
    mode: str = "replace",
) -> dict:
    """Table sink with a pluggable format backend.

    With ``table`` set and an Iceberg catalog configured, writes through
    ``df.writeTo(table)`` (snapshot isolation, hidden partitioning —
    ``bucket(N, id)`` replaces the manual bucket loop). Otherwise falls
    back to :func:`resumable_write`'s parquet + lineage-manifest layout,
    which provides the same restart-without-recompute guarantee with no
    extra jars. Returns a dict whose ``backend`` key says which path ran.
    The fallback only replaces or resumes, so ``mode="append"`` without
    Iceberg raises ``ValueError`` instead of dropping the append intent.
    """
    spark = df.sparkSession
    if table is not None and iceberg_available(spark):
        _write_iceberg(df, table, mode)
        return {"backend": "iceberg", "table": table}
    if mode == "append":
        raise ValueError(
            "write_table(mode='append') needs an Iceberg table: the parquet + "
            "manifest fallback only replaces or resumes. Configure an Iceberg "
            "catalog and pass table=, or write with mode='replace'."
        )
    res = resumable_write(df, out_dir, id_col, n_buckets=n_buckets, stage=stage)
    res["backend"] = "parquet+manifest"
    return res


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, MANIFEST_SUBDIR))


def verify_against_manifest(spark: SparkSession, out_dir: str, id_col: str) -> DataFrame:
    """Re-hash every written bucket and compare with its lineage row —
    returns rows with ok boolean per bucket."""
    man = read_manifest(spark, out_dir).select("bucket", "n_rows", "key_hash_sum")
    data = spark.read.option("basePath", out_dir).parquet(
        *[
            os.path.join(out_dir, d)
            for d in os.listdir(out_dir)
            if d.startswith("bucket=")
        ]
    )
    actual = data.groupBy("bucket").agg(
        F.count("*").alias("actual_rows"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("actual_hash"),
    )
    return (
        man.join(actual, "bucket", "left")
        .withColumn(
            "ok",
            (F.col("n_rows") == F.coalesce(F.col("actual_rows"), F.lit(0)))
            & (
                (F.col("n_rows") == 0)
                | (F.col("key_hash_sum") == F.col("actual_hash"))
            ),
        )
        .select("bucket", "n_rows", "actual_rows", "ok")
    )
