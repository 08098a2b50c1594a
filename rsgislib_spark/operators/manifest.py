"""Checkpoint-resumable writes with per-partition lineage manifests.

North-rule requirement the reference lacks entirely (its tiled pipelines
delete temp dirs and restart from zero — ``segmentation/tiledclump.py:
120-124,220-223``): a killed job must restart without recomputing
finished partitions.

Design (Iceberg-snapshot style, parquet-native so it runs in this
container): output is bucketed by a deterministic hash of a key column
into ``out_dir/bucket=<b>/``, and each finished bucket has one LINEAGE
row ``(n_rows, key_hash_sum, bucket, stage)`` in its own file under
``out_dir/_manifest/``. A call writes every bucket the manifest lacks in
ONE partitioned write to ``out_dir/_staging/``, takes their lineage rows
from one aggregate over the staged files, then commits bucket by bucket:
a directory rename, then the manifest row (written under a dot-prefixed
name that readers skip, then renamed). A bucket counts as done only once
its manifest row exists, so a kill at any point leaves buckets that the
next call rewrites (the storage unit's own metadata does the
partitioning, as in Jigsaw, SIGMOD 2021). The lineage hash (bit_xor of
xxhash64 of the key, order-independent) lets a verifier re-check any
bucket without re-running the producer.

Determinism: bucket = pmod(xxhash64(key), n_buckets) — stable across
retries, executors, and salting (same hash family as operators.salting).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SUBDIR = "_manifest"
STAGING_SUBDIR = "_staging"

#: One lineage row per bucket; the schema Spark-written manifests had.
MANIFEST_SCHEMA = pa.schema([
    ("n_rows", pa.int64()), ("key_hash_sum", pa.int64()),
    ("bucket", pa.int32()), ("stage", pa.string()),
])


def bucket_col(id_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


def _manifest_table(out_dir: str) -> pa.Table:
    """Every committed manifest row, read on the driver with pyarrow (no
    Spark job); dot- and underscore-prefixed files are uncommitted or
    metadata. The one reader of ``_manifest``."""
    mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
    files = sorted(
        f for f in (os.listdir(mdir) if os.path.isdir(mdir) else [])
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    return pa.concat_tables(
        [pq.read_table(os.path.join(mdir, f), schema=MANIFEST_SCHEMA) for f in files]
        or [MANIFEST_SCHEMA.empty_table()]
    )


def completed_buckets(out_dir: str) -> set:
    """Buckets with a committed manifest row."""
    return set(_manifest_table(out_dir).column("bucket").to_pylist())


def resumable_write(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    n_buckets: int = 16,
    stage: str = "tiles",
) -> dict:
    """Write ``df`` to ``out_dir`` in ``n_buckets`` buckets with manifest
    commits.

    Returns {"written": [...], "skipped": [...]}. Restart-safe: re-invoking
    after a kill writes exactly the buckets without a manifest row, and
    nothing at all when none is missing. The missing buckets are written
    in one pass over ``df`` (a filter on the bucket column, then one
    ``partitionBy`` write), so every input row is computed once per call;
    a kill during that write loses every bucket not yet committed.
    """
    done = completed_buckets(out_dir)
    missing = [b for b in range(n_buckets) if b not in done]
    if missing:
        staging = os.path.join(out_dir, STAGING_SUBDIR)
        shutil.rmtree(staging, ignore_errors=True)
        staged = df.withColumn("bucket", bucket_col(id_col, n_buckets)).filter(
            F.col("bucket").isin(missing)
        )
        staged.write.partitionBy("bucket").parquet(staging)
        # lineage rows: counts + order-independent key hash (verifiable).
        # bit_xor: order-independent and overflow-free (ANSI-safe), unlike
        # a bigint SUM of full-range hashes. The explicit schema reads a
        # staging directory that holds no rows.
        lineage = {
            r["bucket"]: (r["n_rows"], r["key_hash_sum"])
            for r in df.sparkSession.read.schema(staged.schema).parquet(staging)
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.expr(f"bit_xor(xxhash64({id_col}))").alias("key_hash_sum"),
            )
            .collect()
        }
        mdir = os.path.join(out_dir, MANIFEST_SUBDIR)
        os.makedirs(mdir, exist_ok=True)
        for b in missing:
            final = os.path.join(out_dir, f"bucket={b}")
            shutil.rmtree(final, ignore_errors=True)
            if b in lineage:  # an empty bucket has no staged directory
                os.rename(os.path.join(staging, f"bucket={b}"), final)
            n_rows, key_hash = lineage.get(b, (0, 0))
            row = pa.table([[n_rows], [key_hash], [b], [stage]], schema=MANIFEST_SCHEMA)
            tmp = os.path.join(mdir, f".part-{b:05d}.parquet")
            pq.write_table(row, tmp)
            os.rename(tmp, os.path.join(mdir, f"part-{b:05d}.parquet"))
        shutil.rmtree(staging)
    return {"written": missing, "skipped": [b for b in range(n_buckets) if b in done]}


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
    ``bucket(N, id)`` replaces the staged bucket write). Otherwise falls
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
    """The committed manifest rows (:data:`MANIFEST_SCHEMA`) as a small
    local DataFrame; no Spark scan of ``_manifest``."""
    return spark.createDataFrame(_manifest_table(out_dir))


def verify_against_manifest(spark: SparkSession, out_dir: str, id_col: str) -> DataFrame:
    """Re-hash every written bucket and compare with its lineage row —
    returns rows with ok boolean per bucket."""
    man = read_manifest(spark, out_dir).select("bucket", "n_rows", "key_hash_sum")
    paths = [os.path.join(out_dir, d) for d in os.listdir(out_dir) if d.startswith("bucket=")]
    if paths:
        actual = spark.read.option("basePath", out_dir).parquet(*paths).groupBy("bucket").agg(
            F.count("*").alias("actual_rows"),
            F.expr(f"bit_xor(xxhash64({id_col}))").alias("actual_hash"),
        )
    else:  # every bucket is empty: no bucket has a directory
        actual = spark.createDataFrame([], "bucket int, actual_rows long, actual_hash long")
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
