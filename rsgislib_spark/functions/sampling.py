"""Deterministic sampling — hash-based, seed-stable, resume-safe.

The reference's sampling family (SURVEY.md §2.6: take_random_sample,
perform_random_pxl_sample_in_mask, split_sample_hdf5_file,
create_train_test_smpls …) is pseudo-random with a seed. At cluster
scale a *hash* of the row key is the right primitive instead: the
sample is a pure function of the data, independent of partitioning,
task retries, and executor count — which `df.sample` is not. The same
md5 expression runs in the DuckDB oracle, so sampling is
correctness-gated like every other operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def hash_bucket(key: Column, n_buckets: int = 16, salt: str = "") -> Column:
    """Stable bucket in [0, n_buckets) from the md5 of the key string.

    Uses the first 8 hex chars as an int — identical in any engine with
    md5 + hex parsing (DuckDB: ``('0x' || substr(md5(k),1,8))::BIGINT``).
    """
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets).cast("int")


def train_test_split(
    df: DataFrame, key: Column, test_buckets: int = 3, n_buckets: int = 10, salt: str = "tt"
):
    """(train, test) split by hash bucket — create_train_test_smpls
    (imageutils/__init__.py:3665+) without RNG state."""
    b = hash_bucket(key, n_buckets, salt)
    return df.filter(b >= test_buckets), df.filter(b < test_buckets)


def undersample_balanced(df: DataFrame, class_col: str, key: Column) -> DataFrame:
    """Random-undersample every class to the MINORITY class size
    (classification/classimblearn.random_undersample_smpls:230, imblearn
    RandomUnderSampler semantics) — deterministically: rows are ranked
    per class by their md5 hash (partitioning/retry-stable), and every
    class keeps its first min-class-count rows. One window + one tiny
    broadcast join; no RNG state, identical in the SQL oracle."""
    from pyspark.sql import Window as W

    h = F.md5(key.cast("string"))
    w = W.partitionBy(class_col).orderBy(h, key)
    ranked = df.withColumn("_rk", F.row_number().over(w))
    mn = df.groupBy(class_col).agg(F.count("*").alias("_n")).agg(
        F.min("_n").alias("_mn")
    )
    return (
        ranked.crossJoin(F.broadcast(mn))
        .filter(F.col("_rk") <= F.col("_mn"))
        .drop("_rk", "_mn")
    )


def oversample_balanced(df: DataFrame, class_col: str, key: Column) -> DataFrame:
    """Random-oversample every class to the MAJORITY class size
    (rand_oversample_smpls:102, imblearn RandomOverSampler semantics),
    deterministically: every row is replicated floor(target/n) times and
    the first (target mod n) rows in md5-hash order get one extra copy.
    Explode of a sequence column — no RNG, no collect."""
    from pyspark.sql import Window as W

    h = F.md5(key.cast("string"))
    w = W.partitionBy(class_col).orderBy(h, key)
    counts = df.groupBy(class_col).agg(F.count("*").alias("_n"))
    mx = counts.agg(F.max("_n").alias("_mx"))
    ranked = (
        df.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(counts), class_col)
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "_reps",
            F.floor(F.col("_mx") / F.col("_n")).cast("long")
            + F.when(
                F.col("_rk") <= F.col("_mx") % F.col("_n"), F.lit(1)
            ).otherwise(F.lit(0)),
        )
    )
    return ranked.withColumn(
        "_i", F.explode(F.sequence(F.lit(1), F.col("_reps")))
    ).drop("_rk", "_n", "_mx", "_reps", "_i")


def smote_oversample(
    pdf_feats, labels, minority_label, k: int = 5, n_synth: int = 100
):
    """Deterministic SMOTE (smote_oversample_smpls:128): synthetic
    minority samples x + λ·(x_nn − x) where the neighbour index and λ
    derive from a hash of the sample index — no RNG state. Driver/worker
    numpy helper (minority classes are small by definition; for
    cluster-scale synthesis wrap per class in applyInPandas)."""
    import hashlib

    import numpy as np

    X = np.asarray(pdf_feats, np.float64)
    y = np.asarray(labels)
    Xm = X[y == minority_label]
    if len(Xm) <= k:
        raise ValueError("minority class must have more than k samples")
    d2 = ((Xm[:, None, :] - Xm[None, :, :]) ** 2).sum(2)
    np.fill_diagonal(d2, np.inf)
    nn = np.argsort(d2, axis=1, kind="stable")[:, :k]
    out = np.empty((n_synth, X.shape[1]))
    for s in range(n_synth):
        hsh = int(hashlib.md5(f"smote{s}".encode()).hexdigest()[:12], 16)
        i = hsh % len(Xm)
        j = nn[i, (hsh // len(Xm)) % k]
        lam = ((hsh >> 24) % 1000) / 1000.0
        out[s] = Xm[i] + lam * (Xm[j] - Xm[i])
    return out
