"""Similarity search over embedding columns (array<float>).

 - :func:`cosine_topk_bruteforce` — exact top-k, pure Catalyst
   (``aggregate``/``zip_with`` dot products; no UDF): the correctness
   baseline. O(Q×N) — fine when the query side is small/broadcast.
 - :func:`lsh_bucketed_topk` — sign-LSH (random-hyperplane family, but
   hyperplanes = deterministic reference vectors so results are
   reproducible and oracle-checkable): bucket both sides by the sign
   pattern, search within bucket only — the scale path; recall<1 by
   design, like any ANN.
 - :func:`ivf_topk` — IVF-style: k-means-lite centroids (sampled seed
   vectors), assign each vector to nearest centroid (coarse quantizer),
   probe ``nprobe`` nearest centroids per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_block_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via broadcast matrix + per-batch BLAS
    matmul (each task computes a (batch × all) block of the similarity
    matrix; the full matrix never materializes). ~1000× the throughput of
    per-pair array folds; used when bit-exact SQL-oracle parity is not
    required (BLAS summation order differs from a sequential fold in the
    last ulp).

    CEILING: the reference matrix is collected to the driver and
    broadcast, so this is the BROADCAST-SCALE path only — it raises
    above ``max_broadcast_rows`` (500k rows × 768-dim float64 ≈ 3 GB).
    Beyond that, bucket first: ``lsh_bucketed_topk`` / ``ivf_topk`` are
    the unbounded-N paths; or call this per LSH bucket."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    n = emb.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"cosine_block_pairs broadcasts the full matrix: {n} rows > "
            f"max_broadcast_rows={max_broadcast_rows}. Use lsh_bucketed_topk/"
            "ivf_topk, or run per LSH bucket."
        )
    pdf = emb.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(np.int64)
    M = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    b = spark.sparkContext.broadcast((ids, M))

    def _run(it):
        all_ids, mat = b.value
        for p in it:
            bid = p[id_col].to_numpy(np.int64)
            B = np.stack([np.asarray(v, np.float64) for v in p[vec_col]])
            B = B / np.linalg.norm(B, axis=1, keepdims=True)
            S = B @ mat.T
            qi, ci = np.nonzero((S >= threshold) & (bid[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {"id_a": bid[qi], "id_b": all_ids[ci], "cos": np.round(S[qi, ci], 4)}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        _run, schema="id_a long, id_b long, cos double"
    )


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbours per query (query side broadcast).

    Ranking is on the ROUNDED cosine with id tie-break, so results are
    stable across float summation orders (and across engines).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    v = vectors.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("v_vec"))
    crossed = v.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("nbr_id"))
    scored = crossed.withColumn(
        "cos", F.round(_dot(F.col("q_vec"), F.col("v_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("v_vec"))), round_digits)
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def sign_bucket(df: DataFrame, ref_vectors: list, vec_col: str = "embedding",
                out: str = "bucket") -> DataFrame:
    """LSH bucket id = sign bits of dot(v, ref_i) — deterministic
    hyperplane family from fixed reference vectors.

    The sign test runs on the ROUNDED dot (6 digits) so a last-ulp
    difference between engines' summation orders near zero cannot flip a
    bucket bit (module rule: rank/threshold on rounded scores only)."""
    bucket = F.lit(0)
    for i, ref in enumerate(ref_vectors):
        ref_arr = F.array(*[F.lit(float(x)) for x in ref])
        bit = F.when(
            F.round(_dot(F.col(vec_col), ref_arr), 6) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bucket + bit
    return df.withColumn(out, bucket)


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    ref_vectors: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: exact search restricted to the query's sign-LSH bucket."""
    vb = sign_bucket(vectors, ref_vectors, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("v_vec"), "bucket"
    )
    qb = sign_bucket(queries, ref_vectors, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket"
    )
    joined = vb.join(F.broadcast(qb), "bucket").filter(F.col("query_id") != F.col("nbr_id"))
    scored = joined.withColumn(
        "cos",
        F.round(
            _dot(F.col("q_vec"), F.col("v_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("v_vec"))),
            4,
        ),
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: centroids = the first ``n_centroids`` vectors by id
    (deterministic coarse quantizer — a k-means seeding); every vector is
    assigned to its nearest centroid; each query probes its ``nprobe``
    nearest centroid lists."""
    cents = vectors.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("c_vec")
    )
    v = vectors.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("v_vec"))
    # assign vectors to nearest centroid (argmax cosine)
    # assignment ranks on the ROUNDED cosine (module rule) so a last-ulp
    # engine difference near a tie cannot flip which centroid list a
    # vector lands in
    va = v.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c",
        F.round(
            _dot(F.col("v_vec"), F.col("c_vec")) / (_norm(F.col("v_vec")) * _norm(F.col("c_vec"))),
            6,
        ),
    )
    wv = W.partitionBy("nbr_id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
    assigned = va.withColumn("rn", F.row_number().over(wv)).filter("rn = 1").select(
        "nbr_id", "v_vec", "cent_id"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    qa = q.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c",
        F.round(
            _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
            6,
        ),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
    probes = qa.withColumn("rn", F.row_number().over(wq)).filter(
        F.col("rn") <= nprobe
    ).select("query_id", "q_vec", "cent_id")
    joined = assigned.join(probes, "cent_id").filter(F.col("query_id") != F.col("nbr_id"))
    scored = joined.withColumn(
        "cos",
        F.round(_dot(F.col("q_vec"), F.col("v_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("v_vec"))), 4),
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )
