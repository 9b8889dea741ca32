"""Similarity search over embedding columns (array<float>).

Two paths, as a large corpus demands:
- brute-force exact cosine top-k: JVM-side fold (F.aggregate /
  zip_with) or a numpy pandas UDF — the correctness baseline and fine
  up to ~10^7 vectors per query batch;
- LSH-bucketed (random hyperplane signs) ANN: each vector maps to a
  small number of hash buckets; queries probe only their buckets, so
  the candidate set (and the shuffle) shrinks by orders of magnitude —
  the 100 TB path. An IVF variant (k-means-ish coarse centroids via
  sampled seeds) is provided for recall-sensitive workloads.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot_expr(vec_col: str, q: list[float]):
    """Left-assoc double-precision dot product with a literal vector,
    fully inside codegen."""
    terms = [
        F.col(vec_col)[i].cast("double") * F.lit(float(qv))
        for i, qv in enumerate(q)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _norm_expr(vec_col: str, dim: int):
    return F.sqrt(
        F.aggregate(
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_brute(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector. TakeOrderedAndProject
    keeps this shuffle-free beyond per-partition heaps."""
    qn = math.sqrt(sum(v * v for v in query))
    sim = (_dot_expr(vec_col, query) / (_norm_expr(vec_col, len(query)) * qn)).alias(
        "cosine_sim"
    )
    return (
        df.select(id_col, sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pairwise_cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec_col: str = "embedding",
    q_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Batch kNN: top-k corpus neighbors for every query row via
    broadcast of the (small) query set + rank window. The corpus never
    shuffles; the window partitions by query id. ``exclude_self`` drops
    corpus rows whose id equals the query id (queries drawn from the
    corpus itself) before ranking."""
    q = F.broadcast(
        queries.select(
            F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("q_vec")
        )
    )
    joined = df.select(id_col, vec_col).crossJoin(q)
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("q_vec"),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    norm_b = F.sqrt(
        F.aggregate(
            F.transform(F.col("q_vec"), lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    if exclude_self:
        joined = joined.where(F.col(id_col) != F.col("query_id"))
    sims = joined.select(
        "query_id", id_col, (dot / (norm_a * norm_b)).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_bucket(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucket id per vector: one long whose bits are the signs
    of the dot products with the random hyperplanes. Append-only and
    fully JVM-side, so bucketing 10^11 vectors is a narrow map."""
    bucket = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        bit = F.when(_dot_expr(vec_col, plane) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(F.shiftleft(bit, b))
    return df.withColumn("lsh_bucket", bucket)


def lsh_bucket_fast(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Sign-LSH bucket id per vector via one numpy GEMM per Arrow
    batch. (The pure-expression variant in lsh_bucket keeps everything
    JVM-side but builds an n_planes × dim term tree — beyond ~8 planes
    the generated code exceeds codegen budgets and falls out of
    compilation; the GEMM path is faster from ~4 planes up.)"""
    import numpy as np

    p_mat = np.asarray(planes, dtype=np.float64).T  # (dim, p)
    weights = np.power(2.0, np.arange(p_mat.shape[1]))

    @F.pandas_udf("long")
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        signs = (m @ p_mat) >= 0
        return pd.Series((signs @ weights).astype(np.int64))

    return df.withColumn(out_col, bucket(F.col(vec_col)))


def cosine_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 12,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: probe only buckets within ``probe_hamming`` of the
    query's bucket (multi-probe sign-LSH), then exact-rank the
    candidates. At scale, pre-bucket the corpus once (lsh_bucket_fast)
    and partition storage by bucket for partition pruning."""
    dim = len(query)
    planes = random_hyperplanes(dim, n_planes, seed)
    bucketed = lsh_bucket_fast(df, planes, vec_col)
    qb = 0
    for b, plane in enumerate(planes):
        if sum(p * qv for p, qv in zip(plane, query)) >= 0:
            qb |= 1 << b
    probes = [qb]
    if probe_hamming >= 1:
        probes += [qb ^ (1 << b) for b in range(n_planes)]
    if probe_hamming >= 2:
        probes += [
            qb ^ (1 << b1) ^ (1 << b2)
            for b1 in range(n_planes)
            for b2 in range(b1 + 1, n_planes)
        ]
    cand = bucketed.where(F.col("lsh_bucket").isin(probes))
    return cosine_topk_brute(cand, query, k, vec_col, id_col)


def sampled_centroids(
    df: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic coarse centroids: the ``n_cells`` lowest-id
    vectors, normalized. A k-means refinement would sharpen cell
    balance, but for IVF pruning any fixed well-spread seed set works —
    and the centroid table must be tiny (it is broadcast into every
    assignment expression)."""
    import numpy as np

    rows = (
        df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(n_cells).collect()
    )
    out = []
    for r in rows:
        v = np.asarray(r[1], dtype=np.float64)
        # left-associative sum of squares, NOT np.linalg.norm: this is
        # the exact IEEE op sequence a SQL `0.0 + x1*x1 + x2*x2 + ...`
        # chain produces, so an external engine (the DuckDB oracle)
        # derives bit-identical normalized centroids.
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        n = math.sqrt(acc) or 1.0
        out.append((v / n).tolist())
    return out


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    n_probe: int = 4,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose coarse cell is
    among the query's ``n_probe`` nearest centroids. At scale the table
    is stored partitioned by ``ivf_cell`` (ivf_assign at ingest), so
    the probe is partition pruning — a scan of n_probe/n_cells of the
    data — rather than a filter; the brute-force ranking then runs on
    that small slice only."""
    import numpy as np

    qv = np.asarray(query, dtype=np.float64)
    scores = [float(np.dot(qv, np.asarray(c))) for c in centroids]
    probe = sorted(range(len(centroids)), key=lambda i: -scores[i])[:n_probe]
    cand = ivf_assign(df, centroids, vec_col).where(
        F.col("ivf_cell").isin(*probe)
    )
    return cosine_topk_brute(cand, query, k, vec_col, id_col)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid id via one numpy GEMM per Arrow batch (argmax of
    vectors @ centroids.T). An expression formulation (array_max over
    n_cells (dot, cid) structs) builds an n_cells x dim term tree —
    at 16 centroids x dim 64 the generated Java exceeds codegen
    budgets and Spark silently falls back to interpreting a 1024-node
    expression per row; per the recorded Arrow-vs-expression rule the
    GEMM kernel wins because only the compact vector column crosses
    the Arrow boundary. np.argmax breaks exact-tie scores to the
    lowest centroid id (deterministic; exact float ties do not occur
    for distinct centroids). Store partitioned by ``ivf_cell`` and
    queries prune to the closest cells."""
    import numpy as np

    c_mat = np.asarray(centroids, dtype=np.float64).T  # (dim, n_cells)

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        return pd.Series((m @ c_mat).argmax(axis=1).astype(np.int32))

    return df.withColumn("ivf_cell", assign(F.col(vec_col)))


def normalize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "normalized",
) -> DataFrame:
    """L2-normalize an embedding column to unit length — the prep step
    that turns every downstream cosine into a plain dot product (and
    the one most ANN indexes require at build time). Output keeps the
    input columns and appends ``out_col`` (array<double>) plus
    ``l2_norm`` (the pre-normalization magnitude — the natural
    zero-vector/NaN screen).

    Pure narrow expressions: the squared-norm folds left-to-right in
    declared element order via ``aggregate`` (deterministic IEEE
    sequence, same recipe as the cosine oracles), transform divides
    each component once. Zero vectors normalize to NULL rather than a
    0/0 NaN array. No shuffle, no Python.
    """
    acc = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    norm = F.sqrt(acc)
    return df.withColumn("l2_norm", norm).withColumn(
        out_col,
        F.when(
            F.col("l2_norm") > F.lit(0.0),
            F.transform(
                F.col(vec_col),
                lambda x: x.cast("double") / F.col("l2_norm"),
            ),
        ),
    )
