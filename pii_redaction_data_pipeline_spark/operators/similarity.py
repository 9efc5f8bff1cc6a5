"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline; an IVF coarse
quantizer as the scale path (candidates shrink to the probed cells, the
join is an equi-join on cell — no O(n^2) shuffle at 100 TB).

The dot products stay JVM-side via F.zip_with + F.aggregate (whole-stage
codegen); the only Python is the IVF cell assignment (one numpy matmul
per Arrow batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    probes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe row.

    probes is small -> broadcast; ranking uses (rounded sim desc, id asc)
    so ties are deterministic across engines.
    """
    cand = df.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("nbr_vec"),
    )
    pr = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("probe_vec"),
    )
    joined = cand.join(F.broadcast(pr), F.col("nbr_id") != F.col("probe_id"))
    sim = F.round(cosine_similarity_col(F.col("probe_vec"), F.col("nbr_vec")), round_digits)
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("nbr_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "nbr_id", "sim")
    )


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    sample_n: int = 2048,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7451,
) -> np.ndarray:
    """Deterministic spherical-k-means coarse quantizer for IVF.

    Trains on a bounded, deterministically-chosen sample (first sample_n
    rows by id) collected to the driver — the ONLY driver-side collect in
    the similarity module, capped at sample_n rows regardless of table
    size. NOTE: this collect runs EAGERLY at call time (a Spark job at
    DataFrame-construction time), and when the sample has fewer than
    n_cells rows the quantizer trains that many centroids, not n_cells
    (duplicate init rows collapse). Centroids are L2-normalized;
    assignment is max dot product (cosine). Returns (n_cells, dim)
    float64. Raises ValueError on an empty corpus.
    """
    pdf = (
        df.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError("train_ivf_centroids: empty corpus (no vectors to train on)")
    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    if mat.ndim != 2:
        raise ValueError("train_ivf_centroids: non-uniform embedding dimensions")
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = mat[rng.permutation(len(mat))[:n_cells]].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def make_ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """pandas UDF: vector -> its nprobe nearest cells (cosine), nearest
    first. Centroids are closure-captured (broadcast with the serialized
    UDF, loaded once per executor)."""
    cent = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent.T  # (batch, n_cells)
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top), index=vecs.index)

    return assign


def ivf_ann_topk(
    df: DataFrame,
    probes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    round_digits: int = 4,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into n_cells
    inverted lists (each vector in exactly one cell), probe the nprobe
    nearest cells per query, exact cosine re-rank the candidates.

    At scale: assignment is a per-row pandas UDF with broadcast centroids
    (zero shuffle); the candidate join is an equi-join on `cell`
    restricted to the probes' cells, so a corpus written partitioned/
    bucketed by cell gets partition-pruned reads — the classic FAISS-IVF
    layout expressed relationally.
    """
    cent = train_ivf_centroids(df, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    assign1 = make_ivf_assign_udf(cent, nprobe=1)
    assignp = make_ivf_assign_udf(cent, nprobe=nprobe)

    cand = df.select(
        F.col(id_col).alias("nbr_id"),
        F.col(vec_col).cast("array<double>").alias("nbr_vec"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    pr = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("probe_vec"),
        F.explode(assignp(F.col(vec_col))).alias("cell"),
    )
    joined = (
        cand.join(F.broadcast(pr), "cell")
        .filter(F.col("nbr_id") != F.col("probe_id"))
        .select("probe_id", "probe_vec", "nbr_id", "nbr_vec")
    )
    sim = F.round(cosine_similarity_col(F.col("probe_vec"), F.col("nbr_vec")), round_digits)
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("nbr_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "nbr_id", "sim")
    )
