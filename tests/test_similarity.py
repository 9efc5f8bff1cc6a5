"""Similarity-search operators: brute-force exactness vs numpy, and
recall of the approximate IVF path against brute force on the
driver-provided embeddings table."""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    if not os.path.exists(f"{SF_DIR}/embeddings.parquet"):
        pytest.skip("driver testdata unavailable")
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _numpy_topk(pdf, probe_ids, k=3):
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for pid in probe_ids:
        p = mat[ids == pid][0]
        sims = np.round(mat @ p, 4)
        order = sorted(
            [(s, i) for s, i in zip(sims, ids) if i != pid],
            key=lambda t: (-t[0], t[1]),
        )
        out[pid] = [i for _, i in order[:k]]
    return out


def test_brute_force_matches_numpy(spark, emb):
    from pii_redaction_data_pipeline_spark.operators.similarity import brute_force_topk

    probes = emb.filter(F.col("vec_id") < 5)
    got = brute_force_topk(emb, probes, k=3).orderBy("probe_id", "rank").toPandas()
    expect = _numpy_topk(emb.toPandas(), sorted(got["probe_id"].unique()), k=3)
    for pid, nbrs in expect.items():
        mine = got[got["probe_id"] == pid].sort_values("rank")["nbr_id"].tolist()
        assert mine == nbrs, f"probe {pid}: {mine} != {nbrs}"


def _recall_at_k(spark, emb, approx_fn, k=3, **kw):
    from pii_redaction_data_pipeline_spark.operators.similarity import brute_force_topk

    probes = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, probes, k=k).toPandas()
    approx = approx_fn(emb, probes, k=k, **kw).toPandas()
    hits = tot = 0
    for pid in exact["probe_id"].unique():
        e = set(exact[exact["probe_id"] == pid]["nbr_id"])
        a = set(approx[approx["probe_id"] == pid]["nbr_id"])
        hits += len(e & a)
        tot += len(e)
    return hits / tot


def test_ivf_recall(spark, emb):
    from pii_redaction_data_pipeline_spark.operators.similarity import ivf_ann_topk

    r = _recall_at_k(spark, emb, ivf_ann_topk, k=3, n_cells=8, nprobe=4)
    assert r >= 0.6, f"IVF recall@3 too low: {r}"


def test_ivf_deterministic_across_partitioning(spark, emb):
    from pii_redaction_data_pipeline_spark.operators.similarity import ivf_ann_topk

    probes = emb.filter(F.col("vec_id") < 5)
    a = ivf_ann_topk(emb, probes, k=3).orderBy("probe_id", "rank").toPandas()
    b = (
        ivf_ann_topk(emb.repartition(13), probes, k=3)
        .orderBy("probe_id", "rank")
        .toPandas()
    )
    assert a[["probe_id", "rank", "nbr_id"]].values.tolist() == \
        b[["probe_id", "rank", "nbr_id"]].values.tolist()
