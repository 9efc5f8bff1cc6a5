"""DSIR importance-resampling selection (operators/dsir.py).

The driver-contract oracle (dsir_select in __spark_entry__) value-checks
the exact-gram path against DuckDB at sf0.01; these tests pin the parts
the oracle can't see: the weight formula against a hand-computed numpy
model, the bucketed broadcast scale path's agreement with the exact
path, the unseen-gram fallback when raw is a sample, and selection
determinism under ties.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.operators.dsir import (
    dsir_select,
    dsir_weights,
)

SF_DIR = "/root/testdata/sf0.001"


def _hand_weights(corpus_texts, target_texts, ns=(1, 2), alpha=1.0):
    """Reference bag-of-grams model in plain python/numpy."""

    def grams(t):
        w = " ".join(t.lower().split()).split(" ")
        out = []
        for k in ns:
            if k == 1:
                out += w
            elif len(w) >= k:
                out += [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
        return out

    from collections import Counter

    tgt = Counter()
    for t in target_texts:
        tgt.update(grams(t))
    raw = Counter()
    for t in corpus_texts:
        raw.update(grams(t))
    vocab = set(tgt) | set(raw)
    T, R, V = sum(tgt.values()), sum(raw.values()), len(vocab)
    lr = {
        g: math.log((tgt[g] + alpha) / (T + alpha * V))
        - math.log((raw[g] + alpha) / (R + alpha * V))
        for g in vocab
    }
    return [sum(lr[g] for g in grams(t)) for t in corpus_texts]


class TestDsirWeights:
    def test_matches_hand_model(self, spark):
        corpus_texts = [
            "the quick brown fox jumps",
            "pack my box with five dozen jugs",
            "the quick quick fox",
            "entirely different words here",
        ]
        target_texts = [corpus_texts[0], corpus_texts[2]]
        corpus = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus_texts)], "doc_id long, text string"
        )
        target = spark.createDataFrame([(t,) for t in target_texts], "text string")
        got = {
            r["doc_id"]: (r["n_grams"], r["weight"])
            for r in dsir_weights(corpus, target, round_to=6).collect()
        }
        want = _hand_weights(corpus_texts, target_texts)
        for i, t in enumerate(corpus_texts):
            w = " ".join(t.lower().split()).split(" ")
            assert got[i][0] == len(w) + max(len(w) - 1, 0)
            assert got[i][1] == pytest.approx(want[i], abs=2e-6)
        # target-like docs must outscore the outlier
        assert got[0][1] > got[3][1] and got[2][1] > got[3][1]

    def test_unseen_grams_fall_back_not_drop(self, spark):
        # raw is a sample that misses doc 1's vocabulary entirely —
        # its grams must still count (alpha fallback), not vanish
        corpus = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "delta epsilon zeta")],
            "doc_id long, text string",
        )
        target = corpus.filter("doc_id = 0").select("text")
        raw = corpus.filter("doc_id = 0").select("text")
        rows = {
            r["doc_id"]: r
            for r in dsir_weights(corpus, target, raw=raw).collect()
        }
        assert rows[1]["n_grams"] == 5
        assert rows[1]["weight"] is not None
        # unseen ratio is log(R+aV)-log(T+aV) = 0 here (target==raw)
        assert rows[1]["weight"] == pytest.approx(0.0, abs=1e-9)

    def test_add_alpha_smoothing_hand_values(self, spark):
        target = spark.createDataFrame([("a a b",)], "text string")
        raw = spark.createDataFrame([("a b b",)], "text string")
        corpus = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "a b a")], "doc_id long, text string"
        )
        w = {r["doc_id"]: r["weight"] for r in dsir_weights(
            corpus, target, raw=raw, ns=(1,), round_to=None).collect()}
        # vocab {a, b}: T=R=3, V=2 -> ratio for 'a' = log(3/5)-log(2/5),
        # for 'b' = log(2/5)-log(3/5); a document sums its grams' ratios
        assert w[0] == pytest.approx(math.log(3 / 2), abs=1e-12)
        assert w[1] == pytest.approx(math.log(2 / 3), abs=1e-12)
        assert w[2] == pytest.approx(math.log(3 / 2), abs=1e-12)


class TestDsirSelect:
    def test_selected_count_and_determinism(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 120
        )
        target = docs.filter(F.col("doc_id") % 5 == 1).select("text")
        out = dsir_select(docs, target, k_top=25)
        pdf = out.toPandas().sort_values("doc_id", ignore_index=True)
        assert int(pdf["selected"].sum()) == 25
        # re-run under a different partitioning -> identical selection
        pdf2 = (
            dsir_select(docs.repartition(7, "doc_id"), target, k_top=25)
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        assert (pdf["selected"] == pdf2["selected"]).all()
        assert np.allclose(pdf["weight"], pdf2["weight"])
        # selection is the top-25 of (weight desc, doc_id asc)
        order = pdf.sort_values(
            ["weight", "doc_id"], ascending=[False, True], ignore_index=True
        )
        assert set(order.loc[:24, "doc_id"]) == set(
            pdf[pdf["selected"]]["doc_id"]
        )

    def test_tie_break_on_id(self, spark):
        # identical docs -> identical weights; k=2 must keep lowest ids
        corpus = spark.createDataFrame(
            [(i, "same text here") for i in range(4)], "doc_id long, text string"
        )
        target = corpus.limit(1).select("text")
        pdf = (
            dsir_select(corpus, target, k_top=2)
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        assert pdf["selected"].tolist() == [True, True, False, False]


class TestBucketedScalePath:
    def test_bucketed_agrees_with_exact(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 200
        )
        target = docs.filter(F.col("doc_id") % 5 == 1).select("text")
        exact = (
            dsir_select(docs, target, k_top=40)
            .toPandas()
            .set_index("doc_id")
        )
        bucketed = (
            dsir_select(docs, target, k_top=40, n_buckets=1 << 16)
            .toPandas()
            .set_index("doc_id")
        )
        # hash-bucket collisions perturb weights slightly; ranking must
        # stay essentially intact at fixture scale
        sel_e = set(exact[exact["selected"]].index)
        sel_b = set(bucketed[bucketed["selected"]].index)
        assert len(sel_e & sel_b) >= 36  # >=90% top-k overlap
        corr = np.corrcoef(
            exact["weight"].sort_index(), bucketed["weight"].sort_index()
        )[0, 1]
        assert corr > 0.995

    def test_bucketed_plan_broadcasts_stats(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
            F.col("doc_id") < 100
        )
        target = docs.filter(F.col("doc_id") % 5 == 1).select("text")
        scored = dsir_weights(docs, target, n_buckets=4096)
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # gram strings never reach an exchange: every Exchange's output
        # carries only hash/count/id columns
        import re

        for m in re.finditer(r"Exchange [^\n]*", plan):
            assert "text" not in m.group(0), m.group(0)


def test_null_text_doc_keeps_its_row(spark):
    """A NULL-text corpus doc must appear in dsir output like an
    empty-string doc (one ''-unigram), not vanish from the frame
    (round-5 review finding: split(NULL) explodes to zero rows)."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame([(10, "alpha beta")], "doc_id long, text string")
    out = dsir_select(corpus, target, k_top=2)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].n_grams == rows[3].n_grams and rows[2].weight == rows[3].weight
