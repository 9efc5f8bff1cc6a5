"""Learned quality classifier: fastText/GPT-3-style linear filter.

The heuristic rules (functions/quality.py) and the KN fluency gate
(functions/perplexity.py) are FIXED scorers; web-scale curation
pipelines additionally train a cheap linear classifier on
curated-vs-random text and keep documents by its score — GPT-3's
quality filter (Brown et al. 2020, appendix A) and CCNet's fastText
filter are the published templates. No reference analog (the reference
redacts PII, it does not curate training data); this sits beside
DSIR (operators/dsir.py) as the DISCRIMINATIVE counterpart of its
generative bag-of-grams likelihood ratio.

Scale design.

  train      on SAMPLES, not the corpus: a linear model saturates at
             ~10^6 rows, so the positive side is the curated domain
             sample and the negative side a deterministic sample of
             the raw corpus (operators/sampling.py). Each L-BFGS
             iteration is one treeAggregate whose per-partition state
             is a dense gradient of n_features doubles (2 MB at the
             2^18 default) — bounded by D, never by corpus size.
  featurize  gram arrays and hash indices are Catalyst expressions
             (split / transform-lambda bigrams / pmod(hash, D));
             feature width is FIXED (hashing trick), so the model
             artifact is <= 2 MB dense regardless of vocabulary and
             broadcasts like the KN table. Vector assembly for MLlib
             is training-only (see featurize docstring).
  score      one narrow pass over the corpus that never touches
             MLlib: the model is linear, so scoring is
             sigmoid(w.x + b) where x is the hashed gram-count
             vector. Gram hash indices are computed JVM-side with
             pmod(hash(gram), n_features) — the SAME Catalyst
             expression training hashed with, so buckets match by
             construction (pinned by tests/test_quality_classifier.py
             ::test_featurize_matches_scoring_indices). The dense
             coefficient vector (<= 2 MB at the 2^18 default) is
             broadcast once and a vectorized pandas UDF gathers
             w[idx] per row. MLlib's model.transform is deliberately
             NOT used here: its Scala closure drags the session's
             ObservationManager into the task closure and crashes
             with NotSerializableException in any session that has
             run the pipeline's Observation-based lineage
             (plans/pipeline.py) — scoring must compose with the
             pipeline in ONE session, like the reference's single
             state machine runs detection after extraction in one
             execution (reference/backend/lib/
             cdk-stepfunctions-stack.js:315-328).
  keep gate  GPT-3 keeps a document iff
             np.random.pareto(alpha) > 1 - score; `pareto_quality_gate`
             replaces the RNG with the repo's deterministic sha256
             uniform (operators/sampling.py contract: deterministic,
             partitioning-independent, engine-replayable), applying
             the Lomax inverse CDF (1-u)^(-1/alpha) - 1 to it. Same
             distribution, replayable selection.

Correctness: value-checked by pytest (tests/test_quality_classifier.py:
planted separable corpora -> held-out F1, gate keep-rate against the
closed-form Lomax tail, partitioning invariance). Iterative training is
not SQL-expressible, so there is deliberately no driver oracle entry —
the same standing as the streaming surface (SURVEY.md §5).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.functions.grams import normalized_text
from pii_redaction_data_pipeline_spark.operators.sampling import (
    _HEX_SPAN,
    sample_bucket_col,
)

_WORDS = "_qc_words"
_GRAMS = "_qc_grams"
FEATURES_COL = "_qc_features"

# guards score_quality's per-classifier broadcast memo: two concurrent
# scoring calls over the same classifier must not both broadcast the
# ~2 MB weight vector (the loser's handle would linger until GC)
_BC_MEMO_LOCK = threading.Lock()


def _gram_arrays(df: DataFrame, text_col: str, use_bigrams: bool) -> DataFrame:
    """text -> array of word uni(+bi)grams, normalized exactly like the
    dedup/decontaminate/DSIR family (lower + whitespace collapse) so one
    mental model covers every gram-based operator."""
    df = df.withColumn(_WORDS, F.split(normalized_text(F.col(text_col)), " "))
    if use_bigrams:
        # space-joined consecutive pairs, same output as ml.feature.NGram(n=2)
        # but pure Catalyst (codegen'd, no per-row Scala closure):
        bi = F.expr(
            f"transform(slice({_WORDS}, 1, greatest(size({_WORDS}) - 1, 0)),"
            f" (x, i) -> concat(x, ' ', {_WORDS}[i + 1]))"
        )
        df = df.withColumn(_GRAMS, F.concat(F.col(_WORDS), bi))
    else:
        df = df.withColumn(_GRAMS, F.col(_WORDS))
    return df.drop(_WORDS)


def hashed_gram_indices(
    df: DataFrame, text_col: str, n_features: int, use_bigrams: bool, out_col: str
) -> DataFrame:
    """Adds array<int> of hashed-gram feature indices — the sparse row
    of the bag-of-grams matrix, computed purely in Catalyst:
    pmod(hash(gram), n_features) (murmur3 seed 42, codegen'd). This is
    THE hash function of the filter: both training (featurize) and
    scoring (score_quality) consume these indices, so bucket agreement
    is by construction. ml.feature.HashingTF is deliberately not used —
    its hashUnsafeBytes2 murmur3 variant differs from Catalyst's and is
    not reachable from a vectorized scoring path. Multiplicity is
    preserved (an index appears once per gram occurrence) — the
    term-frequency weighting."""
    df = _gram_arrays(df, text_col, use_bigrams)
    idx = F.transform(F.col(_GRAMS), lambda g: F.pmod(F.hash(g), F.lit(n_features)))
    return df.withColumn(out_col, idx).drop(_GRAMS)


def featurize(
    df: DataFrame,
    text_col: str = "text",
    n_features: int = 2 ** 18,
    use_bigrams: bool = True,
) -> DataFrame:
    """Adds the fixed-width hashed bag-of-grams SparseVector
    (FEATURES_COL) for MLlib training. Hash indices come from
    hashed_gram_indices (Catalyst) — identical to what scoring gathers.
    The final vector assembly is a per-row UDF by necessity (VectorUDT
    has no Arrow codec), and that is acceptable ONLY here: training is
    sample-bounded by contract (~10^6 rows, module docstring), so this
    never touches the corpus hot path — scoring stays pandas/Arrow."""
    from pyspark.ml.linalg import Vectors, VectorUDT

    df = hashed_gram_indices(df, text_col, n_features, use_bigrams, "_qc_idx")

    @F.udf(VectorUDT())
    def _to_vec(idxs):
        if not idxs:
            return Vectors.sparse(n_features, [], [])
        u, c = np.unique(np.asarray(idxs, dtype=np.int64), return_counts=True)
        return Vectors.sparse(n_features, u.tolist(), c.astype(np.float64).tolist())

    return df.withColumn(FEATURES_COL, _to_vec(F.col("_qc_idx"))).drop("_qc_idx")


@dataclass(frozen=True, eq=False)
class QualityClassifier:
    """The extracted linear model WITH its featurization settings —
    scoring must hash grams exactly as training did, so the two travel
    together (a silent use_bigrams/n_features mismatch would scramble
    buckets without any width error). Holding the raw (weights,
    intercept) instead of the MLlib model object keeps the artifact a
    plain broadcastable ndarray and keeps MLlib entirely out of the
    scoring path (see module docstring: model.transform is
    session-composition-broken).

    eq=False: the generated __eq__/__hash__ would compare the ndarray
    field (ValueError on truth-testing, TypeError on hashing); identity
    semantics match the previous MLlib-model field and are what the
    broadcast memoization keys on."""

    weights: object  # numpy.ndarray float64, dense, length n_features
    intercept: float
    n_features: int
    use_bigrams: bool


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    n_features: int = 2 ** 18,
    use_bigrams: bool = True,
    max_iter: int = 50,
    reg_param: float = 1e-4,
) -> QualityClassifier:
    """Fit the linear filter: positives = the register you want more of
    (curated sample), negatives = a deterministic sample of the raw
    corpus (the CCNet/GPT-3 recipe). MLlib's L-BFGS does the fitting
    (each iteration one bounded treeAggregate); the fitted model is
    immediately flattened to its dense (weights, intercept) so nothing
    downstream ever calls back into MLlib."""
    from pyspark.ml.classification import LogisticRegression

    train = positives.select(
        F.col(text_col).alias("text"), F.lit(1.0).alias("label")
    ).unionByName(
        negatives.select(F.col(text_col).alias("text"), F.lit(0.0).alias("label"))
    )
    feat = featurize(train, "text", n_features, use_bigrams)
    lr = LogisticRegression(
        featuresCol=FEATURES_COL,
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
        standardization=False,
    )
    model = lr.fit(feat)
    weights = np.asarray(model.coefficients.toArray(), dtype=np.float64)
    return QualityClassifier(weights, float(model.intercept), n_features, use_bigrams)


def score_quality(
    df: DataFrame,
    clf: QualityClassifier,
    text_col: str = "text",
    out_col: str = "q_score",
) -> DataFrame:
    """Adds P(curated | text) as `out_col` = sigmoid(w.x + b). Gram
    hashing stays JVM-side (the same Catalyst hash training used, see
    module docstring); the only Python is one vectorized pandas UDF that
    gathers the broadcast weight vector at the row's indices — an
    Arrow-batched numpy fancy-index + segmented sum, no MLlib, no
    shuffle, composes with Observation-bearing sessions. Every input
    column passes through untouched.

    The weight broadcast is memoized ON the classifier (one per
    classifier per SparkContext, refreshed if the context restarted):
    scoring many frames in a loop must not accumulate ~2 MB broadcasts
    for the session's lifetime, and dropping the classifier drops the
    broadcast with it via Spark's ContextCleaner weak-ref tracking."""
    spark = df.sparkSession
    sc = spark.sparkContext
    # one lock for all classifiers: broadcasts are rare (once per
    # classifier per context) so contention is nil, and a shared lock
    # avoids growing per-instance state beyond the memo itself
    with _BC_MEMO_LOCK:
        cached = getattr(clf, "_bc_weights", None)
        if cached is not None and cached[0] == sc.applicationId:
            bc_w = cached[1]
        else:
            bc_w = sc.broadcast(clf.weights)
            # frozen dataclass: the cache is deliberately not a field (it
            # is session state, not model identity) so bypass the freeze
            object.__setattr__(clf, "_bc_weights", (sc.applicationId, bc_w))
    b0 = clf.intercept

    @F.pandas_udf("double")
    def _sigmoid_dot(idx: pd.Series) -> pd.Series:
        w = bc_w.value
        vals = idx.values
        lens = np.fromiter(
            (0 if a is None else len(a) for a in vals),
            dtype=np.int64,
            count=len(vals),
        )
        sums = np.zeros(len(vals), dtype=np.float64)
        nonzero = lens > 0
        if nonzero.any():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in vals if a is not None and len(a)]
            )
            # per-segment reduceat: each row's sum depends only on its own
            # slice, so scores are bitwise partitioning/batching-invariant
            # (a batch-wide cumsum would leak neighbors' rounding into it).
            starts = np.cumsum(lens) - lens
            sums[nonzero] = np.add.reduceat(w[flat], starts[nonzero])
        logit = b0 + sums
        return pd.Series(1.0 / (1.0 + np.exp(-np.clip(logit, -500.0, 500.0))))

    idx_col = "_qc_idx"
    out = hashed_gram_indices(df, text_col, clf.n_features, clf.use_bigrams, idx_col)
    return out.withColumn(out_col, _sigmoid_dot(F.col(idx_col))).drop(idx_col)


def _deterministic_uniform(key_cols, seed: int) -> Column:
    """[0, 1) uniform from the sampling family's sha256 bucket — the
    hex prefix IS a uniform draw over [0, 16^8) (operators/sampling.py
    rationale: deterministic, partitioning-independent, replayable)."""
    return F.conv(sample_bucket_col(key_cols, seed), 16, 10).cast("double") / F.lit(
        float(_HEX_SPAN)
    )


def pareto_quality_gate(
    df: DataFrame,
    score_col: str = "q_score",
    key_cols=("doc_id",),
    alpha: float = 9.0,
    seed: int = 0,
) -> DataFrame:
    """GPT-3's noisy keep rule, made deterministic: keep a document iff
    pareto_draw > 1 - score, with the draw derived from the row's own
    key instead of an RNG — draw = (1-u)^(-1/alpha) - 1 (Lomax inverse
    CDF) over the sha256 uniform. P(keep | score s) = (2 - s)^(-alpha),
    so score ~1 keeps almost surely while low scores retain a heavy-
    tailed trickle (the published rationale: don't starve the corpus of
    everything the classifier dislikes). Pure Catalyst expressions —
    the gate is a codegen'd predicate, no UDF, no shuffle."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    u = _deterministic_uniform(list(key_cols), seed)
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return df.filter(F.col(score_col) + draw > F.lit(1.0))
