"""Distributed KN trigram trainer: count parity, partition invariance,
and corpus-trained scoring through the broadcast UDF.

The reference trains nothing (its quality verdict is an external
service, SURVEY.md D5); `train_char_trigram_lm` is the Spark-native
path for fitting the fluency model ON the corpus being filtered —
sparse per-task counts, map-side-combined groupBy, bounded <=V^3-row
collect, then the same broadcast-table scoring as `default_model`.
"""

import numpy as np
import pandas as pd
import pytest

from pii_redaction_data_pipeline_spark.functions.perplexity import (
    TRAIN_CORPUS,
    V,
    CharTrigramLM,
    _ids,
    default_model,
    make_ppl_udf,
    row_trigram_counts,
    train_char_trigram_lm,
)

TEXTS = [
    "hello, how can i help you today?",
    "please restart the service and tell me whether the error appears.",
    "the quick brown fox jumps over the lazy dog",
    "",
    "a",
    "zz",
    "Order 12345 SHIPPED on 2024-01-02 !!",
    "unicode éü— falls into the OOV bucket",
    None,
    "tool output for the search returned 12 items with status complete.",
]


def _reference_counts(texts) -> np.ndarray:
    """Brute-force per-row counting: each row is an independent
    ' '-padded sequence, exactly the scoring convention."""
    tri = np.zeros((V, V, V), dtype=np.float64)
    for t in texts:
        ids = _ids((" " + (t or "") + " ").lower())
        if len(ids) >= 3:
            np.add.at(tri, (ids[:-2], ids[1:-1], ids[2:]), 1.0)
    return tri


def test_row_trigram_counts_matches_per_row_reference():
    got = row_trigram_counts(pd.Series(TEXTS, dtype=object))
    want = _reference_counts(TEXTS).reshape(-1)
    assert got.shape == (V * V * V,)
    assert np.array_equal(got, want), np.abs(got - want).sum()


def test_row_trigram_counts_empty_batch():
    assert row_trigram_counts(pd.Series([], dtype=object)).sum() == 0.0


def test_from_counts_matches_init_path():
    ids = _ids(" " + TRAIN_CORPUS.lower().replace("\n", " ") + " ")
    tri = np.zeros((V, V, V), dtype=np.float64)
    np.add.at(tri, (ids[:-2], ids[1:-1], ids[2:]), 1.0)
    a = CharTrigramLM(TRAIN_CORPUS)
    b = CharTrigramLM.from_counts(tri)
    assert np.array_equal(a.logp, b.logp)


def test_from_counts_rejects_bad_shape():
    with pytest.raises(ValueError):
        CharTrigramLM.from_counts(np.zeros((2, 2, 2)))


def test_distributed_trainer_partition_invariant(spark):
    df = spark.createDataFrame(
        [(t,) for t in TEXTS if t is not None], "text string"
    )
    lm1 = train_char_trigram_lm(df.repartition(1))
    lm7 = train_char_trigram_lm(df.repartition(7))
    want = CharTrigramLM.from_counts(
        _reference_counts([t for t in TEXTS if t is not None])
    )
    assert np.array_equal(lm1.logp, lm7.logp)
    assert np.array_equal(lm1.logp, want.logp)


def test_trained_model_through_broadcast_udf(spark):
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame([(t,) for t in TEXTS[:8] if t], "text string")
    lm = train_char_trigram_lm(corpus)
    udf = make_ppl_udf(spark, model=lm)
    rows = (
        corpus.withColumn("ppl", udf(F.col("text")))
        .orderBy("text")
        .collect()
    )
    want = lm.ppl_series(pd.Series(sorted(t for t in TEXTS[:8] if t)))
    for r, w in zip(rows, want):
        assert abs(r["ppl"] - w) <= 1e-6 * max(w, 1.0), (r["text"][:40], r["ppl"], w)


def test_annotate_with_corpus_trained_model(spark, tiny):
    """A corpus-trained ppl_model swaps the fluency table under the fused
    UDF: same rows/schema, different ppl values, deterministic across
    fits (the --train-ppl-on-corpus job surface)."""
    import dataclasses

    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    tr = spark.read.parquet(tiny[0])
    base = annotate(tr, PipelineConfig(), spark)
    cfg = dataclasses.replace(PipelineConfig(), train_ppl_on_corpus=True)
    trained1 = annotate(tr, cfg, spark, ppl_model=train_char_trigram_lm(tr, "text"))
    assert trained1.schema == base.schema
    assert trained1.count() == base.count()
    j = (
        base.select("conv_id", "turn_idx", F.col("ppl").alias("p0"))
        .join(
            trained1.select("conv_id", "turn_idx", F.col("ppl").alias("p1")),
            ["conv_id", "turn_idx"],
        )
    )
    diff = j.filter(F.abs(F.col("p0") - F.col("p1")) > 1e-9).count()
    assert diff > 0, "trained table should change ppl on real text"
    # determinism: a second fit and run reproduces ppl exactly
    trained2 = annotate(tr, cfg, spark, ppl_model=train_char_trigram_lm(tr, "text"))
    j2 = (
        trained1.select("conv_id", "turn_idx", F.col("ppl").alias("a"))
        .join(
            trained2.select("conv_id", "turn_idx", F.col("ppl").alias("b")),
            ["conv_id", "turn_idx"],
        )
    )
    assert j2.filter(~F.col("a").eqNullSafe(F.col("b"))).count() == 0


def test_annotate_requires_prefitted_model_for_corpus_ppl(spark, tiny):
    """cfg.train_ppl_on_corpus without a ppl_model raises instead of
    fitting on whatever frame annotate was handed (a resume remainder
    or a micro-batch would each get their own model)."""
    import dataclasses

    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    cfg = dataclasses.replace(PipelineConfig(), train_ppl_on_corpus=True)
    with pytest.raises(ValueError, match="pre-fitted ppl_model"):
        annotate(spark.read.parquet(tiny[0]), cfg, spark)


def test_job_cli_flag_sets_config():
    from pii_redaction_data_pipeline_spark.job import build_config, parse_args

    args = parse_args(
        ["--input", "i", "--output", "o", "--lineage", "l", "--train-ppl-on-corpus"]
    )
    assert build_config(args).train_ppl_on_corpus is True
    args2 = parse_args(["--input", "i", "--output", "o", "--lineage", "l"])
    assert build_config(args2).train_ppl_on_corpus is False


def test_corpus_trained_model_prefers_its_register(spark):
    """A model trained on the in-domain corpus scores in-domain text
    at least as fluent as the embedded-corpus default does, and still
    separates gibberish."""
    in_domain = [
        "the nightly job wrote 90 files and finished with code 0.",
        "i have refunded the charge and you should see it in three days.",
    ] * 20
    df = spark.createDataFrame([(t,) for t in in_domain], "text string")
    lm = train_char_trigram_lm(df)
    s = pd.Series(in_domain[:2])
    trained = lm.ppl_series(s)
    gib = lm.ppl_series(pd.Series(["qzxv jkwq pfzt xbgk vrmq zzkt"]))
    assert (trained < gib.iloc[0]).all(), (trained.tolist(), gib.tolist())
    base = default_model().ppl_series(s)
    assert (trained <= base * 1.05).all(), (trained.tolist(), base.tolist())


def test_artifact_persist_and_reload(spark, tmp_path):
    """load_or_train_char_trigram_lm: first call fits and commits the
    sparse count table; a second call reloads it bit-identically WITHOUT
    touching the training frame (resume must not re-scan the corpus —
    round-5 review finding); a partial (no _SUCCESS) directory retrains."""
    from pii_redaction_data_pipeline_spark.functions.perplexity import (
        load_or_train_char_trigram_lm,
    )

    df = spark.createDataFrame([(t,) for t in TEXTS if t], "text string")
    art = str(tmp_path / "ppl" / "run-a")
    lm1 = load_or_train_char_trigram_lm(spark, df, art)
    assert np.array_equal(lm1.logp, train_char_trigram_lm(df).logp)
    import os

    assert os.path.exists(os.path.join(art, "_SUCCESS"))

    # reload path: pass a POISONED frame — any scan of it would throw,
    # so equality proves the counts came from the artifact alone
    poisoned = spark.range(1).selectExpr(
        "cast(raise_error('artifact reload must not scan the corpus') as string)"
        " as text"
    )
    lm2 = load_or_train_char_trigram_lm(spark, poisoned, art)
    assert np.array_equal(lm1.logp, lm2.logp)

    # partial write (no _SUCCESS): must retrain, not trust the directory
    os.remove(os.path.join(art, "_SUCCESS"))
    lm3 = load_or_train_char_trigram_lm(spark, df, art)
    assert np.array_equal(lm1.logp, lm3.logp)
    assert os.path.exists(os.path.join(art, "_SUCCESS"))


def test_artifact_probe_error_propagates(spark, tmp_path, monkeypatch):
    """A failed Hadoop-FS probe of the artifact's commit marker must
    raise, not read as "no artifact": a silent refit would overwrite the
    run's committed model."""
    from pii_redaction_data_pipeline_spark.functions.perplexity import (
        load_or_train_char_trigram_lm,
    )
    from pii_redaction_data_pipeline_spark.sources import fsutil

    def broken(*_args, **_kwargs):
        raise OSError("filesystem unavailable")

    monkeypatch.setattr(fsutil, "exists", broken)
    df = spark.createDataFrame([(t,) for t in TEXTS if t], "text string")
    art = tmp_path / "ppl" / "run-a"
    with pytest.raises(OSError, match="filesystem unavailable"):
        load_or_train_char_trigram_lm(spark, df, str(art))
    assert not art.exists()


def test_run_pipeline_persists_ppl_artifact_for_resume(spark, tiny, tmp_path):
    """run_pipeline with train_ppl_on_corpus commits the model artifact
    under the output dir keyed by run_id, the annotated parquet read is
    unaffected by the underscore-prefixed dir, and a crash-and-resume
    reproduces the first attempt's ppl values exactly (same model, now
    loaded from the artifact instead of refit)."""
    import dataclasses
    import os

    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import run_pipeline

    cfg = dataclasses.replace(PipelineConfig(), train_ppl_on_corpus=True)
    out = str(tmp_path / "ann")
    lin = str(tmp_path / "lin")
    try:
        run_pipeline(
            spark, tiny[0], out, lin, run_id="rp", cfg=cfg, fail_after_buckets=3
        )
        raise AssertionError("expected injected failure")
    except RuntimeError:
        pass
    assert os.path.exists(os.path.join(out, "_ppl_model", "rp", "_SUCCESS"))
    r = run_pipeline(spark, tiny[0], out, lin, run_id="rp", cfg=cfg)
    assert r["resumed"] is True

    # full single-shot run on a fresh dir == the crash-resume run, ppl included
    out2, lin2 = str(tmp_path / "ann2"), str(tmp_path / "lin2")
    run_pipeline(spark, tiny[0], out2, lin2, run_id="rp", cfg=cfg)
    a = spark.read.parquet(out).select("conv_id", "turn_idx", "ppl")
    b = spark.read.parquet(out2).select(
        "conv_id", "turn_idx", F.col("ppl").alias("ppl2")
    )
    j = a.join(b, ["conv_id", "turn_idx"], "full")
    assert j.filter(~F.col("ppl").eqNullSafe(F.col("ppl2"))).count() == 0
