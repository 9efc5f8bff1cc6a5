"""Resume + partition-invariance tests (SURVEY.md §5 items 4-5).

Generalizes the reference's status-driven incremental progress loop
(textract-bulk.py:108-118): a killed run must resume from the lineage
checkpoint and produce byte-identical results; results must not depend
on the input's partitioning.
"""

import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.plans.pipeline import annotate, run_pipeline


def _fingerprint(df):
    """Order-insensitive digest of the full result set."""
    cols = [
        "conv_id",
        "turn_idx",
        "keep",
        F.concat_ws(",", "drop_reasons"),
        F.coalesce("scrubbed_text", F.lit("\x00")),
        F.coalesce(
            F.to_json(F.array_sort(F.map_entries("scrub_counts"))), F.lit("\x00")
        ),
    ]
    row = df.select(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return (row.h, row.n)


def test_kill_and_resume_identical(spark, tiny, tmp_path):
    out1, lin1 = str(tmp_path / "a"), str(tmp_path / "la")
    out2, lin2 = str(tmp_path / "b"), str(tmp_path / "lb")
    run_pipeline(spark, tiny[0], out1, lin1, run_id="full")
    with pytest.raises(RuntimeError):
        run_pipeline(spark, tiny[0], out2, lin2, run_id="crash", fail_after_buckets=4)
    res = run_pipeline(spark, tiny[0], out2, lin2, run_id="crash")
    assert res["resumed"]
    assert _fingerprint(spark.read.parquet(out1)) == _fingerprint(
        spark.read.parquet(out2)
    )
    # completed run is a no-op
    res2 = run_pipeline(spark, tiny[0], out2, lin2, run_id="crash")
    assert res2["processed_buckets"] == []


def test_crash_before_any_bucket_then_resume(spark, tiny, tmp_path):
    """fail_after_buckets=0 is the injected failure, not a schema error
    from re-reading an output that holds no file; nothing is marked
    complete, so the next call processes every bucket."""
    out, lin = str(tmp_path / "a"), str(tmp_path / "la")
    with pytest.raises(RuntimeError, match="after 0 buckets"):
        run_pipeline(spark, tiny[0], out, lin, run_id="r", fail_after_buckets=0)
    res = run_pipeline(spark, tiny[0], out, lin, run_id="r")
    assert not res["resumed"]
    assert res["processed_buckets"] == list(range(PipelineConfig().n_buckets))


def test_partition_count_invariance(spark, tiny):
    """Also pins the ADAPTIVE phase-1 both ways: 2 partitions < cores
    takes the (conv_id, turn_idx) repartition, 37 >= cores skips phase 1
    entirely — identical results either way."""
    cfg = PipelineConfig()
    src = spark.read.parquet(tiny[0])
    a = annotate(src.repartition(2), cfg, spark)
    b = annotate(src.repartition(37), cfg, spark)
    assert _fingerprint(a) == _fingerprint(b)


def test_row_key_repartition_invariance(spark, tiny):
    """Input already hashed on annotate's phase-1 key (conv_id,
    turn_idx), or on conv_id alone so that every conversation runs whole
    in one UDF task, must not change results."""
    cfg = PipelineConfig()
    src = spark.read.parquet(tiny[0])
    a = annotate(src, cfg, spark)
    b = annotate(src.repartition(8, "conv_id", "turn_idx"), cfg, spark)
    c = annotate(src.repartition(37, "conv_id"), cfg, spark)
    assert _fingerprint(a) == _fingerprint(b) == _fingerprint(c)
