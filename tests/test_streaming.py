"""Structured Streaming ingestion: micro-batch annotate parity with the
batch pipeline, incremental file pickup, and checkpoint exactly-once."""

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.datagen import generate
from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
from pii_redaction_data_pipeline_spark.streaming import run_streaming_pipeline

COLS = ["conv_id", "turn_idx", "keep", "drop_reasons", "scrubbed_text"]


def _land(spark, tdf, conv_prefixes, in_dir, name):
    part = tdf[tdf["conv_id"].str.startswith(tuple(conv_prefixes))]
    sdf = spark.createDataFrame(part)
    sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, name))


def test_streaming_matches_batch(tmp_path, spark):
    tdf, _ = generate("tiny")
    convs = sorted(tdf["conv_id"].unique())
    half_a = {c[:18] for c in convs[: len(convs) // 2]}
    half_b = {c[:18] for c in convs[len(convs) // 2 :]} - half_a

    in_dir = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # first file lands -> drain
    _land(spark, tdf, half_a, in_dir, "batch_a")
    q = run_streaming_pipeline(spark, in_dir + "/*", out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # second file lands -> only the new file is processed
    _land(spark, tdf, half_b, in_dir, "batch_b")
    q = run_streaming_pipeline(spark, in_dir + "/*", out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == len(tdf)

    # exactly-once: re-running with the same checkpoint adds nothing
    q = run_streaming_pipeline(spark, in_dir + "/*", out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(tdf)

    # verdict parity with the batch plan over the same rows
    batch = annotate(spark.createDataFrame(tdf), PipelineConfig(), spark)
    b = batch.select(*COLS).orderBy("conv_id", "turn_idx").collect()
    s = got.select(*COLS).orderBy("conv_id", "turn_idx").collect()
    assert b == s
    shutil.rmtree(ckpt, ignore_errors=True)


def test_zero_row_file_drains_and_writes_nothing(tmp_path, spark):
    """A zero-row landed file is the one way an empty micro-batch
    reaches process_batch: it must drain without error and write no
    rows, and the next file's batch must land and match annotate."""
    import glob

    import pyarrow.parquet as pq

    from pii_redaction_data_pipeline_spark.streaming.ingest import TRANSCRIPT_DDL

    tdf, _ = generate("tiny")
    in_dir = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    empty = spark.createDataFrame([], TRANSCRIPT_DDL)
    empty.coalesce(1).write.parquet(os.path.join(in_dir, "empty"))
    assert sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(in_dir, "empty", "*.parquet"))
    ) == 0

    q = run_streaming_pipeline(spark, in_dir + "/*", out, ckpt)
    q.awaitTermination(120)
    assert q.exception() is None
    # the empty file was a micro-batch of its own (batch 0, committed)
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert [c for c in commits if not c.startswith(".")] == ["0"]
    written = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in written) == 0

    _land(spark, tdf, {c[:18] for c in tdf["conv_id"].unique()}, in_dir, "full")
    q = run_streaming_pipeline(spark, in_dir + "/*", out, ckpt)
    q.awaitTermination(120)
    assert q.exception() is None
    got = spark.read.parquet(out)
    batch = annotate(spark.createDataFrame(tdf), PipelineConfig(), spark)
    b = batch.select(*COLS).orderBy("conv_id", "turn_idx").collect()
    s = got.select(*COLS).orderBy("conv_id", "turn_idx").collect()
    assert len(s) == len(tdf) and b == s
    shutil.rmtree(ckpt, ignore_errors=True)


def test_replayed_batch_is_idempotent(tmp_path, spark):
    """foreachBatch is at-least-once: a crash between the sink write and
    the streaming commit replays the micro-batch with the SAME batch_id.
    The sink must be idempotent — partitioned by _batch_id with dynamic
    overwrite — so the replay overwrites its own partition instead of
    appending duplicates (round-5 review finding). Modeled by draining
    the same landed file under two fresh checkpoints: both runs process
    it as batch 0."""
    tdf, _ = generate("tiny")
    in_dir = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    os.makedirs(in_dir)
    _land(spark, tdf, {c[:18] for c in tdf["conv_id"].unique()}, in_dir, "b")

    q = run_streaming_pipeline(spark, in_dir + "/*", out, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    q = run_streaming_pipeline(spark, in_dir + "/*", out, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1 > 0


def test_streaming_rejects_per_batch_ppl_training(tmp_path, spark):
    """cfg.train_ppl_on_corpus without a pre-fitted model must raise:
    fitting per micro-batch would make keep/drop depend on which files
    landed together (round-5 review finding)."""
    import dataclasses

    import pytest

    cfg = dataclasses.replace(PipelineConfig(), train_ppl_on_corpus=True)
    with pytest.raises(ValueError, match="pre-fitted"):
        run_streaming_pipeline(
            spark, str(tmp_path / "in"), str(tmp_path / "out"),
            str(tmp_path / "ck"), cfg=cfg,
        )
