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
from pii_redaction_data_pipeline_spark.streaming import (
    run_streaming_pipeline,
    streaming_dedup_turns,
    streaming_turn_metrics,
)

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


def test_stateful_dedup_across_batches(tmp_path, spark):
    """applyInPandasWithState keeps per-conversation seen-hash state
    across micro-batches AND across stream restarts (state store
    checkpoint): a turn text first seen in batch A is flagged when it
    reappears in batch B; within-batch repeats are flagged too."""
    import pandas as pd

    in_dir = str(tmp_path / "landing")
    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(in_dir)

    schema_ddl = "conv_id string, turn_idx int, text string"

    def land(rows, name):
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
        spark.createDataFrame(pdf, schema=schema_ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, name))

    def drain():
        stream = spark.readStream.schema(schema_ddl).parquet(in_dir + "/*")
        q = streaming_dedup_turns(stream, out, ckpt)
        q.awaitTermination(120)

    land([("c1", 0, "alpha"), ("c1", 1, "beta"), ("c2", 0, "alpha")], "batch_a")
    drain()
    # restart the stream for batch B: state must survive the restart
    land(
        [
            ("c1", 2, "alpha"),   # cross-batch dup (seen in batch_a)
            ("c1", 3, "gamma"),   # fresh
            ("c1", 4, "gamma"),   # within-batch dup
            ("c2", 1, "beta"),    # fresh for c2 (state is per-conv)
        ],
        "batch_b",
    )
    drain()

    got = {
        (r["conv_id"], r["turn_idx"]): r["is_dup"]
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        ("c1", 0): False, ("c1", 1): False, ("c2", 0): False,
        ("c1", 2): True, ("c1", 3): False, ("c1", 4): True,
        ("c2", 1): False,
    }
    assert got == expect, got
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_dedup_across_arrow_chunks(tmp_path, spark):
    """A conversation larger than one Arrow batch arrives as SEVERAL
    chunks of the same micro-batch: a hash first seen in an earlier
    chunk must flag repeats in later chunks (round-1 advice: `seen` was
    computed once before the chunk loop, so cross-chunk within-batch
    dups were missed)."""
    import pandas as pd

    in_dir = str(tmp_path / "landing")
    out = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt3")
    os.makedirs(in_dir)
    schema_ddl = "conv_id string, turn_idx int, text string"

    # one conversation, 9 turns; with maxRecordsPerBatch=3 the group
    # spans 3 Arrow chunks; turn 7 repeats turn 1's text across chunks
    rows = [("c1", i, f"text-{i}") for i in range(9)]
    rows[7] = ("c1", 7, "text-1")
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    spark.createDataFrame(pdf, schema=schema_ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(in_dir, "batch_a"))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = spark.readStream.schema(schema_ddl).parquet(in_dir + "/*")
        q = streaming_dedup_turns(stream, out, ckpt)
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    got = {
        r["turn_idx"]: r["is_dup"] for r in spark.read.parquet(out).collect()
    }
    assert got == {i: (i == 7) for i in range(9)}, got
    shutil.rmtree(ckpt, ignore_errors=True)


def test_watermarked_turn_metrics_drop_late_data(tmp_path, spark):
    """Event-time windowed metrics with a watermark: a window emits
    exactly once when the watermark passes its end, and a turn arriving
    later than the watermark is dropped from its (already-emitted)
    window — the bounded-state late-data contract."""
    import pandas as pd

    in_dir = str(tmp_path / "landing")
    out = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckptwm")
    os.makedirs(in_dir)
    schema_ddl = "conv_id string, turn_idx int, role string, text string, ts timestamp"

    def land(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=schema_ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(in_dir, name))

    def drain():
        stream = spark.readStream.schema(schema_ddl).parquet(in_dir + "/*")
        q = streaming_turn_metrics(stream, out, ckpt)
        q.awaitTermination(120)

    # batch A: three on-time turns in the 10:00 window, plus a 10:21 turn
    # that advances the watermark to 10:11 (> 10:05, so the 10:00 window
    # finalizes on the NEXT batch)
    land(
        [
            ("c1", 0, "user", "aaaa", "2024-01-01 10:00:30"),
            ("c1", 1, "user", "bb", "2024-01-01 10:02:00"),
            ("c1", 2, "assistant", "cc", "2024-01-01 10:04:00"),
            ("c2", 0, "user", "dd", "2024-01-01 10:21:00"),
        ],
        "batch_a",
    )
    drain()
    # batch B: one LATE user turn at 10:01 (watermark is 10:11 -> must be
    # dropped), one at 10:41 advancing the watermark to 10:31 so both the
    # 10:00 and 10:20 windows emit
    land(
        [
            ("c1", 3, "user", "LATE-MUST-DROP", "2024-01-01 10:01:00"),
            ("c2", 1, "user", "ee", "2024-01-01 10:41:00"),
        ],
        "batch_b",
    )
    drain()

    got = {
        (str(r["win_start"]), r["role"]): (r["n_turns"], r["n_chars"])
        for r in spark.read.parquet(out).collect()
    }
    # the 10:00/user window counts ONLY the two on-time user turns
    # (4 + 2 chars); the late 10:01 row is absent
    assert got[("2024-01-01 10:00:00", "user")] == (2, 6), got
    assert got[("2024-01-01 10:00:00", "assistant")] == (1, 2), got
    assert got[("2024-01-01 10:20:00", "user")] == (1, 2), got
    # the 10:40 window's watermark hasn't passed -> not emitted yet
    assert ("2024-01-01 10:40:00", "user") not in got, got
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
