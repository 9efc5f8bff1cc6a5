"""Structured Streaming ingestion for the quality-filter pipeline.

The reference is event-triggered batch: an S3 object-created event starts
one bounded workflow run (reference backend/src/lambda/machine-state.py:
29-99, architecture.md:98-100). The Spark-native generalization of
"process each batch of files as it lands" is a file-source stream with
`foreachBatch`: new parquet files under the input directory become
micro-batches, each micro-batch runs the SAME `annotate` plan as the
batch pipeline (no forked logic). Spark's streaming checkpoint gives
at-least-once micro-batch delivery through foreachBatch; the sink makes
the pipeline exactly-once END-TO-END by being idempotent — partitioned
by the deterministic _batch_id with dynamic overwrite, so a replayed
batch overwrites its own partition. The streaming analog of the lineage
table's bucket-level resume.

Watermarks/session windows are NOT used: per the north rule the engine
is a batch quality filter; conversation windows need the whole
conversation, so conv-window flags are computed within each micro-batch
(correct when a conversation's turns land together, i.e. the reference's
"workflow batch" granularity — one uploaded batch, one event). For
cross-batch conversations, run the batch pipeline over the landed table.

`trigger(availableNow=True)` drains everything present and stops, which
is also how the offline tests drive it deterministically.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
from pii_redaction_data_pipeline_spark.sources.tables import with_bucket

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    ppl_model=None,
):
    """Start the file-source stream; returns the StreamingQuery.

    With available_now=True the query drains all currently-visible files
    and finishes (bounded run); otherwise it keeps watching input_dir.
    max_files_per_trigger mirrors the reference's 10-docs-per-poll pacing
    (reference backend/src/lambda/extract.py:54-56).

    cfg.train_ppl_on_corpus requires a pre-fitted `ppl_model`
    (functions/perplexity.train_char_trigram_lm over the landed corpus,
    or load_or_train_char_trigram_lm's durable artifact): a model fit
    per micro-batch would score the same turn differently depending on
    which files happened to land together. annotate() raises on the same
    condition; checking here fails before the stream starts.
    """
    cfg = cfg or PipelineConfig()
    if cfg.train_ppl_on_corpus and ppl_model is None:
        raise ValueError(
            "streaming with cfg.train_ppl_on_corpus needs a pre-fitted "
            "ppl_model — fitting on each micro-batch alone would make "
            "ppl (and keep/drop) depend on file-landing batching"
        )

    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)

    def process_batch(batch_df, batch_id: int):
        # every micro-batch goes straight to the write: an emptiness
        # check would be a job of its own and a second read of the
        # landed file, and the only empty micro-batch (a zero-row file)
        # simply writes no rows
        ann = annotate(batch_df, cfg, spark, ppl_model=ppl_model)
        ann = with_bucket(ann, cfg.n_buckets)
        ann = ann.withColumn("_batch_id", F.lit(batch_id))
        # IDEMPOTENT write, not a plain append: foreachBatch is only
        # at-least-once (a crash between the sink write and the
        # streaming commit replays the micro-batch), so the sink
        # partitions by _batch_id with dynamic overwrite — a replayed
        # batch overwrites its OWN partition instead of appending its
        # rows a second time. This is the standard foreachBatch
        # exactly-once recipe: deterministic batch_id + idempotent sink.
        (
            ann.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(output_path)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
