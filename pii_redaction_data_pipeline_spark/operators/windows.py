"""Conversation-level window operators.

The reference's only ordering guarantees are within-batch listing order
and per-page box application (SURVEY.md W1/W3, reference backend/src/
lambda/textract-output.py:54-76, redact.py:198-203). The north rule
generalizes these to stable (conv_id, turn_idx) windows with two rules:

- duplicate_turn: a turn whose normalized text already appeared earlier
  in the same conversation (later occurrences drop; analog of the
  reference's processed_boxes dedup set, redact.py:169-193).
- tool_loop: runs of >= k consecutive turns with role='tool', the same
  tool, and identical normalized text — all but the first turn of the
  run drop (agent/tool-loop filtering).

Pure Window algebra — no Python UDFs. Requires conv_id-partitioned data;
callers repartition by conv_id before applying, see plans.pipeline
(two-phase: turn-level stages hashed on (conv_id, turn_idx), conv_id
alone here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.functions.grams import normalized_text


def with_conversation_flags(
    df: DataFrame,
    tool_loop_min_run: int = 3,
    text_col: str = "text",
    hash_col: str | None = None,
) -> DataFrame:
    """Add is_duplicate_turn / is_tool_loop boolean columns.

    `hash_col` names a precomputed xxhash64(normalized text) column —
    callers that drop the raw text before the conv_id shuffle
    (cfg.retain_original_text=False) compute the hash upstream on the
    phase-1 partitioning and pass it here.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    h = F.col(hash_col) if hash_col else F.xxhash64(normalized_text(F.col(text_col)))

    # duplicate turn: same text-hash seen earlier in the conversation.
    # Tool turns are excluded — repeated tool output is the tool_loop
    # rule's job, and a tool result legitimately repeats verbatim.
    # eqNullSafe keeps the flag TOTAL: a NULL role is not 'tool', but
    # role != 'tool' would be NULL under three-valued logic, and the
    # pipeline's drop gate treats a NULL flag as not-dropped — repeated
    # NULL-role turns would silently pass the duplicate filter.
    dup_rank = F.row_number().over(
        Window.partitionBy("conv_id", h).orderBy("turn_idx")
    )
    df = df.withColumn("_text_hash", h).withColumn(
        "is_duplicate_turn", (dup_rank > 1) & ~F.col("role").eqNullSafe("tool")
    )

    # tool loop: consecutive-run grouping via the rownum-difference trick.
    # run key = (role='tool', tool, text hash); runs are maximal stretches
    # of consecutive turns sharing the key.
    rn = F.row_number().over(w)
    run_key = F.when(
        F.col("role") == "tool",
        F.concat_ws("\x00", F.col("tool"), F.col("_text_hash").cast("string")),
    )
    keyed_rn = F.row_number().over(
        Window.partitionBy("conv_id", run_key).orderBy("turn_idx")
    )
    df = df.withColumn("_rn", rn).withColumn(
        "_run_grp", F.when(run_key.isNotNull(), F.col("_rn") - keyed_rn)
    )
    # one unordered window spec serves both aggregates (single sort):
    # run length, and the run's first row (min rn) to spare the keeper
    wrun = Window.partitionBy("conv_id", run_key, "_run_grp")
    run_len = F.count("*").over(wrun)
    first_rn = F.min("_rn").over(wrun)
    df = df.withColumn(
        "is_tool_loop",
        F.when(
            F.col("_run_grp").isNotNull()
            & (run_len >= tool_loop_min_run)
            & (F.col("_rn") > first_rn),
            F.lit(True),
        ).otherwise(F.lit(False)),
    )
    return df.drop("_text_hash", "_rn", "_run_grp")


def conversation_verdict(
    annotated: DataFrame,
    min_kept_frac: float = 0.5,
    min_kept_turns: int = 1,
) -> DataFrame:
    """Conversation-level keep/drop above the per-turn verdicts: a
    conversation whose surviving turns are too few or too sparse is
    junk as a whole (a transcript that is 90% tool-loop noise teaches
    nothing even if 3 turns individually pass).

    The reference's analog is the workflow-level status rollup over
    per-document outcomes (get-workflows.py:67-92 aggregates doc
    statuses into one workflow verdict); here it is one partial-agg
    groupBy on conv_id — map-side combined, no window, no second pass
    over text.

    Returns (conv_id, n_turns, n_kept, kept_frac, conv_keep);
    downstream joins it back (broadcast when small) or semi-joins the
    kept conv_ids.
    """
    agg = annotated.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
    )
    kept_frac = F.col("n_kept") / F.col("n_turns")
    return agg.select(
        "conv_id",
        "n_turns",
        "n_kept",
        F.round(kept_frac, 6).alias("kept_frac"),
        (
            (kept_frac >= min_kept_frac) & (F.col("n_kept") >= min_kept_turns)
        ).alias("conv_keep"),
    )
