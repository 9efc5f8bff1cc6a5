"""The quality-filter pipeline: one declarative Spark plan.

This is the Spark translation of the reference's whole Step Functions
state machine (SURVEY.md §3.1): what was eight Lambda hops over S3/SQS/
SNS/DynamoDB becomes a single DataFrame chain —

  scan → [langid | scrub | ppl | heuristics]  (narrow, Arrow-batched)
       → conversation windows                 (one shuffle on conv_id)
       → verdict assembly                     (JVM-side expressions)
       → bucketed write + lineage             (per-partition checkpoint)

Scale notes (the plan you'd want at 100 TB):
  * All Python stages run BEFORE the conv_id shuffle, on the scan's
    byte-balanced input splits — a skewed conversation costs nothing in
    the UDF stages (rows are independent) and the only stage that needs
    conv_id locality is cheap window algebra.
  * One conv_id shuffle feeds the windows; verdicts and writes reuse its
    partitioning. A scan with enough splits pays only that one; a
    few-split scan also pays a repartition hashed on the row key
    (conv_id, turn_idx) before the UDF.
  * The conv_id exchange count is aligned with the output buckets
    (sources/tables.aligned_partitions): the bucket is Spark's shuffle
    hash of conv_id, so every write task holds whole buckets and the
    bucketed write opens max(tasks, buckets) files, not tasks × buckets.
  * Filters on the final `keep` column and column pruning push into the
    parquet/Iceberg scan of downstream consumers — the annotated table
    is written with plain Spark SQL types only.
"""

from __future__ import annotations

import posixpath
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.functions.fused import make_annotate_udf
from pii_redaction_data_pipeline_spark.functions.grams import normalized_text
from pii_redaction_data_pipeline_spark.operators.windows import with_conversation_flags
from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore
from pii_redaction_data_pipeline_spark.sources.tables import (
    BUCKET_COL,
    TableIO,
    aligned_partitions,
    with_bucket,
)

def tune_shuffle_partitions(
    spark: SparkSession,
    df: DataFrame,
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Size spark.sql.shuffle.partitions to the actual input volume.

    Spark's static default (or a cores-derived value) is wrong at both
    extremes: 100 TB over a few hundred partitions spills and stragglers
    dominate; 1 GB over 10k partitions drowns in task overhead. Uses the
    optimizer's size estimate for the plan (file-scan statistics — a
    driver-side metadata read, no job), clamped below by the core count
    so a small input still uses the whole cluster in one wave of tasks
    (each Python task costs a fixed ~0.25 s before its first row, so a
    second wave of small tasks only adds that cost; SCALE.md). AQE may
    still coalesce downward at runtime; this sets the ceiling it works
    under.
    """
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    cores = spark.sparkContext.defaultParallelism
    n = max((size + target_partition_bytes - 1) // target_partition_bytes, cores)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return int(n)


def annotate(
    df: DataFrame,
    cfg: PipelineConfig,
    spark: SparkSession,
    ppl_model=None,
) -> DataFrame:
    """transcripts -> annotated (adds lang, lang_conf, ppl, heuristic cols,
    keep, drop_reasons, scrubbed_text, scrub_counts).

    One plan: the fused UDF on the scan's splits (hash-repartitioned on
    (conv_id, turn_idx) first only when the scan has too few), then the
    `conv_id` shuffle for the conversation windows, then the verdict.
    `ppl_model` is the fluency model to score with; the embedded default
    when None. With cfg.train_ppl_on_corpus the caller fits it first, on
    the FULL input (run_pipeline: load_or_train_char_trigram_lm), so
    ValueError when it is missing: a model fitted on whatever frame
    reaches annotate (a resume remainder, a micro-batch) would make ppl
    and keep/drop depend on how the input was split."""
    if cfg.train_ppl_on_corpus and ppl_model is None:
        raise ValueError(
            "cfg.train_ppl_on_corpus needs a pre-fitted ppl_model "
            "(train_char_trigram_lm / load_or_train_char_trigram_lm over "
            "the full input)"
        )
    fused_udf = make_annotate_udf(spark, ppl_model=ppl_model)

    # normalize NULL text to '' up front: every downstream rule treats ''
    # as droppable (too_short), whereas raw NULLs would propagate through
    # the JVM comparisons as NULL and silently fall out of the verdict
    # (a NULL-text turn must never be kept)
    df = df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    text = F.col("text")

    # raw-bytes turn identity, persisted into the annotated output so
    # downstream conversation-level near-dup dedup (plans/curate.py
    # stage 3) can shingle 8-byte fingerprints off a column-pruned scan
    # of the annotated table instead of RE-READING the full raw text of
    # the corpus — at 100 TB that deletes an entire second text scan.
    # Hashed BEFORE normalization (the same bytes a re-uploaded batch
    # would carry, modulo the NULL->'' coalesce above), so it equals
    # what dedup previously computed from the source table.
    df = df.withColumn("turn_fp", F.xxhash64(text))

    # --- two-phase partitioning (SURVEY.md §4 skew handling) ---
    # Phase 1 is ADAPTIVE: the per-row UDF stages need no conv_id
    # locality at all — they only need enough balanced input splits to
    # keep every core busy. When the scan already provides that (byte-
    # range parquet splits are balanced by construction; at corpus scale
    # natural splits >> cores), the UDFs run DIRECTLY on the scan
    # partitions, pipelined in the same stage — shuffling 100 TB just to
    # rearrange rows that are processed independently would be the
    # single biggest waste in the plan. Only a degenerate layout (few
    # fat splits < target, e.g. one local file) pays a repartition
    # hashed on the row key (conv_id, turn_idx) with an EXPLICIT
    # partition count — explicit so AQE's advisory coalescing can't
    # shrink the exchange below the core count. The hash is a
    # deterministic function of the row (a nondeterministic key can
    # lose or duplicate rows when a fetch failure forces a partial
    # map-stage recompute, the SPARK-23207 class), and it spreads a
    # skewed 30k-turn conversation over every partition (safe: these
    # stages are strictly per-row).
    # Volume-tuned shuffle partitions (run_pipeline sets the conf via
    # tune_shuffle_partitions), floored at the core count so AQE
    # coalescing and tiny inputs can't under-parallelize the exchange.
    # The floor is one wave, not two: every Python task pays a fixed
    # ~0.25 s before its first row (SCALE.md, "The cost of a Python
    # task"), and the hashed rows are already balanced, so a second
    # wave of smaller tasks only adds that fixed cost.
    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    if df.rdd.getNumPartitions() < n_parts:
        df = df.repartition(n_parts, "conv_id", "turn_idx")

    # --- narrow, Arrow-batched stages (no shuffle) ---
    # ONE fused pandas UDF (langid + scrub + ppl-on-stripped-scrubbed +
    # repetition + n_chars/n_words/symbol_ratio): the text column crosses
    # the JVM<->Python Arrow pipe once (functions/fused.py), and ALL
    # per-turn stats come out of that single pass.
    df = df.withColumn("_ann", fused_udf(text))
    # one withColumns, not one withColumn per field: each withColumn is
    # a full analysis pass over the growing plan
    df = df.withColumns(
        {
            # text becomes the D1-NORMALIZED text from here on (delta-
            # encoded: _ann.text_norm is NULL when unchanged), so the
            # dup-detection hash, the scrubbed-vs-text delta encoding,
            # and a retained text column all see the same normalized
            # form the scrubber saw
            "text": F.coalesce(F.col("_ann.text_norm"), text),
            "lang": F.col("_ann.lang"),
            "lang_conf": F.col("_ann.lang_conf"),
            "_scrubbed": F.col("_ann.scrubbed_text"),
            "_counts": F.col("_ann.scrub_counts"),
            "ppl": F.col("_ann.ppl"),
            "rep_frac": F.col("_ann.rep_frac"),
            # n_chars/n_words/symbol_ratio ride the same Arrow exchange:
            # the numpy single-pass (quality.text_stats_frame) beats the
            # "cheap" JVM regexp_count + 63-char translate by ~10x at 2M
            # rows (microbench in BENCH/BASELINE.md); semantics identical
            # (pinned by tests/test_functions.py::test_text_stats_matches_jvm)
            "n_chars": F.col("_ann.n_chars"),
            "n_words": F.col("_ann.n_words"),
            "symbol_ratio": F.col("_ann.symbol_ratio"),
        }
    ).drop("_ann")

    if cfg.emit_entities:
        # optional second Python stage (still phase 1 / pre-shuffle, on
        # the normalized text so offsets match what the scrubber saw);
        # Catalyst collapses adjacent pandas UDFs into one ArrowEvalPython
        # evaluation, so the text column still crosses the pipe once
        from pii_redaction_data_pipeline_spark.functions.entities import (
            make_entities_udf,
        )

        df = df.withColumn("entities", make_entities_udf()(F.col("text")))

    # --- conversation windows: phase 2, the conv_id shuffle ---
    # (explicit count again so AQE can't coalesce the five window sorts
    # onto a handful of cores). The dup-detection text hash is computed
    # HERE, on the phase-1 partitioning, so the raw text column need not
    # survive into the shuffle when retain_original_text=False (the
    # reference's retain_orig_docs=false: originals deleted after
    # redaction, redact.py:240-243) — that halves phase-2 shuffle and
    # output bytes at corpus scale.
    df = df.withColumn("_th", F.xxhash64(normalized_text(text)))
    if not cfg.retain_original_text:
        df = df.drop("text")
    else:
        # delta-encode the scrubbed text across the shuffle: for the
        # (typical) PII-free row it equals the raw text, so shipping
        # it twice wastes ~45% of the exchange's text bytes — NULL it
        # when identical and reconstruct from `text` after the windows
        df = df.withColumn(
            "_scrubbed", F.when(F.col("_scrubbed") != text, F.col("_scrubbed"))
        )
    # the count is aligned with the output buckets (with_bucket hashes
    # conv_id with this exchange's own hash), so each write task holds
    # whole buckets and the bucketed write opens one file per bucket
    df = df.repartition(aligned_partitions(n_parts, cfg.n_buckets), "conv_id")
    df = with_conversation_flags(
        df, tool_loop_min_run=cfg.tool_loop_min_run, hash_col="_th"
    )
    df = df.drop("_th")

    # --- verdict assembly (pure JVM expressions) ---
    lang_fail = (~F.col("lang").isin(*cfg.allowed_langs)) & (
        F.col("lang_conf") >= cfg.lang_min_conf
    )
    too_short = (F.col("n_chars") < cfg.min_chars) | (F.col("n_words") < cfg.min_words)
    too_long = F.col("n_chars") > cfg.max_chars
    symbol = F.col("symbol_ratio") > cfg.max_symbol_ratio
    repetition = F.col("rep_frac") > cfg.max_top3gram_frac
    content_fired = too_short | too_long | symbol | repetition
    high_ppl = (
        (~lang_fail)
        & (~content_fired)
        & (F.col("role") != "tool")
        & (F.col("ppl") > cfg.max_ppl)
    )

    def gated(flag, name):
        return F.when(flag, F.lit(name))

    reasons = F.array_compact(
        F.array(
            gated(lang_fail, "lang"),
            gated(~lang_fail & too_short, "too_short"),
            gated(~lang_fail & too_long, "too_long"),
            gated(~lang_fail & symbol, "symbol_ratio"),
            gated(~lang_fail & repetition, "repetition"),
            gated(high_ppl, "high_ppl"),
            gated(F.col("is_duplicate_turn"), "duplicate_turn"),
            gated(F.col("is_tool_loop"), "tool_loop"),
        )
    )
    df = df.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )
    scrubbed_full = (
        F.coalesce(F.col("_scrubbed"), F.col("text"))
        if cfg.retain_original_text
        else F.col("_scrubbed")
    )
    df = (
        df.withColumn("scrubbed_text", F.when(F.col("keep"), scrubbed_full))
        .withColumn("scrub_counts", F.when(F.col("keep"), F.col("_counts")))
        .drop("_scrubbed", "_counts", "is_duplicate_turn", "is_tool_loop")
    )
    if cfg.emit_entities:
        # same kept-rows-only policy as scrubbed_text/scrub_counts
        df = df.withColumn("entities", F.when(F.col("keep"), F.col("entities")))
    return df


def annotated_run_rows(spark: SparkSession, path: str, run_id: str) -> DataFrame:
    """`run_id`'s rows of the annotated table at `path`.

    Raises ValueError naming the path when the schema lacks `run_id` or
    `turn_fp`. Spark infers the schema from one file's footer, so a
    directory mixing older files in can still pass that check; such files'
    rows read the column as NULL, and the scan itself fails on them: the
    run filter raises on a NULL `run_id` (the row cannot be attributed to
    a run, and dropping it would silently lose whole conversations), and
    `turn_fp` raises on a NULL in THIS run's rows (xxhash64 skips NULLs, so
    NULL fingerprints would collapse conversations onto one shingle and
    mass-dedup them). Both guards are expressions inside the scan: a
    healthy table costs no extra job, and a scan that does not select
    `turn_fp` never evaluates its guard."""
    ann = spark.read.parquet(path)
    missing = [c for c in ("run_id", "turn_fp") if c not in ann.columns]
    if missing:
        raise ValueError(
            f"{path} has no {' or '.join(missing)} column; re-annotate it"
        )

    def required(col: str) -> F.Column:
        return F.coalesce(F.col(col), F.raise_error(F.lit(
            f"{path} holds rows with NULL {col} (a file written before the "
            "column existed); re-annotate it"
        )))

    return ann.filter(required("run_id") == run_id).withColumn(
        "turn_fp", required("turn_fp")
    )


def lineage_metrics(
    annotated_out: DataFrame, run_id: str, buckets: list[int]
) -> list[tuple]:
    """Per-bucket lineage rows, as the tuples `LineageStore.append` takes,
    from the written annotated table.

    `buckets` is the full set of buckets this run covered — buckets that
    happen to contain zero rows still get a (rows_in=0, complete) row,
    otherwise a rerun would re-process them forever (found by the
    kill-and-resume probe).

    ONE scan of the written table and ONE groupBy(bucket) whose aggregate
    list is built from the FIXED taxonomies — one conditional sum per
    drop reason (config.DROP_REASONS) and per PII type (scrub.PII_TYPES,
    the types of `scrub.PATTERNS`) — collected to the driver: at most one
    row per bucket. The rows are then assembled in plain Python; each
    map holds the nonzero counts in sorted key order and is NULL when
    every count is zero. No explode and no per-key shuffle: the taxonomy
    columns are legal because both key sets are closed at config time
    (the reference's Manifest counts are likewise a fixed column set,
    pii-output.py:91-93)."""
    from pii_redaction_data_pipeline_spark.config import DROP_REASONS
    from pii_redaction_data_pipeline_spark.functions.scrub import PII_TYPES

    reasons = F.coalesce("drop_reasons", F.array().cast("array<string>"))
    scrubs = F.coalesce("scrub_counts", F.create_map().cast("map<string,int>"))
    drop_keys, scrub_keys = sorted(DROP_REASONS), sorted(PII_TYPES)
    aggs = [
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_out"),
    ]
    for r in drop_keys:
        aggs.append(F.sum(F.array_contains(reasons, r).cast("long")))
    for t in scrub_keys:
        aggs.append(
            F.sum(F.coalesce(F.element_at(scrubs, F.lit(t)), F.lit(0)).cast("long"))
        )
    agg = {r[0]: r[1:] for r in annotated_out.groupBy(BUCKET_COL).agg(*aggs).collect()}

    def count_map(keys, counts) -> dict | None:
        return {k: n for k, n in zip(keys, counts) if n} or None

    finished_seq = int(time.time() * 1000)
    out = []
    for b in buckets:
        rows_in, rows_out, *counts = agg.get(b, (0, 0))
        out.append((
            run_id, str(b), rows_in, rows_out,
            count_map(drop_keys, counts[: len(drop_keys)]),
            count_map(scrub_keys, counts[len(drop_keys):]),
            "complete", finished_seq,
        ))
    return out


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    run_id: str = "run-0",
    cfg: PipelineConfig | None = None,
    fail_after_buckets: int | None = None,
) -> dict:
    """Full job with checkpoint/resume.

    Annotates every bucket with no `complete` lineage row for `run_id` in
    ONE write job (dynamic overwrite of just those buckets), then appends
    their lineage rows, aggregated by `lineage_metrics` from a pruned
    re-read of the written buckets (`annotated_run_rows`, so a mixed-layout
    output directory fails loudly). The write job carries an Observation
    of the run totals (`rows_in`, `rows_out`, `pii_types_hit`).

    Returns a summary dict; `totals` holds the observed run totals.
    `fail_after_buckets` injects a crash after N buckets (their lineage
    rows written first) for the kill-and-resume test.
    """
    cfg = cfg or PipelineConfig()
    io = TableIO(spark, n_buckets=cfg.n_buckets)
    lineage = LineageStore(spark, lineage_path)

    src = io.read(input_path)
    tune_shuffle_partitions(spark, src)
    src = with_bucket(src, cfg.n_buckets)

    done = set(lineage.completed_buckets(run_id))
    todo = [b for b in range(cfg.n_buckets) if b not in done]
    if not todo:
        return {"run_id": run_id, "processed_buckets": [], "resumed": True}

    if fail_after_buckets is not None:
        todo = todo[:fail_after_buckets]
        if not todo:
            # nothing to write: the lineage re-read would meet an output
            # directory without a parquet file and fail to infer a schema
            raise RuntimeError("injected failure after 0 buckets")

    # one Spark job over all remaining buckets (bucket pruning via filter
    # — with Iceberg this is partition pruning on the metadata scan)
    part = src.filter(F.col(BUCKET_COL).isin(todo))
    # The fluency model (when cfg.train_ppl_on_corpus) is fit on the
    # FULL input, not the resume remainder — resume must score against
    # the same model the first attempt did — and the fitted sparse count
    # table persists under the output dir keyed by run_id, so a RESUME
    # reloads ~2 MB of metadata instead of re-scanning the corpus to
    # refit the identical model (determinism at artifact altitude, not
    # recompute altitude). The leading '_' keeps the artifact dir
    # invisible to parquet reads of the annotated table. It is fit on the
    # raw text: normalization only strips zero-width/control chars, which
    # the closed alphabet already folds to OOV, so the register the model
    # learns is the register the scorer sees.
    ppl_model = None
    if cfg.train_ppl_on_corpus:
        from pii_redaction_data_pipeline_spark.functions.perplexity import (
            load_or_train_char_trigram_lm,
        )

        ppl_model = load_or_train_char_trigram_lm(
            spark, src, posixpath.join(output_path, "_ppl_model", run_id)
        )
    ann = annotate(part, cfg, spark, ppl_model=ppl_model)
    # stamp provenance into the rows: a reused output path can hold other
    # runs' rows in buckets this run never overwrites (dynamic overwrite
    # only replaces buckets it writes to), so lineage and reports must
    # scope by run_id, not by directory
    ann = ann.withColumn("run_id", F.lit(run_id))

    # run-level totals ride ALONG the write job via the Observation API —
    # the job that commits the rows is the job that counts them
    obs = Observation(f"pipeline-{run_id}")
    ann = ann.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_out"),
        F.sum(F.size(F.map_values(F.coalesce(
            F.col("scrub_counts"), F.create_map())))).alias("pii_types_hit"),
    )
    io.write_bucketed(ann, output_path)
    run_totals = dict(obs.get)

    # per-bucket lineage: one column-pruned re-read of THIS run's rows in
    # the buckets just written (partition-pruned, never decodes text)
    out = annotated_run_rows(spark, output_path, run_id).filter(
        F.col(BUCKET_COL).isin(todo)
    )
    lineage.append(lineage_metrics(out, run_id, buckets=todo))

    if fail_after_buckets is not None:
        raise RuntimeError("injected failure after %d buckets" % fail_after_buckets)

    return {
        "run_id": run_id,
        "processed_buckets": todo,
        "resumed": bool(done),
        "totals": run_totals,
    }
