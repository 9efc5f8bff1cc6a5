"""The traced run: per-layer spans around calls into each module, plus
counts from Spark's event log. Separate from the timed runs; its
untraced call gives the wall the layer self times are checked against.
"""

from __future__ import annotations

import dataclasses
import statistics
import time
from contextlib import ExitStack
from datetime import datetime
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.functions.fused import (
    annotate_frame,
    make_annotate_udf,
    normalize_series,
    ppl_input_series,
)
from pii_redaction_data_pipeline_spark.functions.langid import langid_frame
from pii_redaction_data_pipeline_spark.functions.perplexity import default_model
from pii_redaction_data_pipeline_spark.functions.quality import (
    repetition_frac_series,
    text_stats_frame,
)
from pii_redaction_data_pipeline_spark.functions.scrub import scrub_frame
from pii_redaction_data_pipeline_spark.operators.packing import pack_sequences
from pii_redaction_data_pipeline_spark.operators.sampling import deterministic_sample
from pii_redaction_data_pipeline_spark.operators.windows import (
    conversation_verdict,
    with_conversation_flags,
)
from pii_redaction_data_pipeline_spark.plans import pipeline
from pii_redaction_data_pipeline_spark.plans.curate import (
    CurationConfig,
    dedup_survivor_convs,
)
from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore
from pii_redaction_data_pipeline_spark.sources.tables import TableIO

from perfbench import eventlog, gate, inputs, sparkproc
from perfbench.tracing import Tracer
from perfbench.workloads import AnnotateBatch, StreamMicrobatch

# pandas sub-stage sample: single core, in the fused UDF's chunk size
SAMPLE_ROWS = 16384
CHUNK_ROWS = 8192

FUNCTION_STAGES = (
    "normalize", "langid", "scrub", "ppl_input", "ppl", "repetition", "stats", "annotate_frame",
)
CURATION_STAGES = ("conv_verdict", "conv_dedup", "sample", "pack")

# the calls run_pipeline makes into other layers, each given a span
PIPELINE_SPANS = (
    (TableIO, "read", "sources.read"),
    (pipeline, "tune_shuffle_partitions", "plans.tune_shuffle_partitions"),
    (LineageStore, "completed_buckets", "sources.completed_buckets"),
    (pipeline, "annotate", "plans.annotate_build"),
    (TableIO, "write_bucketed", "sources.write_bucketed"),
    (pipeline, "lineage_metrics", "sources.lineage_metrics"),
    (LineageStore, "append", "sources.lineage_append"),
)


def eventlog_conf(directory: Path) -> dict[str, str]:
    # Spark 4.1's default event log is rolling and zstd-compressed,
    # which plain JSON parsing cannot read
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Checks:
    """Correctness checks made during the traced run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, mismatches: int) -> None:
        self.attempted += 1
        self.failed += mismatches != 0


def traced_pipeline(tracer: Tracer, spark, source: str, out: Path) -> int:
    """run_pipeline with a span around each call it makes into another
    layer; -> the root span."""
    with ExitStack() as stack:
        for owner, attr, name in PIPELINE_SPANS:
            stack.enter_context(tracer.wrapped(owner, attr, name))
        with tracer.span("plans.run_pipeline") as root:
            pipeline.run_pipeline(spark, source, str(out / "annotated"), str(out / "lineage"))
    return root


def traced_drain(tracer: Tracer, spark, inp: inputs.Inputs, out: Path):
    """One availableNow drain; each micro-batch becomes a span under the
    drain, from the trigger's own timestamp and triggerExecution wall
    (clipped to the drain). -> (root span, query run id, rows per batch)."""
    stream = StreamMicrobatch()
    with tracer.span("streaming.run") as root:
        with tracer.span("streaming.start"):
            query = stream.start(spark, inp.transcripts, out)
        with tracer.span("streaming.drain") as drain:
            query.awaitTermination()
    lo, hi = tracer.spans[drain].start, tracer.spans[drain].end
    batches = stream.batches(query)
    for p in batches:
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        end = start + p.durationMs["triggerExecution"] / 1000
        tracer.add("streaming.batch", max(start, lo), min(end, hi), drain)
    return root, str(query.runId), [p.numInputRows for p in batches]


def table_probes(tracer: Tracer, spark, source: str) -> None:
    """scan, scan+UDF, scan+conv_id exchange+windows, and annotate, each
    ending in a noop write so only the named work runs."""
    io = TableIO(spark)
    with tracer.span("sources.scan"):
        noop(io.read(source))
    with tracer.span("functions.udf_job"):
        udf = make_annotate_udf(spark)
        noop(io.read(source).withColumn("_ann", udf(F.coalesce(F.col("text"), F.lit("")))))
    with tracer.span("operators.windows"):
        n_parts = max(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism * 2,
        )
        noop(with_conversation_flags(io.read(source).repartition(n_parts, "conv_id")))
    with tracer.span("plans.annotate"):
        noop(pipeline.annotate(io.read(source), PipelineConfig(), spark))


def pandas_probes(tracer: Tracer, source: str) -> float:
    """Each fused-UDF sub-stage in annotate_frame's order, then
    annotate_frame itself, over SAMPLE_ROWS texts. -> scrub hit fraction."""
    texts = gate.read_parquet_dir(source, ["text"]).column("text").to_pandas()
    texts = pd.concat([texts] * -(-SAMPLE_ROWS // len(texts)), ignore_index=True)[:SAMPLE_ROWS]
    model = default_model()
    hits = 0
    chunks = [texts[i : i + CHUNK_ROWS] for i in range(0, SAMPLE_ROWS, CHUNK_ROWS)]
    for chunk in chunks:
        with tracer.span("functions.normalize"):
            norm = normalize_series(chunk.fillna(""))
        with tracer.span("functions.langid"):
            langid_frame(norm)
        with tracer.span("functions.scrub"):
            scrubbed = scrub_frame(norm)["scrubbed_text"]
        with tracer.span("functions.ppl_input"):
            ppl_in = ppl_input_series(scrubbed.fillna(""))
        with tracer.span("functions.ppl"):
            model.ppl_series(ppl_in)
        with tracer.span("functions.repetition"):
            repetition_frac_series(norm)
        with tracer.span("functions.stats"):
            text_stats_frame(norm)
        hits += int((scrubbed != norm).sum())
    for chunk in chunks:
        with tracer.span("functions.annotate_frame"):
            annotate_frame(chunk)
    return hits / SAMPLE_ROWS


def curation_probe(tracer: Tracer, spark, inp: inputs.Inputs, out: Path, checks: Checks):
    """run_curation's stages in its order over a clone-bearing input,
    each public stage function in a span that ends with its write.
    -> (dropped conversations, pack fill fraction)."""
    cfg = dataclasses.replace(PipelineConfig(), retain_original_text=False)
    ccfg = CurationConfig()
    ann_path = str(out / "annotated")
    with tracer.span("operators.curate_annotate"):
        pipeline.run_pipeline(spark, inp.transcripts, ann_path, str(out / "lineage"), cfg=cfg)
    checks.add(gate.check_annotated(ann_path, inp.labels))
    ann = spark.read.parquet(ann_path)

    def write(df, name: str) -> str:
        path = str(out / name)
        df.write.mode("overwrite").parquet(path)
        return path

    with tracer.span("operators.conv_verdict"):
        verdict = write(
            conversation_verdict(
                ann.select("conv_id", "keep"), ccfg.min_kept_frac, ccfg.min_kept_turns
            ),
            "conv_verdict",
        )
    kept = spark.read.parquet(verdict).filter("conv_keep").select("conv_id")
    with tracer.span("operators.conv_dedup"):
        survivors = write(
            dedup_survivor_convs(
                ann.select("conv_id", "turn_idx", "turn_fp"), kept, ccfg.dedup_jaccard,
                est_margin=ccfg.dedup_est_margin, checkpoint_dir=str(out / "dedup_ck"),
                fp_col="turn_fp",
            ),
            "survivor_convs",
        )
    with tracer.span("operators.sample"):
        sampled = write(
            deterministic_sample(
                spark.read.parquet(survivors), ccfg.sample_rate, ["conv_id"],
                seed=ccfg.sample_seed,
            ),
            "sampled_convs",
        )
    with tracer.span("operators.pack"):
        curated = (
            ann.filter("keep")
            .select("conv_id", "turn_idx", "scrubbed_text")
            .join(spark.read.parquet(sampled), "conv_id", "semi")
            .withColumn(
                "pack_key",
                F.concat_ws("\x1f", "conv_id", F.format_string("%012d", F.col("turn_idx"))),
            )
        )
        packed = write(
            pack_sequences(
                curated, seq_tokens=ccfg.seq_tokens, n_buckets=ccfg.pack_buckets,
                id_col="pack_key", text_col="scrubbed_text", bucket_key="conv_id",
            ),
            "packed",
        )
    kept_ids = set(gate.read_parquet_dir(verdict, ["conv_id", "conv_keep"]).to_pandas()
                   .query("conv_keep")["conv_id"])
    surv_ids = set(gate.read_parquet_dir(survivors, ["conv_id"]).column("conv_id").to_pylist())
    checks.add(gate.dedup_mismatches(kept_ids, surv_ids))
    n_tokens = gate.read_parquet_dir(packed, ["n_tokens"]).column("n_tokens").to_pylist()
    return len(kept_ids - surv_ids), sum(n_tokens) / (len(n_tokens) * ccfg.seq_tokens)


def traced_run(wl, inp: inputs.Inputs, seed: int, work: Path, cache: Path):
    """-> (per-layer metrics, info, tracer, checks)."""
    checks = Checks()
    tracer = Tracer(f"{wl.name}-seed{seed}")
    ev_dir = work / "eventlog"
    ev_dir.mkdir()
    with tracer.span("session.get_spark"):
        spark = sparkproc.start(eventlog_conf(ev_dir))
    tracer.attach(spark.sparkContext)
    with tracer.span("session.first_call"):
        wl.call(spark, inp, work / "warmup", inp.warmup)

    untraced_walls: list[float] = []

    def untraced_call() -> None:
        out = work / f"untraced{len(untraced_walls)}"
        t0 = time.perf_counter()
        wl.call(spark, inp, out)
        untraced_walls.append(time.perf_counter() - t0)
        checks.add(wl.mismatches(inp, out))

    # one more warm-up call, then untraced calls on both sides of the
    # traced one: successive calls of a young JVM still speed up
    wl.call(spark, inp, work / "warmup2")
    untraced_call()

    main_out = work / "traced"
    tiny = inputs.prepare("tiny", seed, cache)
    if isinstance(wl, AnnotateBatch):
        root = pipeline_root = traced_pipeline(tracer, spark, inp.transcripts, main_out)
        main_groups = []
        # the streaming layer on its smallest input: datagen's tiny
        # scale as two whole-conversation files
        split = work / "tiny_stream"
        inputs.split_by_conversation(tiny.transcripts, split, 2)
        tiny_stream = dataclasses.replace(tiny, transcripts=str(split))
        _, stream_run_id, batch_rows = traced_drain(tracer, spark, tiny_stream, work / "stream")
        checks.add(StreamMicrobatch().mismatches(tiny_stream, work / "stream"))
    else:
        root, stream_run_id, batch_rows = traced_drain(tracer, spark, inp, main_out)
        # a drain's jobs carry the query's run id, not the span's group
        main_groups = [stream_run_id]
    checks.add(wl.mismatches(inp, main_out))
    untraced_call()
    untraced = statistics.median(untraced_walls)
    # the engine's fixed cost: a warm run_pipeline on datagen's tiny
    # scale (stream_microbatch has not called run_pipeline before); on
    # stream_microbatch also the call the sources and plans layers are
    # read from
    AnnotateBatch().call(spark, tiny, work / "tiny_warmup")
    fixed_root = traced_pipeline(tracer, spark, tiny.transcripts, work / "tiny")
    checks.add(gate.check_annotated(str(work / "tiny" / "annotated"), tiny.labels))
    if not isinstance(wl, AnnotateBatch):
        pipeline_root = fixed_root
    output_files = len(gate.parquet_files(str(main_out / "annotated")))

    table_probes(tracer, spark, inp.transcripts)
    with tracer.span("functions.pandas_sample"):
        scrub_hit_frac = pandas_probes(tracer, inp.transcripts)
    curate_inp = inputs.prepare("curate_probe", seed, cache)
    dropped, fill = curation_probe(tracer, spark, curate_inp, work / "curate", checks)
    peak_rss_mb = sparkproc.peak_rss_mb(spark)
    sparkproc.stop(spark)

    (log,) = list(ev_dir.iterdir())
    groups = eventlog.read(str(log))

    def counts(idx: int, extra=()) -> eventlog.GroupCounts:
        return eventlog.combined(
            groups, [tracer.group(i) for i in tracer.subtree(idx)] + list(extra)
        )

    def named(name: str, within: int | None = None) -> int:
        scope = tracer.subtree(within) if within is not None else range(len(tracer.spans))
        return next(i for i in scope if tracer.spans[i].name == name)

    main = counts(root, main_groups)  # the workload's own call
    stream = eventlog.combined(groups, [stream_run_id])
    t = tracer.total
    scan_s = t("sources.scan")
    udf_job_s = t("functions.udf_job")
    # pandas compute for the call's rows, spread over the cores
    pandas_core_s = t("functions.annotate_frame") / SAMPLE_ROWS * inp.rows / sparkproc.nproc()
    m = {
        "session.get_spark_s": (t("session.get_spark"), "s"),
        "session.first_call_s": (t("session.first_call"), "s"),
        "session.peak_rss_mb": (peak_rss_mb, "MB"),
        "sources.scan_s": (scan_s, "s"),
        "sources.write_s": (tracer.self_time(named("sources.write_bucketed", pipeline_root)), "s"),
        "sources.lineage_s": (
            tracer.duration(named("sources.lineage_metrics", pipeline_root))
            + tracer.duration(named("sources.lineage_append", pipeline_root)),
            "s",
        ),
        "sources.output_files": (output_files, "count"),
        "sources.output_bytes": (main.output_bytes, "bytes"),
    }
    for stage in FUNCTION_STAGES:
        m[f"functions.{stage}_s"] = (t(f"functions.{stage}"), "s")
    m.update({
        "functions.scrub_hit_frac": (scrub_hit_frac, "ratio"),
        "functions.udf_job_s": (udf_job_s, "s"),
        "functions.udf_overhead_s": (udf_job_s - scan_s - pandas_core_s, "s"),
        "functions.udf_bytes_sent": (main.python_bytes_sent, "bytes"),
        "functions.udf_bytes_returned": (main.python_bytes_returned, "bytes"),
        "operators.windows_s": (t("operators.windows") - scan_s, "s"),
        "operators.windows_task_skew": (
            eventlog.shuffle_read_task_skew(counts(named("operators.windows"))), "ratio"
        ),
        "operators.shuffle_bytes": (main.shuffle_bytes_written, "bytes"),
        "operators.spill_bytes": (main.disk_bytes_spilled, "bytes"),
    })
    for stage in CURATION_STAGES:
        m[f"operators.{stage}_s"] = (t(f"operators.{stage}"), "s")
    m.update({
        "operators.dedup_dropped_convs": (dropped, "count"),
        "operators.pack_fill_frac": (fill, "ratio"),
        "plans.annotate_s": (t("plans.annotate"), "s"),
        "plans.run_pipeline_s": (tracer.duration(pipeline_root), "s"),
        "plans.spark_jobs": (main.jobs, "count"),
        "plans.fixed_s": (tracer.duration(fixed_root), "s"),
        "streaming.jobs_per_batch": (stream.jobs / max(len(stream.stream_batches), 1), "count"),
        "streaming.batch_rows": (statistics.median(batch_rows), "rows"),
        "trace.overhead_s": (tracer.duration(root) - untraced, "s"),
        # every span's self time, the root's being its own layer's glue
        "trace.layer_sum_frac": (
            sum(tracer.self_time(i) for i in tracer.subtree(root)) / untraced, "ratio"
        ),
    })
    info = {
        "untraced_wall_s": untraced_walls,
        "traced_wall_s": tracer.duration(root),
        "top_level_self_s": {
            tracer.spans[i].name: tracer.self_time(i) for i in [root, *tracer.children(root)]
        },
        "curate_probe_rows": curate_inp.rows,
        "pandas_sample_rows": SAMPLE_ROWS,
    }
    return m, info, tracer, checks
