"""spark-submit entrypoint for the quality-filter pipeline.

The north rule runs this engine "via spark-submit --py-files across
multi-executor clusters". This module is that entrypoint: the package is
zipped and shipped with --py-files, and this file is the driver program.

    python scripts/make_pyfiles_zip.py                 # -> dist/pii_pipeline.zip
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/pii_pipeline.zip \
        pii_redaction_data_pipeline_spark/job.py \
        --input  /path/transcripts.parquet \
        --output /path/annotated \
        --lineage /path/lineage \
        --run-id nightly-2026-08-16

On a cluster the session master/executors come from spark-submit conf;
when this script creates its own session (local smoke runs) it uses the
same factory as the tests. Re-running with the same --run-id resumes
from the lineage checkpoint (plans.pipeline.run_pipeline); pass a fresh
run-id for a from-scratch run.

Replaces the reference's submission path — S3 event -> machine-state
Lambda -> Step Functions start_execution (reference
backend/src/lambda/machine-state.py:29-99) — with a single driver
program whose barriers are Spark stages, not task tokens.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="PII quality-filter pipeline job")
    p.add_argument("--input", required=True, help="transcripts parquet/Iceberg path")
    p.add_argument("--output", required=True, help="annotated table output path")
    p.add_argument("--lineage", required=True, help="lineage/checkpoint table path")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--master", default=None, help="override master (else spark-submit's)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--n-buckets", type=int, default=None)
    p.add_argument("--allowed-langs", default=None, help="comma-separated, e.g. en,fr")
    p.add_argument("--max-ppl", type=float, default=None)
    p.add_argument(
        "--report",
        default=None,
        help="also write the 3-part run-quality CSV report here "
        "(summary / drop-reason x lang matrix / scrub counts)",
    )
    p.add_argument(
        "--drop-original-text",
        action="store_true",
        help="do not persist the raw pre-scrub text (reference "
        "retain_orig_docs=false); halves shuffle/output bytes",
    )
    p.add_argument(
        "--retain-original-text",
        action="store_true",
        help="--curate-full only: keep the raw pre-scrub text in the "
        "annotated table (the curation DAG DROPS it by default — "
        "run_curation's product stance; this opts back in for debugging)",
    )
    p.add_argument(
        "--curated-output",
        default=None,
        help="also write the curated training slice here: kept turns of "
        "conversations passing the conv-level rollup, projected for "
        "--curated-role (plans/views.py)",
    )
    p.add_argument(
        "--curated-role",
        default="consumer",
        choices=("admin", "reviewer", "consumer"),
        help="audience projection for --curated-output",
    )
    p.add_argument(
        "--conv-min-kept-frac",
        type=float,
        default=0.5,
        help="conversation-level gate: drop whole conversations whose "
        "kept-turn fraction is below this (operators/windows.py "
        "conversation_verdict)",
    )
    p.add_argument(
        "--train-ppl-on-corpus",
        action="store_true",
        help="fit the KN perplexity model on the input corpus itself "
        "(one extra counting pass + broadcast) instead of the embedded "
        "English default; recalibrate --max-ppl when using this "
        "(functions/perplexity.train_char_trigram_lm)",
    )
    p.add_argument(
        "--curate-full",
        action="store_true",
        help="run the WHOLE curation DAG (annotate -> conversation "
        "verdict -> conversation near-dup dedup -> deterministic sample "
        "-> sequence packing) as one resumable job (plans/curate.py); "
        "--output becomes the work dir holding every stage's table, "
        "--lineage is ignored (the work dir carries its own)",
    )
    p.add_argument("--dedup-jaccard", type=float, default=0.6,
                   help="conv near-dup threshold for --curate-full")
    p.add_argument("--sample-rate", type=float, default=0.85,
                   help="deterministic downsample rate for --curate-full")
    p.add_argument("--seq-tokens", type=int, default=256,
                   help="packed sequence length for --curate-full")
    p.add_argument("--pack-buckets", type=int, default=64,
                   help="packing pseudo-shuffle buckets for --curate-full")
    args = p.parse_args(argv)
    if args.drop_original_text and args.retain_original_text:
        p.error("--drop-original-text and --retain-original-text conflict")
    return args


def build_config(args: argparse.Namespace):
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    import dataclasses

    overrides = {}
    if args.n_buckets is not None:
        overrides["n_buckets"] = args.n_buckets
    if args.allowed_langs is not None:
        overrides["allowed_langs"] = tuple(args.allowed_langs.split(","))
    if args.max_ppl is not None:
        overrides["max_ppl"] = args.max_ppl
    if args.drop_original_text:
        overrides["retain_original_text"] = False
    if args.train_ppl_on_corpus:
        overrides["train_ppl_on_corpus"] = True
    return dataclasses.replace(PipelineConfig(), **overrides) if overrides else PipelineConfig()


def main(argv: list[str] | None = None) -> dict:
    args = parse_args(argv)
    from pii_redaction_data_pipeline_spark import get_spark
    from pii_redaction_data_pipeline_spark.plans.pipeline import (
        annotated_run_rows,
        run_pipeline,
    )

    spark = get_spark(
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        app_name=f"quality-filter:{args.run_id}",
    )
    if args.curate_full:
        import dataclasses

        from pii_redaction_data_pipeline_spark.plans.curate import (
            CurationConfig,
            run_curation,
        )

        # match run_curation's cfg=None product default: the curation
        # DAG drops the raw pre-scrub text unless explicitly retained —
        # passing build_config() unmodified would silently invert it
        # (PipelineConfig defaults retain=True for the plain pipeline)
        cfg = build_config(args)
        if not args.retain_original_text:
            cfg = dataclasses.replace(cfg, retain_original_text=False)

        summary = run_curation(
            spark,
            input_path=args.input,
            work_dir=args.output,
            run_id=args.run_id,
            cfg=cfg,
            ccfg=CurationConfig(
                min_kept_frac=args.conv_min_kept_frac,
                dedup_jaccard=args.dedup_jaccard,
                sample_rate=args.sample_rate,
                seq_tokens=args.seq_tokens,
                pack_buckets=args.pack_buckets,
            ),
        )
        print(json.dumps(summary))
        return summary
    summary = run_pipeline(
        spark,
        input_path=args.input,
        output_path=args.output,
        lineage_path=args.lineage,
        run_id=args.run_id,
        cfg=build_config(args),
    )
    if args.report or args.curated_output:
        from pyspark.sql import functions as F

        from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore
        from pii_redaction_data_pipeline_spark.sources.tables import BUCKET_COL

        # rows are stamped with their run_id (plans/pipeline.py), so the
        # report scopes to THIS run even when the output path is reused
        # and still holds other runs' rows in untouched buckets. The
        # bucket predicate prunes partitions at the scan (run_id is a
        # data column and cannot); completed_buckets covers earlier
        # sessions of a resumed run-id, not just this invocation's.
        buckets = LineageStore(spark, args.lineage).completed_buckets(args.run_id)
        out_df = annotated_run_rows(spark, args.output, args.run_id).filter(
            F.col(BUCKET_COL).isin(buckets)
        )
    if args.report:
        from pii_redaction_data_pipeline_spark.sources.report import (
            write_quality_report,
        )

        write_quality_report(out_df, args.report)
        summary["report"] = args.report
    if args.curated_output:
        from pii_redaction_data_pipeline_spark.operators.windows import (
            conversation_verdict,
        )
        from pii_redaction_data_pipeline_spark.plans.views import review_view

        # conv-level rollup gate, then the audience projection; the
        # verdict frame is tiny (one row per conversation) so the
        # semi-join broadcasts
        kept_convs = conversation_verdict(
            out_df, min_kept_frac=args.conv_min_kept_frac
        ).filter("conv_keep")
        curated = review_view(out_df, args.curated_role).join(
            F.broadcast(kept_convs.select("conv_id")), "conv_id", "semi"
        )
        if args.curated_role != "consumer":  # consumer view already keeps-only
            curated = curated.filter("keep")
        curated.write.mode("overwrite").parquet(args.curated_output)
        summary["curated_output"] = args.curated_output
        summary["curated_role"] = args.curated_role
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
