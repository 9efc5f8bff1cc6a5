"""spark-submit entrypoint: arg parsing, config overrides, zip packaging,
and a local end-to-end run through job.main()."""

import json
import os
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pii_redaction_data_pipeline_spark import job


def test_parse_and_config_overrides():
    args = job.parse_args(
        [
            "--input", "/i", "--output", "/o", "--lineage", "/l",
            "--run-id", "r1", "--n-buckets", "8",
            "--allowed-langs", "en,fr", "--max-ppl", "25.5",
        ]
    )
    cfg = job.build_config(args)
    assert cfg.n_buckets == 8
    assert cfg.allowed_langs == ("en", "fr")
    assert cfg.max_ppl == 25.5
    # defaults untouched
    assert cfg.min_words == 3


def test_pyfiles_zip_self_contained(tmp_path):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    import make_pyfiles_zip

    out = make_pyfiles_zip.build(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(out).namelist()
    # every runtime module ships; no caches
    for mod in (
        "plans/pipeline.py", "functions/fused.py", "functions/scrub.py",
        "functions/langid.py", "functions/perplexity.py", "functions/quality.py",
        "operators/windows.py", "sources/tables.py",
        "sources/lineage.py", "job.py", "session.py", "config.py",
    ):
        assert f"pii_redaction_data_pipeline_spark/{mod}" in names, mod
    assert not any("__pycache__" in n for n in names)


def test_job_main_end_to_end(tmp_path, spark):
    from pii_redaction_data_pipeline_spark.datagen import write_parquet

    tp, _ = write_parquet("tiny", str(tmp_path))
    summary = job.main(
        [
            "--input", tp,
            "--output", str(tmp_path / "annotated"),
            "--lineage", str(tmp_path / "lineage"),
            "--run-id", "t-job",
        ]
    )
    assert summary["processed_buckets"] == list(range(16))
    out = spark.read.parquet(str(tmp_path / "annotated"))
    assert out.count() > 0
    assert "keep" in out.columns and "scrubbed_text" in out.columns
    # second invocation resumes to a no-op
    summary2 = job.main(
        [
            "--input", tp,
            "--output", str(tmp_path / "annotated"),
            "--lineage", str(tmp_path / "lineage"),
            "--run-id", "t-job",
        ]
    )
    assert summary2["processed_buckets"] == []


def test_job_report_scoped_to_run(tmp_path, spark):
    """--report must exclude stale buckets left in a reused output path
    by a previous run-id (dynamic overwrite only replaces touched
    buckets)."""
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.datagen import write_parquet

    tp, _ = write_parquet("tiny", str(tmp_path))
    out, lin = str(tmp_path / "annotated"), str(tmp_path / "lineage")

    # run A: full input, all 16 buckets
    job.main(["--input", tp, "--output", out, "--lineage", lin, "--run-id", "A"])

    # run B: a single conversation -> a strict subset of buckets
    full = spark.read.parquet(tp)
    one_conv = full.filter(
        F.col("conv_id") == full.select("conv_id").first()["conv_id"]
    )
    small_in = str(tmp_path / "small_in")
    one_conv.write.parquet(small_in)
    rep = str(tmp_path / "report")
    job.main(
        ["--input", small_in, "--output", out, "--lineage", lin,
         "--run-id", "B", "--report", rep]
    )

    got = spark.read.option("header", "true").csv(f"{rep}/summary").first()
    # the report counts only run B's buckets — the buckets run B actually
    # overwrote hold exactly run B's rows
    n_b = int(got["rows_in"])
    assert n_b == one_conv.count(), (n_b, one_conv.count())


SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit binary not available"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path, tiny):
    """The north-rule submission path, for real: the actual spark-submit
    binary, the actual --py-files zip, a driver script copied OUTSIDE the
    repo so the engine can only be imported from the shipped zip. Proves
    the zip is self-contained (broadcast model artifacts embedded in the
    modules) and job.py works as a spark-submit driver program, not just
    via job.main() in-process."""
    import shutil
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import make_pyfiles_zip

    pkg_zip = make_pyfiles_zip.build(str(tmp_path / "pii_pipeline.zip"))
    driver = str(tmp_path / "job.py")
    shutil.copy(
        os.path.join(repo, "pii_redaction_data_pipeline_spark", "job.py"), driver
    )

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only import source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    out, lin = str(tmp_path / "annotated"), str(tmp_path / "lineage")
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", pkg_zip,
            driver,
            "--input", tiny[0],
            "--output", out,
            "--lineage", lin,
            "--run-id", "submit-smoke",
            "--n-buckets", "4",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["processed_buckets"] == [0, 1, 2, 3]

    import duckdb

    con = duckdb.connect()
    n, n_kept = con.execute(
        f"SELECT count(*), count(*) FILTER (keep) FROM read_parquet('{out}/**/*.parquet')"
    ).fetchone()
    assert n == summary["totals"]["rows_in"] > 0
    assert 0 < n_kept < n  # the verdict actually discriminates


def test_job_curated_output(tmp_path, spark):
    """--curated-output writes the conversation-rolled-up consumer
    slice: only kept turns, only conversations above the kept-frac
    gate, no raw-PII carriers."""
    from pii_redaction_data_pipeline_spark.datagen import write_parquet

    d = str(tmp_path)
    tp, _ = write_parquet("tiny", d)
    out, lin, cur = f"{d}/ann", f"{d}/lin", f"{d}/curated"
    summary = job.main(
        ["--input", tp, "--output", out, "--lineage", lin, "--run-id", "c1",
         "--curated-output", cur, "--conv-min-kept-frac", "0.5"]
    )
    assert summary["curated_output"] == cur
    curated = spark.read.parquet(cur)
    assert "text" not in curated.columns  # consumer projection
    rows = curated.select("conv_id", "keep").collect()
    assert rows and all(r["keep"] for r in rows)
    # every surviving conversation satisfies the rollup on the full run
    from pii_redaction_data_pipeline_spark.operators.windows import (
        conversation_verdict,
    )

    full = spark.read.parquet(out)
    verdicts = {
        r["conv_id"]: r["conv_keep"]
        for r in conversation_verdict(full, 0.5).collect()
    }
    for r in rows:
        assert verdicts[r["conv_id"]] is True
    # at least one conversation was dropped whole by the gate
    assert set(verdicts) - {r["conv_id"] for r in rows}


def test_curate_full_cli(spark, tmp_path):
    """spark-submit surface for the composed DAG: --curate-full runs
    run_curation end-to-end and the summary names every stage."""
    import __spark_entry__ as E
    from pii_redaction_data_pipeline_spark.job import main
    from pii_redaction_data_pipeline_spark.plans.curate import STAGES

    tp = f"{E._tinydup_dir()}/transcripts.parquet"
    out = str(tmp_path / "curate")
    s = main([
        "--input", tp, "--output", out, "--lineage", "unused",
        "--run-id", "cli-curate", "--master", "local[8]",
        "--curate-full", "--sample-rate", "1.0",
    ])
    assert s["stages_ran"] == list(STAGES)
    assert spark.read.parquet(s["paths"]["packed"]).count() > 0
    # the CLI must match run_curation's cfg=None product default: the
    # raw pre-scrub text is NOT persisted unless explicitly retained
    # (round-5 review finding: build_config's PipelineConfig() default
    # silently inverted it)
    assert s["retain_original_text"] is False
    assert "text" not in spark.read.parquet(s["paths"]["annotated"]).columns


def test_curate_full_cli_text_flags(tmp_path):
    """--retain-original-text opts back in; combining it with
    --drop-original-text is a hard CLI error."""
    import pytest

    from pii_redaction_data_pipeline_spark.job import parse_args

    args = parse_args(
        ["--input", "i", "--output", "o", "--lineage", "l",
         "--curate-full", "--retain-original-text"]
    )
    assert args.retain_original_text is True
    with pytest.raises(SystemExit):
        parse_args(
            ["--input", "i", "--output", "o", "--lineage", "l",
             "--drop-original-text", "--retain-original-text"]
        )
