"""Report sink (S7 analog) + lineage status API (§3.2 analog)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore
from pii_redaction_data_pipeline_spark.sources.report import (
    quality_report,
    write_quality_report,
)


def test_quality_report_parts(spark, tiny_annotated):
    ann = spark.read.parquet(tiny_annotated[0])
    parts = quality_report(ann)
    summary = parts["summary"].first()
    assert summary["rows_in"] == ann.count()
    assert 0 < summary["rows_kept"] < summary["rows_in"]
    assert abs(summary["keep_rate"] - summary["rows_kept"] / summary["rows_in"]) < 1e-4

    reasons = {(r["reason"], r["lang"]): r["n"] for r in parts["reasons"].collect()}
    # grand total row equals total dropped-reason instances
    total = ann.select(F.explode("drop_reasons")).count()
    assert reasons[("ALL", "ALL")] == total
    # every taxonomy reason present in fixtures appears
    assert any(k[0] == "too_short" for k in reasons)

    scrub = {r["pii_type"]: r["n_redactions"] for r in parts["scrub"].collect()}
    assert scrub and all(n > 0 for n in scrub.values())


def test_write_quality_report_csv(spark, tiny_annotated, tmp_path):
    ann = spark.read.parquet(tiny_annotated[0])
    out = str(tmp_path / "report")
    write_quality_report(ann, out)
    for part in ("summary", "reasons", "scrub"):
        got = spark.read.option("header", "true").csv(f"{out}/{part}")
        assert got.count() > 0


def test_lineage_status_api(spark, tiny_annotated, tmp_path):
    import shutil

    # copy the fixture lineage so appending a second run can't pollute
    # the session-scoped fixture for other tests
    lp = str(tmp_path / "lineage")
    shutil.copytree(tiny_annotated[1], lp)
    store = LineageStore(spark, lp)

    # append a NEWER run so ordering and filtering are non-vacuous
    newer = [
        ("run-2", *r[1:-1], r.finished_seq + 1000)
        for r in store.read().limit(3).collect()
    ]
    store.append(newer)

    all_rows = store.status().collect()
    assert len(all_rows) == 19
    # newest-first: the 3 run-2 rows lead
    assert [r["run_id"] for r in all_rows[:3]] == ["run-2"] * 3
    seqs = [r["finished_seq"] for r in all_rows]
    assert seqs == sorted(seqs, reverse=True)
    # within a tie, buckets in NUMERIC order (not lexicographic)
    first_run = [int(r["partition_id"]) for r in all_rows[3:]]
    assert first_run == sorted(first_run)

    assert len(store.status(run_id="test-run").collect()) == 16
    assert len(store.status(run_id="run-2").collect()) == 3
    assert store.status(run_id="no-such-run").collect() == []
