"""Small-file compaction (sources/compact.py): file-count reduction,
row preservation, partition-layout preservation, crash hygiene."""

import os

import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.sources.compact import (
    compact_parquet,
    dir_stats,
    plan_compaction,
)


def _write_fragmented(spark, path, n_files=40, rows=4000):
    spark.range(rows).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
    ).repartition(n_files).write.mode("overwrite").parquet(path)


def test_plan_and_compact_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    _write_fragmented(spark, p)
    before = dir_stats(spark, p)
    assert before["n_files"] == 40
    plan = plan_compaction(spark, p, target_bytes=max(1, before["total_bytes"]))
    assert plan["target_files"] == 1 and plan["worth_it"]

    rows_before = sorted(
        (r["id"], r["payload"]) for r in spark.read.parquet(p).collect()
    )
    out = compact_parquet(spark, p, target_bytes=before["total_bytes"])
    assert out["n_files_before"] == 40 and out["n_files_after"] == 1
    assert out["rows"] == 4000
    rows_after = sorted(
        (r["id"], r["payload"]) for r in spark.read.parquet(p).collect()
    )
    assert rows_after == rows_before
    # no staging/old dirs left behind
    assert not os.path.exists(p + "__compact_staging")
    assert not os.path.exists(p + "__compact_old")


def test_partition_preserving_compaction(spark, tmp_path):
    p = str(tmp_path / "b")
    spark.range(2000).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    ).repartition(20).write.mode("overwrite").partitionBy("bucket").parquet(p)
    # 20 round-robin input files x 4 partition values = 80 part-files
    assert dir_stats(spark, p)["n_files"] == 80
    compact_parquet(spark, p, target_bytes=1 << 30, partition_cols=["bucket"])
    # layout survives: partition dirs still present, pruning still works
    subdirs = {d for d in os.listdir(p) if d.startswith("bucket=")}
    assert subdirs == {f"bucket={i}" for i in range(4)}
    pruned = spark.read.parquet(p).filter("bucket = 2")
    assert pruned.count() == 500
    # the rewrite keys on the partition column: ONE file per partition
    # directory, not target_files x n_partitions (round-2 advice)
    for d in subdirs:
        files = [f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_stale_compact_old_is_recovered(spark, tmp_path):
    """A stranded __compact_old from a crash inside the swap window
    (live dir renamed away, staging not yet renamed in) is restored on
    the next compaction entry instead of corrupting the table."""
    p = str(tmp_path / "d")
    _write_fragmented(spark, p, n_files=5, rows=100)
    import shutil

    # simulate the mid-swap crash: live dir moved to __compact_old
    shutil.move(p, p + "__compact_old")
    assert not os.path.exists(p)
    out = compact_parquet(spark, p, target_bytes=1 << 30)
    assert out["rows"] == 100 and out["n_files_after"] == 1
    assert not os.path.exists(p + "__compact_old")
    assert spark.read.parquet(p).count() == 100


def test_stale_compact_old_after_completed_swap_is_reclaimed(spark, tmp_path):
    """A stranded __compact_old while the live path EXISTS means the
    prior swap completed; it is garbage and must be deleted, never
    renamed into the live dir."""
    p = str(tmp_path / "e")
    _write_fragmented(spark, p, n_files=5, rows=100)
    os.makedirs(p + "__compact_old")
    open(p + "__compact_old/junk", "w").write("x")
    out = compact_parquet(spark, p, target_bytes=1 << 30)
    assert out["rows"] == 100
    assert not os.path.exists(p + "__compact_old")
    assert spark.read.parquet(p).count() == 100


def test_crashed_staging_dir_is_cleaned(spark, tmp_path):
    p = str(tmp_path / "c")
    _write_fragmented(spark, p, n_files=5, rows=100)
    stale = p + "__compact_staging"
    os.makedirs(stale)
    open(os.path.join(stale, "junk"), "w").write("x")
    out = compact_parquet(spark, p, target_bytes=1 << 30)
    assert out["rows"] == 100 and out["n_files_after"] == 1
    assert not os.path.exists(stale)


def test_partitioned_compact_rejects_unpartitioned_dir(spark, tmp_path):
    """Passing partition_cols for a directory that is not Hive-partitioned
    by them must raise a clear ValueError naming the columns, not an
    opaque schema-inference error (round-3 ADVICE)."""
    import pytest

    from pii_redaction_data_pipeline_spark.sources.compact import (
        compact_parquet,
    )

    path = str(tmp_path / "flat")
    spark.range(100).withColumn("part", (F.col("id") % 3).cast("string")) \
        .write.parquet(path)  # NOT partitionBy("part")
    with pytest.raises(ValueError, match="part"):
        compact_parquet(spark, path, partition_cols=["part"])


def test_hidden_directories_excluded_from_stats(spark, tmp_path):
    """Files under _temporary/.hive-staging (crashed-write leftovers)
    are pruned by Spark's file index but were counted by the byte
    planner, inflating size estimates (round-5 review finding): any
    hidden PATH SEGMENT must exclude the file, not just a hidden
    basename."""
    import os

    from pii_redaction_data_pipeline_spark.sources.compact import dir_stats

    p = str(tmp_path / "t")
    spark.range(100).write.parquet(p)
    clean = dir_stats(spark, p)
    junk = os.path.join(p, "_temporary", "0")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-0001.parquet"), "wb") as f:
        f.write(b"x" * 4096)
    assert dir_stats(spark, p) == clean


def test_compaction_preserves_zero_padded_partition_segments(spark, tmp_path):
    """A bucket=01 directory must stay bucket=01 through compaction:
    partition-column type inference would re-type it as int 1 — breaking
    the per-partition sizing join (listing holds '01', column
    stringifies to '1') and RENAMING the directory on rewrite (round-5
    review finding)."""
    import os

    from pii_redaction_data_pipeline_spark.sources.compact import compact_parquet

    p = str(tmp_path / "t")
    for b in ("01", "02"):
        (
            spark.range(50).selectExpr("id", f"'{b}' as bucket")
            .repartition(5)
            .write.mode("append").partitionBy("bucket").parquet(p)
        )
    before = spark.read.parquet(p).count()
    res = compact_parquet(spark, p, target_bytes=10**9, partition_cols=["bucket"])
    assert res["rows"] == before
    assert sorted(
        d for d in os.listdir(p) if d.startswith("bucket=")
    ) == ["bucket=01", "bucket=02"]
    # inference conf restored for the session
    assert (
        spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled")
        == "true"
    )


def test_failed_read_restores_inference_conf(spark, tmp_path):
    """The inference conf is restored however the compaction fails: on a
    missing path (the listing raises) and on a directory whose file is
    not parquet (the read raises after the conf was set)."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.parquet").write_text("not parquet")
    for path in (tmp_path / "missing", bad):
        with pytest.raises(Exception):
            compact_parquet(spark, str(path))
        assert spark.conf.get(key) == "true"
    assert not os.path.exists(str(bad) + "__compact_staging")
