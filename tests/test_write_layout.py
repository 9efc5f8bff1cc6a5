"""File layout of the annotate write and the lineage store.

The bucket column and the conv_id exchange hash the same key with the
same function, and the exchange count is aligned with the bucket count,
so each write task holds whole buckets: the write opens one file per
bucket, not one per (task, bucket). The lineage store writes one file
per append and answers a first run's resume probe without a Spark job.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore
from pii_redaction_data_pipeline_spark.sources.tables import (
    BUCKET_COL,
    aligned_partitions,
    with_bucket,
)


@pytest.mark.parametrize(
    "n, n_buckets, expected",
    [(8, 16, 8), (6, 16, 8), (12, 16, 16), (17, 16, 32), (16, 16, 16),
     (1, 16, 1), (0, 16, 1)],
)
def test_aligned_partitions(n, n_buckets, expected):
    assert aligned_partitions(n, n_buckets) == expected


@pytest.mark.parametrize("count", [4, 8, 16, 32])
def test_shuffle_hash_lines_up_with_buckets(spark, count):
    """Pins Spark's shuffle hash to the bucket hash: after the aligned
    conv_id exchange every partition holds whole buckets (count <= 16)
    or exactly one bucket (count >= 16). A Spark release that changed
    either hash would fail here instead of silently bringing back one
    file per (task, bucket)."""
    df = spark.range(2000).select(
        F.concat(F.lit("conv-"), F.col("id").cast("string")).alias("conv_id")
    )
    df = with_bucket(df, 16).repartition(count, "conv_id")
    pairs = df.select(F.spark_partition_id().alias("p"), BUCKET_COL).distinct()
    assert pairs.count() == max(count, 16)


def test_run_pipeline_writes_one_file_per_bucket(tiny_annotated):
    out, _ = tiny_annotated
    dirs = glob.glob(os.path.join(out, f"{BUCKET_COL}=*"))
    assert dirs
    for d in dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)


def test_completed_buckets_of_missing_store_runs_no_job(spark, tmp_path):
    store = LineageStore(spark, str(tmp_path / "absent"))
    sc = spark.sparkContext
    sc.setJobGroup("lineage-probe", "completed_buckets on a missing store")
    try:
        assert store.completed_buckets("r") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("lineage-probe")) == []


def test_lineage_append_writes_one_file(spark, tmp_path):
    path = str(tmp_path / "lineage")
    rows = [
        ("r", str(b), 10, 9, None, None, "complete", 1) for b in range(16)
    ]
    store = LineageStore(spark, path)
    # 16 rows plan as up to defaultParallelism partitions: without the
    # store's coalesce(1) this append would write one file per partition
    store.append(rows)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1
    assert sorted(store.completed_buckets("r")) == list(range(16))
