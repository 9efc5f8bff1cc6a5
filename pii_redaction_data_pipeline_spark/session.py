"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same config ships via spark-submit. Parallelism (master) and shuffle
partitions are injectable; both default to the host's CPU count, and
the driver heap to about half its RAM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_physical_ram() -> str:
    """About half the host's physical RAM, in whole GiB (at least 1g):
    local mode runs every executor thread inside the driver JVM, and the
    Python UDF workers need the other half."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(total // 2**31, 1)}g"


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "pii-redaction-quality-filter",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Arrow exchange is on (every Python stage is a vectorized pandas UDF);
    AQE is on so skewed shuffles re-plan at runtime; shuffle partitions
    default to the core count rather than Spark's 200 (local data is
    small per-partition; at 100 TB this is instead sized to input volume
    by run_pipeline via plans.pipeline.tune_shuffle_partitions).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = (os.cpu_count() or 8) if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _half_physical_ram()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # task-side (parallel) file commit: the default v1 renames every
        # output file serially on the driver during commitJob — with
        # partitionBy(bucket) writes producing max(tasks, buckets)
        # files, that serial tail grows WITH parallelism. v2's tradeoff
        # (partial files visible on job failure) is safe here: the
        # lineage checkpoint only marks buckets complete after the job
        # succeeds, so a failed run's stragglers are overwritten on
        # resume (dynamic partition overwrite).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_PARQUET_CODEC", "snappy"),
        )
        # local inputs are far below 128 MB; smaller splits keep all
        # cores busy through the pandas-UDF stages. On a real cluster
        # the submitter sizes this to input volume (128-256 MB).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
