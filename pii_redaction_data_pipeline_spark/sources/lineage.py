"""Per-partition checkpoint/lineage store.

Generalizes the reference's DynamoDB workflow row + Manifest summary
(machine-state.py:60 INSERT; pii-output.py:91-93 Manifest;
useWorkflows.jsx:109-113 reads InputFileCount/SuccessfulFilesCount/
UnprocessedFilesCount) into one table with a row per (run_id, bucket):

  run_id, partition_id, rows_in, rows_out,
  drop_reason_counts map<string,long>, scrub_counts map<string,long>,
  status ('complete'), finished_seq

Resume = anti-join of input buckets vs completed lineage rows — the
Spark translation of the reference's "processed files < input files →
submit more work" loop (textract-bulk.py:108-118). Appends are atomic at
file granularity; a bucket is only trusted once its row says complete,
so a crash mid-run re-processes at most the in-flight buckets
(idempotent because output writes are per-bucket dynamic overwrites).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("drop_reason_counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("scrub_counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("status", T.StringType()),
        T.StructField("finished_seq", T.LongType()),
    ]
)


class LineageStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # probe existence via the Hadoop FS (works for s3a://, hdfs://,
        # file:// alike) BEFORE building a reader: with an explicit
        # schema the parquet read resolves lazily, so a missing first-run
        # path used to fail during ANALYSIS of the first action — the
        # result was still an empty frame, but every miss logged a
        # FileNotFound stack trace and fired a failed-query event that
        # Spark 4's ObservationManager listener re-analyzes (driver-log
        # noise measured once per fresh-dir DAG run)
        from pii_redaction_data_pipeline_spark.sources import fsutil

        return fsutil.exists(self.spark, self.path)

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except AnalysisException:  # raced away between probe and read
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def completed_buckets(self, run_id: str) -> list[int]:
        # a store that does not exist yet (every fresh run) answers
        # without a Spark job
        if not self._exists():
            return []
        # partition_id also carries stage-boundary rows ("stage:<name>",
        # plans/curate.py) — bucket resume only reads the numeric ones
        df = self.read().filter(
            (F.col("run_id") == run_id)
            & (F.col("status") == "complete")
            & F.col("partition_id").rlike("^[0-9]+$")
        )
        return [int(r.partition_id) for r in df.select("partition_id").distinct().collect()]

    def append(self, df: DataFrame):
        # one file per append: a frame here is at most one row per bucket
        # (or one stage row), so the write's partitioning would only
        # spray tiny files that every later read opens one task each for
        df.coalesce(1).write.mode("append").parquet(self.path)

    def status(
        self,
        run_id: str | None = None,
        start_seq: int | None = None,
        end_seq: int | None = None,
    ) -> DataFrame:
        """The reference's status/read API (GET ?fetch=all&startdt&enddt /
        ?fetch=<id>, reference backend/src/lambda/get-workflows.py:27-99:
        PartiQL range scan :30 or point get :59-65, plus the UI's
        newest-first sort, useWorkflows.jsx:124) as a plain DataFrame
        query: optional point filter, optional finished_seq range (the
        startdt/enddt arm), newest-first ordering."""
        df = self.read()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        if start_seq is not None:
            df = df.filter(F.col("finished_seq") >= start_seq)
        if end_seq is not None:
            df = df.filter(F.col("finished_seq") <= end_seq)
        # partition_id is stored as string; order buckets numerically
        return df.orderBy(
            F.col("finished_seq").desc(), F.col("partition_id").cast("int")
        )
