"""Per-partition checkpoint/lineage store.

Generalizes the reference's DynamoDB workflow row + Manifest summary
(machine-state.py:60 INSERT; pii-output.py:91-93 Manifest;
useWorkflows.jsx:109-113 reads InputFileCount/SuccessfulFilesCount/
UnprocessedFilesCount) into one table with a row per (run_id, bucket):

  run_id, partition_id, rows_in, rows_out,
  drop_reason_counts map<string,long>, scrub_counts map<string,long>,
  status ('complete'), finished_seq

plus one row per completed curation stage, keyed (run_id,
"stage:<name>") with NULL count maps (`stage_row`, plans/curate.py).

Callers hand `LineageStore.append` plain tuples in `LINEAGE_SCHEMA`
order; only the store turns rows into a frame, and no other module
imports the schema. A run writes at most one row per bucket, so its
rows are assembled on the driver (plans/pipeline.lineage_metrics
collects one per-bucket aggregate) and cross to the JVM as one Arrow
table.

Resume = the input buckets minus the run's completed lineage rows — the
Spark translation of the reference's "processed files < input files →
submit more work" loop (textract-bulk.py:108-118). Appends are atomic at
file granularity; a bucket is only trusted once its row says complete,
so a crash mid-run re-processes at most the in-flight buckets
(idempotent because output writes are per-bucket dynamic overwrites).
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_redaction_data_pipeline_spark.sources.tables import local_frame

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


def stage_row(run_id: str, stage: str, rows_out: int) -> tuple:
    """The lineage row that marks `stage` of `run_id` complete: partition
    `stage:<stage>`, rows_in = rows_out, NULL count maps."""
    return (run_id, f"stage:{stage}", rows_out, rows_out, None, None,
            "complete", int(time.time() * 1000))


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
            return self._frame([])
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except AnalysisException:  # raced away between probe and read
            return self._frame([])

    def _completed(self, run_id: str) -> dict[str, int]:
        """rows_in of each of `run_id`'s complete rows, by partition_id
        (bucket numbers and "stage:<name>" alike). A store that does not
        exist yet (every fresh run) answers without a Spark job."""
        if not self._exists():
            return {}
        rows = (
            self.read()
            .filter((F.col("run_id") == run_id) & (F.col("status") == "complete"))
            .select("partition_id", "rows_in")
            .collect()
        )
        return {r.partition_id: r.rows_in for r in rows}

    def completed_buckets(self, run_id: str) -> list[int]:
        return [int(p) for p in self._completed(run_id) if p.isdecimal()]

    def completed_stages(self, run_id: str) -> set[str]:
        return {
            p.removeprefix("stage:") for p in self._completed(run_id)
            if p.startswith("stage:")
        }

    def annotated_rows(self, run_id: str) -> int:
        """rows_in summed over `run_id`'s complete bucket rows: the run's
        annotated row count, including buckets that an earlier, resumed
        session finished."""
        return sum(n for p, n in self._completed(run_id).items() if p.isdecimal())

    def _frame(self, rows: list[tuple]) -> DataFrame:
        return local_frame(self.spark, rows, LINEAGE_SCHEMA)

    def append(self, rows: list[tuple]):
        """Append `rows` (tuples in LINEAGE_SCHEMA order) as ONE file: they
        are at most one row per bucket (or one stage row), so the write's
        partitioning would only spray tiny files that every later read
        opens one task each for."""
        self._frame(rows).coalesce(1).write.mode("append").parquet(self.path)

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
        # (try_cast: a "stage:<name>" row is NULL here, where ANSI mode's
        # cast would fail the query)
        return df.orderBy(
            F.col("finished_seq").desc(), F.col("partition_id").try_cast("int")
        )
