"""Table IO abstraction: Iceberg when its runtime jar is on the
classpath, Parquet directory layout otherwise.

The reference's "table format" is an S3 prefix convention plus a DynamoDB
row per workflow (SURVEY.md S2/S9). Here a table is an Iceberg table
(production target: partitioned by bucket(conv_id), snapshot-based
resume) or — in this offline container, where iceberg-spark-runtime jars
are unavailable — a Parquet directory partitioned by the same bucket
column, with dynamic partition overwrite standing in for Iceberg's
overwritePartitions. The pipeline only talks to this facade, so the
format is a deployment decision, not a code change.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

BUCKET_COL = "part_bucket"


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-side `rows` (tuples in `schema`'s field
    order; `schema` a StructType or a DDL string such as "id long").

    The rows cross to the JVM as one Arrow table and plan as a
    `LocalTableScan`, so reading the frame starts no Python worker.
    `spark.createDataFrame(list)` plans `parallelize` plus a Python
    `map` instead: a PythonRDD of defaultParallelism Python tasks, each
    paying the fixed ~0.25 s a Python task costs before its first row
    (SCALE.md, "The cost of a Python task"), even for a 16-row frame.
    Every frame the package builds on the driver goes through here;
    tests/test_local_frames.py fails on any other `createDataFrame`."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def with_bucket(df: DataFrame, n_buckets: int, key: str = "conv_id") -> DataFrame:
    """Add `part_bucket` = pmod(hash(key), n_buckets). `F.hash` is
    Spark's shuffle hash (Murmur3, seed 42): the function
    `repartition(n, key)` applies to pick a partition, which is what
    lets `aligned_partitions` line the exchange up with the buckets."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def aligned_partitions(n: int, n_buckets: int) -> int:
    """The smallest exchange count >= `n` that divides `n_buckets` or is
    a multiple of it (at least 1).

    With `count` from here, `repartition(count, key)` and `with_bucket`
    hash the same key the same way, so partition `p` holds only buckets
    `b ≡ p (mod min(count, n_buckets))`: every bucket lives whole in one
    partition (count <= n_buckets) or every partition holds one bucket
    (count >= n_buckets). A write partitioned by bucket then opens
    max(count, n_buckets) files instead of up to count × n_buckets."""
    n = max(n, 1)
    if n >= n_buckets:
        return -(-n // n_buckets) * n_buckets
    return min(d for d in range(n, n_buckets + 1) if n_buckets % d == 0)


class TableIO:
    def __init__(self, spark: SparkSession, n_buckets: int = 16):
        self.spark = spark
        self.n_buckets = n_buckets
        self.use_iceberg = iceberg_available(spark)

    def read(self, path: str) -> DataFrame:
        if (
            self.use_iceberg
            and not path.endswith(".parquet")
            and self._iceberg_layout(path)
        ):
            # a REAL Iceberg target: read errors PROPAGATE. The old
            # blanket except->parquet fallback would silently re-scan an
            # Iceberg table's location as raw parquet on any transient
            # failure — returning deleted and superseded rows from all
            # snapshots with no error.
            return self.spark.read.format("iceberg").load(path)
        return self.spark.read.parquet(path)

    def _iceberg_layout(self, path: str) -> bool:
        """Is `path` an Iceberg target? Catalog identifiers (no '/')
        always are; a filesystem path is decided by the table-format
        marker — the `metadata` directory — probed through the Hadoop
        FS (a driver-side existence check, no scan). A probe error
        propagates: guessing "not Iceberg" would read a real table's
        location as raw parquet, superseded snapshots included."""
        if "/" not in path:
            return True
        from pii_redaction_data_pipeline_spark.sources import fsutil

        return fsutil.exists(self.spark, path.rstrip("/") + "/metadata")

    def write_bucketed(self, df: DataFrame, path: str):
        """Write partitioned by part_bucket. Only the buckets present in
        `df` are replaced (Parquet dynamic partition overwrite) — the
        resume contract: a re-run bucket replaces its own files and
        leaves every other bucket as it was."""
        if BUCKET_COL not in df.columns:
            df = with_bucket(df, self.n_buckets)
        w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        w.partitionBy(BUCKET_COL).parquet(path)
