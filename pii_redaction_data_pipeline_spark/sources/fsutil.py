"""One shared Hadoop FileSystem existence probe.

Three call sites (sources/tables.py, sources/lineage.py,
functions/perplexity.py) each need a driver-side existence check on any
storage the session can reach (file://, hdfs://, s3a://). The JVM
incantation uses private SparkSession internals (_jvm/_jsc), so it
lives in exactly one place: a Spark-internals change needs one fix, not
three coordinated ones. A probe error propagates to the caller.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def exists(spark: SparkSession, path: str) -> bool:
    """Does `path` exist on whatever FileSystem implementation its scheme
    resolves to under the session's Hadoop configuration?"""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath))
