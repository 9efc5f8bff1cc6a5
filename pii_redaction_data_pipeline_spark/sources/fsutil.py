"""One shared Hadoop FileSystem accessor.

Three call sites (sources/tables.py, sources/lineage.py,
functions/perplexity.py) each need driver-side filesystem metadata —
listings, existence probes — on any storage the session can reach
(file://, hdfs://, s3a://). The JVM incantation uses private
SparkSession internals (_jvm/_jsc), so it lives in exactly one place:
a Spark-internals change needs one fix, not three coordinated ones.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """-> (jvm, fs, hadoop_path) for `path` on whatever FileSystem
    implementation its scheme resolves to under the session's Hadoop
    configuration."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, hpath
