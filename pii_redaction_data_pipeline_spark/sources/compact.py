"""Small-file compaction for parquet outputs.

A long-running curation pipeline accretes small files: every resumed
run, streaming micro-batch, and skew-split task adds part-files, and at
100 TB a table of 10 MB files makes every downstream scan
metadata-bound (driver file listing, task-per-file scheduling, row-group
overhead). This is the scale analog of the reference's object
move/rewrite step (S8: copy_object + delete_object,
reference backend/src/lambda/redact.py:228-244) — rewrite in place,
same rows, better layout.

Mechanics: size the target file count from the actual on-disk bytes
(ceil(total / target_bytes)), rewrite with `repartition(n)` (round-robin
— even output sizes, no key skew; with `partition_cols` each partition
DIRECTORY is sized independently from the listing and the repartition
keys on (partition_cols, salt) with ceil(bytes_p / target) salt groups
per value — a hot partition still splits into target-sized files, and
no task sprays a file into every directory), write to a staging dir,
then swap via two FileSystem renames. Each rename is atomic on HDFS/local rename semantics, but the
WINDOW BETWEEN THE TWO is not: a reader that lists the live path in
that instant sees no directory. Preconditions (enforced/documented):
no concurrent readers or writers of `path` during the swap — this is a
maintenance operation, the online path is Iceberg
(`TableIO` + rewrite_data_files) where the commit is a metadata swap;
this module is the Parquet-fallback analog, mirroring the
Iceberg-or-Parquet split used everywhere else in sources/tables.py.

Partition-preserving: a dir written with partitionBy(bucket) keeps its
layout by compacting per partition directory (`partition_cols`), so
bucket pruning and the zero-shuffle re-read path survive compaction.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.sources.fsutil import hadoop_fs


def _hidden(file_path, root_path) -> bool:
    """True if ANY path segment below the table root is hidden (starts
    with '_' or '.') — matching Spark's InMemoryFileIndex, which prunes
    hidden DIRECTORIES too. Filtering only the basename would count
    bytes under _temporary/.hive-staging leftovers of a crashed write —
    files Spark will never read — inflating size planning and salting."""
    rel = str(file_path.toUri().getPath())[len(str(root_path.toUri().getPath())):]
    return any(seg[:1] in ("_", ".") for seg in rel.split("/") if seg)


def dir_stats(spark: SparkSession, path: str) -> dict:
    """Recursive (n_files, total_bytes) for a parquet dir."""
    jvm, fs, hpath = hadoop_fs(spark, path)
    n_files = 0
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if _hidden(st.getPath(), hpath):
            continue
        n_files += 1
        total += st.getLen()
    return {"n_files": n_files, "total_bytes": total}


def _partition_sizes(
    spark: SparkSession, path: str, partition_cols: list[str]
) -> dict[tuple, int]:
    """total bytes per partition-value tuple, from the file listing
    (driver-side metadata walk — no data scan). Values come back as the
    raw `col=value` path segments (Hive string form), so callers join
    them against the data columns CAST TO STRING; exotic values needing
    Hive path escaping (spaces, slashes) are out of scope for the
    parquet fallback — the online path is Iceberg rewrite_data_files."""
    _, fs, hpath = hadoop_fs(spark, path)
    sizes: dict[tuple, int] = {}
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if _hidden(st.getPath(), hpath):
            continue
        segs = dict(
            seg.split("=", 1)
            for seg in str(st.getPath().toUri().getPath()).split("/")
            if "=" in seg
        )
        key = tuple(segs.get(c) for c in partition_cols)
        sizes[key] = sizes.get(key, 0) + st.getLen()
    # a partition_col that never appeared as a `col=value` path segment
    # means the directory is not Hive-partitioned by it; failing here
    # with the column named beats the opaque all-None schema-inference
    # error createDataFrame would raise downstream (round-3 ADVICE)
    missing = [
        c
        for i, c in enumerate(partition_cols)
        if all(k[i] is None for k in sizes)
    ]
    if missing and sizes:
        raise ValueError(
            f"partition column(s) {missing} not found in the directory "
            f"layout of {path}: expected Hive-style 'col=value' path "
            "segments; is this table actually partitioned by them?"
        )
    if not sizes:
        raise ValueError(f"no data files found under {path}")
    return sizes


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Dry run: current layout + the file count a rewrite would produce."""
    stats = dir_stats(spark, path)
    stats["target_files"] = max(1, math.ceil(stats["total_bytes"] / target_bytes))
    stats["worth_it"] = stats["n_files"] > 2 * stats["target_files"]
    return stats


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite a parquet dir into ~target_bytes files and swap in place.

    Returns {n_files_before, n_files_after, total_bytes, rows}. Row
    count is asserted preserved across the rewrite before the swap —
    a failed rewrite leaves the original untouched (staging dir is
    cleaned up).
    """
    staging = path.rstrip("/") + "__compact_staging"
    jvm, fs, hpath = hadoop_fs(spark, path)
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_old")
    # leftovers from a crashed compaction — handled BEFORE planning, so
    # a recovered dir is what gets measured: staging is always safe to
    # drop; a stranded __compact_old means a prior crash happened AFTER
    # its data dir was renamed away — if the live path is gone too,
    # restore it (crash fell in the swap window), else the prior swap
    # completed and the old copy is just unreclaimed garbage
    if fs.exists(spath):
        fs.delete(spath, True)
    if fs.exists(old):
        if not fs.exists(hpath):
            if not fs.rename(old, hpath):
                raise RuntimeError(f"could not restore {path} from {old}")
        else:
            fs.delete(old, True)

    plan = plan_compaction(spark, path, target_bytes)
    # read with partition-column TYPE INFERENCE OFF for the whole
    # rewrite: inference re-types a bucket=01 segment as int 1, which
    # (a) breaks the per-partition sizing join below — the file listing
    # holds the raw segment '01' while the inferred column stringifies
    # back to '1', so the hot partition silently collapses to one salt
    # group — and (b) would REWRITE the directory as bucket=1, renaming
    # the partition out from under readers. Strings round-trip the path
    # segments exactly; downstream readers re-infer their own types.
    inf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    inf_old = spark.conf.get(inf_key)
    try:
        spark.conf.set(inf_key, "false")
        df = spark.read.parquet(path)
        rows_before = df.count()
        if partition_cols:
            # Size each partition DIRECTORY independently from the file
            # listing (no data scan): partition value p gets
            # ceil(bytes_p / target_bytes) salt groups, and the rewrite
            # repartitions on (partition_cols..., salt). Keying on the
            # partition columns alone would collapse a hot partition to
            # ONE task and one arbitrarily large file (target_bytes
            # ignored exactly where it matters); plain round-robin
            # repartition(n) sprays every task into every directory
            # (n x n_partitions files). Hash collisions of two salt
            # groups into one task only merge files (soft overshoot of
            # target_bytes), never split or misplace them.
            psizes = _partition_sizes(spark, path, partition_cols)
            per_part = [
                tuple(k) + (max(1, math.ceil(b / target_bytes)),)
                for k, b in sorted(psizes.items())
            ]
            str_cols = [f"__pc_{c}" for c in partition_cols]
            sizes_df = spark.createDataFrame(
                per_part, str_cols + ["__n_files"]
            )
            cond = [
                df[c].cast("string") == sizes_df[s]
                for c, s in zip(partition_cols, str_cols)
            ]
            salted = (
                df.join(F.broadcast(sizes_df), cond, "left")
                .withColumn(
                    "__salt",
                    (F.rand(42) * F.coalesce(F.col("__n_files"), F.lit(1)))
                    .cast("int"),
                )
                .drop(*str_cols, "__n_files")
            )
            n_tasks = max(sum(n for *_, n in per_part), 1)
            writer = (
                salted.repartition(n_tasks, *partition_cols, F.col("__salt"))
                .drop("__salt")
                .write.mode("overwrite")
                .partitionBy(*partition_cols)
            )
        else:
            writer = df.repartition(plan["target_files"]).write.mode("overwrite")
        writer.parquet(staging)
        rows_after = spark.read.parquet(staging).count()
        if rows_after != rows_before:
            raise RuntimeError(
                f"compaction row drift: {rows_before} -> {rows_after}; "
                "original left untouched"
            )
    except Exception:
        fs.delete(spath, True)
        raise
    finally:
        spark.conf.set(inf_key, inf_old)

    # the swap: Hadoop rename() reports failure by returning false, not
    # raising — check both, and recover the live dir if the second fails
    if not fs.rename(hpath, old):
        fs.delete(spath, True)
        raise RuntimeError(f"rename {path} -> {old} failed; original untouched")
    if not fs.rename(spath, hpath):
        fs.rename(old, hpath)  # best-effort restore of the original
        raise RuntimeError(f"rename {staging} -> {path} failed; original restored")
    fs.delete(old, True)
    after = dir_stats(spark, path)
    return {
        "n_files_before": plan["n_files"],
        "n_files_after": after["n_files"],
        "total_bytes": after["total_bytes"],
        "rows": rows_before,
    }
