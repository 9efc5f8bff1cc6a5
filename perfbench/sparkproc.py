"""The Spark driver process: start, stop and measure it."""

from __future__ import annotations

import os
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start(extra_conf=None):
    """get_spark with its defaults, one executor thread per core."""
    from pii_redaction_data_pipeline_spark import get_spark

    return get_spark(master=f"local[{nproc()}]", extra_conf=extra_conf)


def _descendants(pid: int) -> list[int]:
    # a process's `children` file lists only the children forked by that
    # thread, so walk every thread (the Python worker daemon is forked by
    # a JVM worker thread, not the main one)
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            kids = Path(f"/proc/{pid}/task/{tid}/children").read_text().split()
        except FileNotFoundError:
            continue
        for kid in map(int, kids):
            out.append(kid)
            out.extend(_descendants(kid))
    return out


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the driver JVM and its (live) Python workers."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    total_kb = 0
    for pid in [jvm, *_descendants(jvm)]:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024


def environment(spark) -> dict:
    import pyarrow

    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "pyarrow_version": pyarrow.__version__,
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def stop(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
