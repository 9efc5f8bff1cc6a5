"""Skew handling: a hot conversation must spread across partitions in
the phase-1 layout hashed on (conv_id, turn_idx) (per-row stages), while
the conv_id window phase keeps it whole — the two-phase contract from
SURVEY.md §4."""

import os
import re
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _skewed_df(spark, hot_rows=4000, small_convs=50):
    rows = [("hot", i) for i in range(hot_rows)]
    rows += [(f"c{j}", i) for j in range(small_convs) for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx"])
    return spark.createDataFrame(pdf)


def _row_key_layout(frame, n):
    """{(conv_id, turn_idx): partition id} after annotate's phase-1
    repartition(n, conv_id, turn_idx) (tests/test_plans.py ties the
    expression to annotate)."""
    rows = (
        frame.repartition(n, "conv_id", "turn_idx")
        .withColumn("pid", F.spark_partition_id())
        .collect()
    )
    out = {(r.conv_id, r.turn_idx): r.pid for r in rows}
    assert len(out) == len(rows)  # no row duplicated
    return out


def test_row_key_repartition_spreads_hot_conversation(spark):
    """The hot conversation spreads over at least half the partitions
    and no row is lost or duplicated."""
    n = 16
    df = _skewed_df(spark)
    a = _row_key_layout(df, n)
    assert len(a) == df.count()  # no row lost
    hot = [pid for (conv, _), pid in a.items() if conv == "hot"]
    # one hot key must NOT collapse onto one partition
    assert len(set(hot)) >= n // 2, sorted(set(hot))
    # and no partition should hold the majority of the hot rows
    assert max(hot.count(p) for p in set(hot)) < len(hot) * 0.5


def test_row_key_repartition_is_deterministic_and_map_safe(spark):
    """Each row's partition is a function of the row alone, not of the
    input's partitioning: a nondeterministic key can lose or duplicate
    rows when a fetch failure forces a partial map-stage recompute (the
    SPARK-23207 class). The key names only conv_id and turn_idx, so a
    MapType column in the frame (xxhash64 rejects maps at plan time)
    does not get in the way."""
    n = 8
    df = _skewed_df(spark).withColumn(
        "m", F.create_map(F.lit("k"), F.col("turn_idx"))
    )
    a = _row_key_layout(df, n)
    assert len(a) == df.count()
    assert _row_key_layout(df.repartition(13), n) == a
    assert _row_key_layout(df.coalesce(1), n) == a


def test_conv_id_repartition_keeps_conversation_whole(spark):
    df = _skewed_df(spark, hot_rows=500)
    out = df.repartition(16, "conv_id")
    per = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("n_pids"))
        .filter(F.col("n_pids") > 1)
        .count()
    )
    assert per == 0  # every conversation lives in exactly one partition


def test_skew_torture_pipeline(spark, tmp_path):
    """VERDICT round-2 item 6: one pathological ~100k-turn conversation
    (datagen scale 'skewtort') through the full pipeline. Pins that
    (a) phase 1 takes the row-key repartition (the scan's few natural
    splits are below the parallelism target, so the plan must contain
    the (conv_id, turn_idx) exchange below the Python node, spreading
    the hot conversation), (b) the conv_id phase-2 window survives the
    skew, and (c) per-turn verdicts and scrubbed text still exactly
    match the planted labels — correctness is partitioning-independent."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.datagen import write_parquet
    from pii_redaction_data_pipeline_spark.plans.pipeline import (
        annotate,
        tune_shuffle_partitions,
    )

    tp, lp = write_parquet("skewtort", str(tmp_path))
    tr = spark.read.parquet(tp)
    n_rows = tr.count()
    assert n_rows > 100_000  # the planted hot conversation dominates
    hot = tr.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert hot["count"] >= 100_000

    tune_shuffle_partitions(spark, tr)
    ann = annotate(tr, PipelineConfig(), spark)

    # (a) plan pin: the row-key phase-1 exchange sits below the Python
    # node (few natural splits -> annotate must not run the UDF on the
    # skewed scan layout); executedPlan prints the sink first
    plan = ann._jdf.queryExecution().executedPlan().toString()
    cores = spark.sparkContext.defaultParallelism
    phase1 = re.search(
        rf"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+, {cores}\)", plan
    )
    assert phase1 and plan.index("ArrowEvalPython") < phase1.start(), plan[:2000]

    # (b)+(c): the whole skewed conversation flows through the window
    # phase and every verdict matches the generator's planted label
    exp = spark.read.parquet(lp)
    j = ann.alias("a").join(exp.alias("e"), ["conv_id", "turn_idx"], "full")
    assert j.count() == n_rows
    assert j.filter(F.col("a.keep") != F.col("e.keep")).count() == 0
    assert (
        j.filter(
            ~F.col("a.scrubbed_text").eqNullSafe(F.col("e.scrubbed_text"))
        ).count()
        == 0
    )

