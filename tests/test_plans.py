"""Physical-plan regression tests: the plans we want at 100 TB, pinned.

Catches silent regressions that correctness tests can't see: a filter
that stops reaching the parquet scan, a broadcast join that degrades to
sort-merge, or an extra shuffle sneaking into the pipeline.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(E.queries()["p4_time_range"](spark, SF))
    assert "PushedFilters:" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "ts" in m.group(1), m.group(0) if m else plan[:500]


def test_column_pruning_reaches_scan(spark):
    # 2-column projection from the 5-column documents table
    plan = plan_of(E.queries()["token_count"](spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:500]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_small_dims_broadcast(spark):
    plan = plan_of(E.queries()["join_3way"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # nation (25 rows) must never be the shuffled side
    assert "BroadcastExchange" in plan


def test_theta_join_is_broadcast_nested_loop(spark):
    plan = plan_of(E.queries()["j3_theta_contains"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_tpch_q1_is_scan_filter_agg(spark):
    """Q1 must stay a scan→filter→partial/final agg: no join operator,
    the l_shipdate predicate pushed to the lineitem scan."""
    plan = plan_of(E.queries()["tpch_q1"](spark, SF))
    assert "Join" not in plan
    # Spark truncates the printed PushedFilters list, so assert on the
    # scan line as a whole rather than the bracketed list.
    m = re.search(r"FileScan parquet.*", plan)
    assert m and "PushedFilters: [IsNotNull" in m.group(0), plan[:800]
    assert "IsNotNull(l_shipdate)" in m.group(0), m.group(0)
    assert "HashAggregate" in plan


def test_anti_join_strategy(spark):
    plan = plan_of(E.queries()["j2_anti_resume"](spark, SF))
    assert "LeftAnti" in plan


def _transcript_src(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet")).selectExpr(
        "source as conv_id",
        "cast(doc_id as int) as turn_idx",
        "'user' as role",
        "text",
        "cast(null as string) as tool",
        "current_timestamp() as ts",
    )


def test_pipeline_exchange_budget_degenerate_scan(spark):
    """A degenerate (few-split) scan pays exactly the two designed
    exchanges: the phase-1 (conv_id, turn_idx) repartition + the conv_id
    repartition; the window stack must reuse the conv_id partitioning
    rather than re-shuffling per window spec."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    plan = plan_of(annotate(_transcript_src(spark), PipelineConfig(), spark))
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == 2, f"expected 2 exchanges, got {n_exchanges}:\n{plan[:2000]}"
    # exactly one Python stage: the fused annotate UDF
    n_python = len(re.findall(r"ArrowEvalPython", plan))
    assert n_python == 1, f"expected 1 ArrowEvalPython, got {n_python}"


def test_pipeline_one_wave_on_one_split(spark):
    """A one-split input is hashed on (conv_id, turn_idx) into exactly
    one wave of tasks: the phase-1 exchange has defaultParallelism
    partitions, not 2x that, and the conv_id exchange its bucket-aligned
    count (defaultParallelism itself when the core count divides
    n_buckets). Every Python task pays a fixed ~0.25 s before its first
    row (SCALE.md), so a second wave of balanced, hashed tasks would
    only add that cost."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
    from pii_redaction_data_pipeline_spark.sources.tables import (
        aligned_partitions,
    )

    cfg = PipelineConfig()
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # below the floor, so the floor alone sets the count
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = _transcript_src(spark).coalesce(1)
        assert one.rdd.getNumPartitions() == 1
        plan = plan_of(annotate(one, cfg, spark))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    phase1 = re.findall(r"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+, (\d+)\)", plan)
    conv_only = re.findall(r"Exchange hashpartitioning\(conv_id#\d+, (\d+)\)", plan)
    assert phase1 and conv_only, plan[:2000]
    assert {int(n) for n in phase1} == {cores}, (phase1, cores)
    assert {int(n) for n in conv_only} == {aligned_partitions(cores, cfg.n_buckets)}


def test_pipeline_adaptive_skips_phase1(spark):
    """When the scan already has >= cores balanced splits (the 100 TB
    case), phase 1 must NOT shuffle: the UDFs run on the scan partitions
    and the conv_id exchange is the plan's ONLY shuffle."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    wide = _transcript_src(spark).repartition(64)  # stands in for many files
    plan = plan_of(annotate(wide, PipelineConfig(), spark))
    # count exchanges INTRODUCED by annotate: total minus the RoundRobin
    # one from the test's own repartition(64)
    n_hash = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}:\n{plan[:2000]}"
    assert not re.search(r"hashpartitioning\(conv_id#\d+, turn_idx#", plan)


def test_pipeline_python_before_shuffle(spark):
    """The fused UDF must run under the (conv_id, turn_idx) partitioning
    (before the conv_id exchange), so skewed conversations can't stall
    UDF tasks."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    src = spark.read.parquet(os.path.join(SF, "documents.parquet")).selectExpr(
        "source as conv_id",
        "cast(doc_id as int) as turn_idx",
        "'user' as role",
        "text",
        "cast(null as string) as tool",
        "current_timestamp() as ts",
    )
    plan = plan_of(annotate(src, PipelineConfig(), spark))
    # in executedPlan text, operators print top-down (sink first): the
    # conv_id-only exchange must appear ABOVE the python eval, which in
    # turn sits above the phase-1 (conv_id, turn_idx) exchange
    py = plan.index("ArrowEvalPython")
    cores = spark.sparkContext.defaultParallelism
    phase1 = [
        m.start()
        for m in re.finditer(
            rf"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+, {cores}\)", plan
        )
    ]
    conv_only = [
        m.start()
        for m in re.finditer(r"Exchange hashpartitioning\(conv_id#\d+, \d+\)", plan)
    ]
    assert phase1 and conv_only, plan[:2000]
    assert conv_only[0] < py < phase1[0], (conv_only, py, phase1)


def test_annotate_unpack_in_one_call_keeps_the_plan(spark, tiny, monkeypatch):
    """`annotate` unpacks the fused UDF's struct with one `withColumns`
    (one analysis pass) instead of a `withColumn` per field; the
    optimized plan must be the one the per-field form built."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    def optimized(df) -> str:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", plan)

    src = spark.read.parquet(tiny[0])
    one_call = optimized(annotate(src, PipelineConfig(), spark))

    def per_field(self, cols):
        for name, col in cols.items():
            self = self.withColumn(name, col)
        return self

    monkeypatch.setattr(type(src), "withColumns", per_field)
    assert optimized(annotate(src, PipelineConfig(), spark)) == one_call


def test_tune_shuffle_partitions(spark):
    """Volume-based sizing: floored at one wave (the core count) for
    small inputs; grows with the input size estimate for big ones."""
    from pii_redaction_data_pipeline_spark.plans.pipeline import (
        tune_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
        cores = spark.sparkContext.defaultParallelism
        n = tune_shuffle_partitions(spark, docs)
        assert n == cores  # tiny input -> floor
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        # a 1 KB target forces the size term to dominate
        n2 = tune_shuffle_partitions(spark, docs, target_partition_bytes=1024)
        assert n2 > cores
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_ann_and_topk_broadcast_probe_side(spark):
    """The similarity queries must broadcast their (tiny) probe side —
    a shuffled probe set at corpus scale would exchange the whole
    embedding table instead of shipping a few vectors."""
    topk = plan_of(E.queries()["cosine_topk"](spark, SF))
    ivf = plan_of(E.queries()["ann_ivf"](spark, SF))
    assert "BroadcastNestedLoopJoin" in topk  # != join
    assert "BroadcastHashJoin" in ivf
    assert "SortMergeJoin" not in ivf


def test_sampling_gate_is_shuffle_free_and_pruned(spark):
    """The stratified-sample gate is a scan-side predicate: no Exchange
    anywhere (a sampler that shuffles would move 100 TB to drop 90% of
    it), and the scan reads only the projected columns."""
    from pii_redaction_data_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    gated = stratified_sample(docs, "lang", {"en": 1.0, "de": 0.3}, ["doc_id"])
    plan = plan_of(gated)
    assert "Exchange" not in plan, plan[:800]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "lang"}, cols
    # the driver query only adds its deterministic orderBy on top
    qplan = plan_of(E.queries()["stratified_sample"](spark, SF))
    assert len(re.findall(r"\bExchange \w*partitioning", qplan)) == 1, qplan[:800]


def test_pack_placement_single_exchange(spark):
    """Placement = bucket hash + window cumsum: exactly ONE shuffle (the
    window's hashpartitioning on bucket). A second Exchange would mean
    the cumsum re-partitioned what the bucket hash already placed."""
    from pii_redaction_data_pipeline_spark.operators.packing import (
        with_pack_placement,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(with_pack_placement(docs, 512, 16))
    n_exchange = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchange == 1, plan[:1200]


def test_line_dedup_text_never_enters_an_exchange(spark):
    """corpus_line_dedup's scale contract: boilerplate detection ships
    only (hash, id) pairs, drop POSITIONS come back as one int array per
    document, and the rebuild left-join broadcasts that array — so no
    Exchange in the plan may carry the text column. The final orderBy's
    presentation exchange is excluded by planning the operator directly."""
    from pii_redaction_data_pipeline_spark.operators.dedup import (
        corpus_line_dedup,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = plan_of(corpus_line_dedup(docs, min_docs=2))
    assert "SortMergeJoin" not in plan  # both joins broadcast here
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]
    # the formatted string prints each Exchange's output expressions on
    # the same line; none may reference the text column
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            assert "text#" not in line, line


def test_repeated_span_text_never_enters_an_exchange(spark):
    """repeated_span_dedup's scale contract mirrors corpus_line_dedup:
    gram detection ships only (xxhash64, id) pairs, covered token
    INDICES come back as one int array per document, and the rebuild
    left-join broadcasts that array — so no shuffle Exchange in the plan
    may carry the text column."""
    from pii_redaction_data_pipeline_spark.operators.dedup import (
        repeated_span_dedup,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    plan = plan_of(repeated_span_dedup(docs, k=8, min_docs=2))
    assert "SortMergeJoin" not in plan  # both joins broadcast here
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            assert "text#" not in line, line


def test_llm_curation_composition_plan(spark):
    """The composed decontaminate -> DSIR chain (llm_curation) must add
    ZERO corpus-row shuffles on top of DSIR's own gram aggregations:
    the decontamination keep-list is derived ONCE (lineage-truncated,
    ids only) and reaches each of DSIR's three corpus reads as a
    broadcast semi-join. Without the truncation the whole contamination
    groupBy chain replays per read (observed: 10 hash exchanges and 9
    parquet scans instead of 4 and 3)."""
    from pii_redaction_data_pipeline_spark.operators.decontaminate import (
        decontaminate,
    )
    from pii_redaction_data_pipeline_spark.operators.dsir import dsir_weights

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).filter(
        "doc_id < 300"
    )
    bench = docs.filter("doc_id % 7 = 3").select("text")
    target = docs.filter("doc_id % 5 = 1").select("text")
    base = dsir_weights(docs, target)
    clean = decontaminate(docs, bench, k=8, materialize_keep=True)
    comp = dsir_weights(clean, target)
    base_p, comp_p = plan_of(base), plan_of(comp)
    n_base = len(re.findall(r"\bExchange hashpartitioning", base_p))
    n_comp = len(re.findall(r"\bExchange hashpartitioning", comp_p))
    assert n_comp == n_base, (n_base, n_comp, comp_p[:1200])
    # each corpus read of `clean` filters through a broadcast of the
    # keep list (stats-raw + per-doc grams; the external target reads
    # the raw parquet directly)
    assert len(re.findall(r"Scan ExistingRDD", comp_p)) == 2, comp_p[:1200]
    # the keep-list semi-joins must not degrade any join to sort-merge
    assert comp_p.count("SortMergeJoin") == base_p.count("SortMergeJoin")


def test_gram_family_plans_split_once(spark):
    """functions/grams.explode_grams owns the gram family's one
    load-bearing plan shape: the whitespace split is materialized by
    the projection directly UNDER the explode's Generate node, and the
    generator expression references it only as an attribute. A split
    inlined into the generator re-runs the regex per gram
    (O(words^2)/doc, measured 5-6x); an adjacent plain Project gets
    collapsed back into the lambda by CollapseProject. This pins the
    OPTIMIZED plan of all five consumers."""
    from pii_redaction_data_pipeline_spark.operators.decontaminate import (
        _exploded_gram_frame as dc_grams,
    )
    from pii_redaction_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        repeated_span_dedup,
    )
    from pii_redaction_data_pipeline_spark.operators.dsir import (
        _exploded_gram_frame as dsir_grams,
    )

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    frames = {
        "decontaminate": dc_grams(docs, "text", 8, keep=(F.col("doc_id"),), outer=True),
        "dsir": dsir_grams(docs, "text", (1, 2), 10_000, keep=(F.col("doc_id"),)),
        "ngram_jaccard": ngram_jaccard_pairs(docs, k=5),
        "minhash_lsh": minhash_lsh_pairs(docs, shingle_k=5),
        "repeated_span": repeated_span_dedup(docs, k=8, min_docs=2),
    }
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        split_lines = [ln for ln in plan.splitlines() if "split(" in ln]
        # tree-prefix chars (":- ", "+- ") may precede the node name
        gen_lines = [
            ln for ln in plan.splitlines() if re.search(r"\bGenerate (pos)?explode", ln)
        ]
        assert gen_lines, f"{name}: no Generate node\n{plan[:800]}"
        for ln in gen_lines:
            assert "split(" not in ln, f"{name}: split inlined into the generator\n{ln}"
        # every split must live in a Project materializing the words attr
        # (repeated_span legitimately splits a second time for the rebuild
        # projection; what is banned is a split inside ANY generator)
        assert split_lines, f"{name}: no split materialized\n{plan[:800]}"
        under_generate = [ln for ln in split_lines if "_gram_ws" in ln]
        assert under_generate, f"{name}: split not under the Generate\n{plan[:1200]}"
