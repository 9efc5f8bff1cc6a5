"""End-to-end golden-fixture equality: the correctness gate.

North rule: keep/drop F1 >= 0.99 vs fixture labels and EXACT per-turn
scrubbed-text equality where kept, under stable (conv_id, turn_idx)
ordering. We additionally require exact drop_reasons and scrub_counts.
"""

from pyspark.sql import functions as F


def _joined(spark, tiny, tiny_annotated):
    ann = spark.read.parquet(tiny_annotated[0])
    exp = spark.read.parquet(tiny[1])
    return ann.alias("a").join(exp.alias("e"), ["conv_id", "turn_idx"], "full")


def test_row_cardinality(spark, tiny, tiny_annotated):
    j = _joined(spark, tiny, tiny_annotated)
    assert j.filter(F.col("a.keep").isNull() | F.col("e.keep").isNull()).count() == 0


def test_keep_drop_f1(spark, tiny, tiny_annotated):
    j = _joined(spark, tiny, tiny_annotated)
    agg = j.agg(
        F.sum((F.col("a.keep") & F.col("e.keep")).cast("long")).alias("tp"),
        F.sum((F.col("a.keep") & ~F.col("e.keep")).cast("long")).alias("fp"),
        F.sum((~F.col("a.keep") & F.col("e.keep")).cast("long")).alias("fn"),
    ).first()
    precision = agg.tp / max(agg.tp + agg.fp, 1)
    recall = agg.tp / max(agg.tp + agg.fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-9)
    assert f1 >= 0.99, (agg, f1)


def test_exact_labels(spark, tiny, tiny_annotated):
    j = _joined(spark, tiny, tiny_annotated)
    assert j.filter(F.col("a.keep") != F.col("e.keep")).count() == 0
    assert (
        j.filter(~F.col("a.drop_reasons").eqNullSafe(F.col("e.drop_reasons"))).count()
        == 0
    )
    assert (
        j.filter(~F.col("a.scrubbed_text").eqNullSafe(F.col("e.scrubbed_text"))).count()
        == 0
    )
    sa = F.array_sort(F.map_entries(F.col("a.scrub_counts"))).cast(
        "array<struct<k:string,v:long>>"
    )
    se = F.array_sort(F.map_entries(F.col("e.scrub_counts"))).cast(
        "array<struct<k:string,v:long>>"
    )
    assert j.filter(~sa.eqNullSafe(se)).count() == 0


def test_stable_ordering(spark, tiny, tiny_annotated):
    """Reading back ordered by (conv_id, turn_idx) gives dense turn_idx."""
    ann = spark.read.parquet(tiny_annotated[0])
    w = (
        ann.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"), F.min("turn_idx").alias("mn"))
        .filter((F.col("mx") - F.col("mn") + 1 != F.col("n")) | (F.col("mn") != 0))
    )
    assert w.count() == 0


def test_lineage_totals(spark, tiny, tiny_annotated):
    ann = spark.read.parquet(tiny_annotated[0])
    lin = spark.read.parquet(tiny_annotated[1])
    tot = lin.agg(F.sum("rows_in").alias("ri"), F.sum("rows_out").alias("ro")).first()
    assert tot.ri == ann.count()
    assert tot.ro == ann.filter("keep").count()
    # drop-reason counts roll up to the annotated table's truth
    reasons = (
        ann.select(F.explode("drop_reasons").alias("r")).groupBy("r").count().collect()
    )
    lin_reasons = (
        lin.select(F.explode("drop_reason_counts").alias("r", "n"))
        .groupBy("r")
        .agg(F.sum("n").alias("count"))
        .collect()
    )
    assert {r.r: r["count"] for r in reasons} == {r.r: r["count"] for r in lin_reasons}


def _expected_lineage(rows, buckets):
    """Lineage rows (without finished_seq) re-derived in plain Python from
    annotated rows: per listed bucket the row counts and both count maps,
    zero counts left out, NULL when every count is zero, keys sorted."""
    from collections import Counter

    def count_map(counter):
        return sorted((k, v) for k, v in counter.items() if v) or None

    out = []
    for b in buckets:
        rs = [r for r in rows if r.part_bucket == b]
        reasons = Counter(x for r in rs for x in set(r.drop_reasons or ()))
        scrubs = Counter()
        for r in rs:
            scrubs.update(r.scrub_counts or {})
        out.append((
            "test-run", str(b), len(rs), sum(r.keep for r in rs),
            count_map(reasons), count_map(scrubs), "complete",
        ))
    return sorted(out)


def _stored_lineage(store):
    """The store's rows without finished_seq, maps as sorted entry lists
    (a collected map does not keep its stored order); plus the set of
    finished_seq values."""
    rows = store.read().collect()

    def entries(m):
        return None if m is None else sorted(m.items())

    got = sorted(
        (r.run_id, r.partition_id, r.rows_in, r.rows_out,
         entries(r.drop_reason_counts), entries(r.scrub_counts), r.status)
        for r in rows
    )
    return got, {r.finished_seq for r in rows}


def test_lineage_rows_exact(spark, tiny_annotated, tmp_path):
    """Every lineage row equals its plain-Python derivation from the
    annotated rows, including a listed bucket that holds no rows
    (rows_in=0, NULL maps); one append shares one finished_seq."""
    from pii_redaction_data_pipeline_spark.plans.pipeline import (
        annotated_run_rows,
        lineage_metrics,
    )
    from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore
    from pii_redaction_data_pipeline_spark.sources.tables import BUCKET_COL

    run_rows = annotated_run_rows(spark, tiny_annotated[0], "test-run")
    rows = run_rows.select(BUCKET_COL, "keep", "drop_reasons", "scrub_counts").collect()
    buckets = list(range(16))

    got, seqs = _stored_lineage(LineageStore(spark, tiny_annotated[1]))
    assert got == _expected_lineage(rows, buckets)
    assert len(seqs) == 1

    # a listed bucket without rows: drop bucket `empty` from the input
    empty = rows[0].part_bucket
    store = LineageStore(spark, str(tmp_path / "lineage"))
    store.append(lineage_metrics(
        run_rows.filter(F.col(BUCKET_COL) != empty), "test-run", buckets
    ))
    kept = [r for r in rows if r.part_bucket != empty]
    want = _expected_lineage(kept, buckets)
    assert ("test-run", str(empty), 0, 0, None, None, "complete") in want
    got, seqs = _stored_lineage(store)
    assert got == want
    assert len(seqs) == 1


def test_drop_original_text_mode(spark, tiny):
    """retain_original_text=False (reference retain_orig_docs=false,
    redact.py:240-243): raw text absent from the output, verdicts and
    scrubbed text identical to the retaining run."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
    import dataclasses

    src = spark.read.parquet(tiny[0])
    keep_cfg = PipelineConfig()
    drop_cfg = dataclasses.replace(keep_cfg, retain_original_text=False)
    a = annotate(src, keep_cfg, spark)
    b = annotate(src, drop_cfg, spark)
    assert "text" in a.columns and "text" not in b.columns

    cols = ["conv_id", "turn_idx", "keep", "drop_reasons", "scrubbed_text"]
    ra = a.select(*cols).orderBy("conv_id", "turn_idx").collect()
    rb = b.select(*cols).orderBy("conv_id", "turn_idx").collect()
    assert ra == rb


def test_golden_tool_loop_labels_match_rule_across_seeds():
    """EVERY golden tool_loop label must correspond to a non-first turn
    of a run of >=3 identical consecutive tool turns — the pipeline's
    rule (tool_loop_min_run=3). Round-5 review finding: the near-dup
    clone's suffix trim could cut a planted 4-run down to 2 surviving
    turns while copying their tool_loop labels verbatim, planting
    ground truth the pipeline correctly refuses to reproduce
    (seed-dependent; this sweep caught 5 corrupting seeds of 40 on the
    pre-fix generator). Pure pandas — no Spark session needed."""
    from pii_redaction_data_pipeline_spark.datagen import (
        SCALES,
        Scale,
        generate,
    )

    def violations(scale):
        tdf, ldf = generate(scale)
        lab = {(r.conv_id, r.turn_idx): r for r in ldf.itertuples()}
        bad = []
        for conv, g in tdf.groupby("conv_id"):
            rows = list(g.sort_values("turn_idx").itertuples())
            i = 0
            while i < len(rows):
                if rows[i].role != "tool":
                    i += 1
                    continue
                j = i
                while (
                    j < len(rows)
                    and rows[j].role == "tool"
                    and rows[j].text == rows[i].text
                    and rows[j].tool == rows[i].tool
                ):
                    j += 1
                run = rows[i:j]
                for k, r in enumerate(run):
                    want = len(run) >= 3 and k > 0
                    got = "tool_loop" in lab[(conv, r.turn_idx)].drop_reasons
                    if want != got:
                        bad.append((conv, r.turn_idx, len(run), k, want, got))
                i = j
        return bad

    assert violations("tinydup") == []
    # seed sweep over clone-trimmed scales (includes the 5 seeds the
    # pre-fix generator corrupted: 6008, 6018, 6019, 6026, 6037)
    for seed in range(6000, 6040):
        name = f"_loopsweep{seed}"
        SCALES[name] = Scale(
            name, 15, 25, 0, 0, seed, dup_conv_every=2, dup_conv_trim=2
        )
        try:
            assert violations(name) == [], seed
        finally:
            del SCALES[name]
