"""Role-based review views (plans/views.py) — the PII-visibility policy
pinned as data invariants: a consumer's frame must contain NO planted
PII anywhere, a reviewer sees spans but never values, an admin's frame
is untouched.
"""

import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.config import PipelineConfig
from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
from pii_redaction_data_pipeline_spark.plans.views import (
    ROLES,
    conversation_lookup,
    register_views,
    review_view,
)

EMAIL = "jane.doe@example.com"
SSN = "123-45-6789"


@pytest.fixture(scope="module")
def annotated(spark):
    rows = [
        ("c1", 1, "user", f"please email {EMAIL} about the billing report", None),
        ("c1", 2, "assistant", f"noted, ssn on file is {SSN} for the account", None),
        ("c1", 3, "user", "thanks, that is everything i needed today", None),
        ("c2", 1, "user", "zz", None),  # too_short -> dropped
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    cfg = PipelineConfig(emit_entities=True, retain_original_text=True)
    return annotate(df, cfg, spark).cache()


def _all_strings(row) -> str:
    parts = []

    def walk(v):
        if isinstance(v, str):
            parts.append(v)
        elif isinstance(v, (list, tuple)):
            for x in v:
                walk(x)
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)
        elif hasattr(v, "asDict"):
            walk(v.asDict())

    walk(row.asDict(recursive=True))
    return " | ".join(parts)


def test_admin_view_is_identity(annotated):
    v = review_view(annotated, "admin")
    assert v.schema == annotated.schema
    assert v.count() == annotated.count()
    blob = " ".join(_all_strings(r) for r in v.filter("keep").collect())
    assert EMAIL in blob and SSN in blob  # retained original text + raw spans


def test_reviewer_sees_spans_not_values(annotated):
    v = review_view(annotated, "reviewer")
    assert "text" not in v.columns
    rows = {(r["conv_id"], r["turn_idx"]): r for r in v.collect()}
    ents = rows[("c1", 1)]["entities"]
    assert [e["type"] for e in ents] == ["EMAIL"]
    assert ents[0]["text"] == "[REDACTED EMAIL]"
    assert ents[0]["end"] - ents[0]["begin"] == len(EMAIL)  # offsets survive
    for r in rows.values():
        blob = _all_strings(r)
        assert EMAIL not in blob and SSN not in blob


def test_consumer_gets_clean_kept_rows_only(annotated):
    v = review_view(annotated, "consumer")
    assert "text" not in v.columns
    rows = v.collect()
    assert all(r["keep"] for r in rows)
    assert ("c2", 1) not in {(r["conv_id"], r["turn_idx"]) for r in rows}
    for r in rows:
        blob = _all_strings(r)
        assert EMAIL not in blob and SSN not in blob
        assert r["scrubbed_text"] is not None
        assert list(r["entities"]) == []  # non-admin empty list


def test_views_without_entities_or_text_columns(annotated):
    slim = annotated.drop("entities", "text")
    for role in ROLES:
        out = review_view(slim, role)
        assert "entities" not in out.columns and "text" not in out.columns
        out.collect()  # projections stay valid on the slim schema


def test_conversation_lookup_order_and_role(annotated):
    out = conversation_lookup(annotated, "c1", "reviewer").collect()
    assert [r["turn_idx"] for r in out] == [1, 2, 3]
    assert all(r["conv_id"] == "c1" for r in out)
    assert EMAIL not in " ".join(_all_strings(r) for r in out)


def test_register_views_sql_surface(spark, annotated):
    names = register_views(spark, annotated, prefix="ann_t")
    assert names == ["ann_t_admin", "ann_t_reviewer", "ann_t_consumer"]
    n_admin = spark.sql("SELECT count(*) c FROM ann_t_admin").collect()[0]["c"]
    n_cons = spark.sql("SELECT count(*) c FROM ann_t_consumer").collect()[0]["c"]
    assert n_admin == 4 and n_cons == 3
    ent = spark.sql(
        "SELECT entities FROM ann_t_consumer WHERE conv_id='c1' AND turn_idx=1"
    ).collect()[0]["entities"]
    assert ent == []


def test_unknown_role_rejected(annotated):
    with pytest.raises(ValueError, match="unknown role"):
        review_view(annotated, "root")


def test_lineage_status_range(spark, tmp_path):
    from pii_redaction_data_pipeline_spark.sources.lineage import LineageStore

    store = LineageStore(spark, str(tmp_path / "lineage"))
    rows = [
        ("r1", str(b), 10, 9, {}, {}, "complete", seq)
        for b, seq in [(0, 100), (1, 200), (2, 300)]
    ]
    store.append(rows)
    got = store.status(start_seq=150, end_seq=250).collect()
    assert [r["partition_id"] for r in got] == ["1"]
    assert store.status(run_id="r1").count() == 3
    assert store.status(run_id="r1", start_seq=250).count() == 1

    # a curation store mixes bucket rows with "stage:<name>" rows; the
    # numeric bucket order must not fail on them, and buckets 10 > 9
    store.append([
        ("r2", "10", 10, 9, None, None, "complete", 500),
        ("r2", "stage:annotate", 20, 20, None, None, "complete", 500),
        ("r2", "9", 10, 9, None, None, "complete", 500),
    ])
    got = [r["partition_id"] for r in store.status(run_id="r2").collect()]
    assert got == ["stage:annotate", "9", "10"]


def test_turn_fp_pruned_for_non_admin(spark):
    """turn_fp is xxhash64 of the RAW pre-scrub text — unsalted, so a
    low-entropy turn is dictionary-recoverable from it. Reviewer and
    consumer views must drop it like the raw text itself (round-5
    review finding); admin keeps it."""
    from pii_redaction_data_pipeline_spark.plans.views import review_view

    df = spark.createDataFrame(
        [("c", 0, "raw ssn", 12345, True, "scrubbed")],
        "conv_id string, turn_idx int, text string, turn_fp long, "
        "keep boolean, scrubbed_text string",
    )
    assert "turn_fp" in review_view(df, "admin").columns
    for role in ("reviewer", "consumer"):
        cols = review_view(df, role).columns
        assert "turn_fp" not in cols and "text" not in cols, (role, cols)
