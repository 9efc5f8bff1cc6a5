"""Deterministic sampling / corpus mixing (operators/sampling.py):
partitioning-independence, rate accuracy, DuckDB replayability, and
mixing quotas."""

import duckdb
import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.operators.sampling import (
    deterministic_sample,
    mix_corpora,
    rate_threshold,
    sample_bucket_col,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
        F.when(F.col("id") % 3 == 0, "web")
        .when(F.col("id") % 3 == 1, "books")
        .otherwise("code")
        .alias("source"),
    ).cache()


def test_rate_threshold_bounds():
    assert rate_threshold(0.0) == "00000000"
    assert rate_threshold(1.0) == "gggggggg"
    assert rate_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        rate_threshold(1.5)


def test_rate_accuracy_and_determinism(docs):
    kept = deterministic_sample(docs, 0.25, ["doc_id"], seed=7)
    n = kept.count()
    assert abs(n / 2000 - 0.25) < 0.05  # binomial tolerance
    again = sorted(r["doc_id"] for r in deterministic_sample(docs, 0.25, ["doc_id"], seed=7).collect())
    assert again == sorted(r["doc_id"] for r in kept.collect())
    # different seed -> different (mostly disjoint-ish) selection
    other = set(r["doc_id"] for r in deterministic_sample(docs, 0.25, ["doc_id"], seed=8).collect())
    assert other != set(again)


def test_partitioning_independence(docs):
    base = set(r["doc_id"] for r in deterministic_sample(docs, 0.3, ["doc_id"]).collect())
    shuffled = docs.repartition(17, "source")
    re = set(r["doc_id"] for r in deterministic_sample(shuffled, 0.3, ["doc_id"]).collect())
    assert base == re
    # lower rate selects a strict subset (nested samples property)
    low = set(r["doc_id"] for r in deterministic_sample(docs, 0.1, ["doc_id"]).collect())
    assert low <= base


def test_duckdb_replay_exact(docs):
    """The portable gate reproduces row-for-row in DuckDB from the spec."""
    kept = sorted(
        r["doc_id"]
        for r in deterministic_sample(docs, 0.2, ["doc_id"], seed=3).collect()
    )
    pdf = docs.select("doc_id").toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    thresh = rate_threshold(0.2)
    dd = con.execute(
        "SELECT doc_id FROM t WHERE substr(sha256(concat_ws(chr(31), "
        "CAST(doc_id AS VARCHAR), '3')), 1, 8) < ? ORDER BY doc_id",
        [thresh],
    ).fetchall()
    assert [r[0] for r in dd] == kept


def test_stratified_rates(docs):
    out = stratified_sample(
        docs, "source", {"books": 1.0, "web": 0.2}, ["doc_id"], seed=1
    )
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("books") == 667          # kept whole
    assert "code" not in counts                # default_rate 0
    assert abs(counts["web"] / 667 - 0.2) < 0.1


def test_mix_corpora_quotas(spark, docs):
    web = docs.filter(F.col("source") == "web").drop("source")
    books = docs.filter(F.col("source") == "books").drop("source")
    out = mix_corpora(
        {"web": (web, 3.0), "books": (books, 1.0)},
        budget_rows=400,
        key_cols=["doc_id"],
    ).cache()
    counts = {r["mix_source"]: r["n"] for r in out.groupBy("mix_source").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["web"] - 300) < 60
    assert abs(counts["books"] - 100) < 35
    # tiny source is taken whole, never upsampled
    tiny = books.limit(10)
    out2 = mix_corpora(
        {"web": (web, 1.0), "tiny": (tiny, 1.0)},
        budget_rows=600,
        key_cols=["doc_id"],
    )
    n_tiny = out2.filter(F.col("mix_source") == "tiny").count()
    assert n_tiny == 10


def test_bad_spec_validation(docs):
    """mix_corpora rejects an all-zero weight spec instead of
    ZeroDivisionError."""
    with pytest.raises(ValueError):
        mix_corpora({"a": (docs, 0.0), "b": (docs, 0.0)}, 100, ["doc_id"])


def test_rate_threshold_near_one_keeps_all(spark):
    """The threshold string must NEVER exceed 8 chars for rate < 1 — a
    9-char value like '100000000' would lexicographically sort below
    most 8-char hex prefixes and silently keep ~1/16 of rows. Because
    16^8 is a power of two the multiply is exact and int() stays below
    the span, but the clamp pins the contract; the largest double below
    1.0 keeps all but at most a 2^-32 sliver of rows."""
    import math

    from pii_redaction_data_pipeline_spark.operators.sampling import (
        _HEX_SPAN,
        deterministic_sample,
        rate_threshold,
    )

    r = math.nextafter(1.0, 0.0)
    assert int(r * _HEX_SPAN) == _HEX_SPAN - 1  # power-of-two multiply: exact
    t = rate_threshold(r)
    assert len(t) == 8 and t == "ffffffff"
    assert rate_threshold(1.0) == "g" * 8
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    # threshold ffffffff keeps every row whose hash prefix != ffffffff
    assert deterministic_sample(df, r, ["doc_id"]).count() == 500
