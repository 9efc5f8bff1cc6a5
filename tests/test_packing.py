"""Corpus-level sequence packing (operators/packing.py): placement math
vs materialized sequences, chunk-size invariants, determinism, and the
portable bucket's DuckDB replay."""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.functions.text_stats import BPE_TOKEN_RE
from pii_redaction_data_pipeline_spark.operators.packing import (
    EOS_MARK,
    bucket_col,
    pack_sequences,
    with_pack_placement,
)

L = 16  # tiny sequence length so docs span chunks


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"doc {i} " + ("lorem ipsum dolor sit amet, " * (i % 7)))
        for i in range(60)
    ] + [(60, ""), (61, "   ")]  # empty docs still carry their EOS
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_placement_matches_materialization(spark, docs):
    placed = {r["doc_id"]: r for r in with_pack_placement(docs, L, n_buckets=4).collect()}
    seqs = pack_sequences(docs, L, n_buckets=4).collect()
    # doc_ids listed on a sequence == docs whose [seq_start, seq_end]
    # span covers that sequence index
    for s in seqs:
        expect = sorted(
            d for d, r in placed.items()
            if r["bucket"] == s["bucket"] and r["seq_start"] <= s["seq_idx"] <= r["seq_end"]
        )
        assert s["doc_ids"] == expect, (s["bucket"], s["seq_idx"])


def test_chunk_sizes_and_stream_equality(spark, docs):
    seqs = sorted(
        pack_sequences(docs, L, n_buckets=4).collect(),
        key=lambda r: (r["bucket"], r["seq_idx"]),
    )
    by_bucket = {}
    for s in seqs:
        by_bucket.setdefault(s["bucket"], []).append(s)
    tok_re = re.compile(BPE_TOKEN_RE)
    placed = with_pack_placement(docs, L, n_buckets=4).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for b, ss in by_bucket.items():
        assert [s["seq_idx"] for s in ss] == list(range(len(ss)))
        for s in ss[:-1]:
            assert s["n_tokens"] == L
        stream = [t for s in ss for t in s["tokens"]]
        want = []
        for r in sorted((r for r in placed if r["bucket"] == b), key=lambda r: r["doc_id"]):
            want.extend(tok_re.findall(texts[r["doc_id"]] or ""))
            want.append(EOS_MARK)
        assert stream == want, b


def test_placement_window_math(spark, docs):
    placed = with_pack_placement(docs, L, n_buckets=4).collect()
    by_bucket = {}
    for r in placed:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for b, rows in by_bucket.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["tok_start"] == cum
            assert r["seq_start"] == cum // L
            cum += r["n_tokens"] + 1
            assert r["seq_end"] == (cum - 1) // L


def test_deterministic_across_partitionings(spark, docs):
    a = sorted(map(tuple, with_pack_placement(docs, L, 8).collect()))
    b = sorted(map(tuple, with_pack_placement(docs.repartition(13), L, 8).collect()))
    assert a == b


def test_portable_bucket_duckdb_replay(spark, docs):
    got = docs.select(
        "doc_id", bucket_col(F.col("doc_id"), 64).alias("b")
    ).collect()
    con = duckdb.connect()
    con.register("t", docs.select("doc_id").toPandas())
    dd = {
        r[0]: r[1]
        for r in con.execute("""
            SELECT doc_id, (
              (CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
            + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
            + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
            + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)
            ) % 64 AS b
            FROM (SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS h FROM t)
        """).fetchall()
    }
    assert {r["doc_id"]: r["b"] for r in got} == dd


def test_bucket_count_validation(spark):
    """Round-2 advice: the 16-bit portable bucket hash cannot address
    more than 65536 buckets; reject instead of leaving them empty."""
    import pytest

    from pii_redaction_data_pipeline_spark.operators.packing import (
        with_pack_placement,
    )

    df = spark.range(10).selectExpr("id as doc_id", "'x y z' as text")
    with pytest.raises(ValueError):
        with_pack_placement(df, 8, n_buckets=65537).collect()
    with pytest.raises(ValueError):
        with_pack_placement(df, 8, n_buckets=0).collect()


def test_null_text_placement_matches_materializer(spark):
    """A NULL-text doc must count like '' (0 pre-tokens + EOS): the
    materializer tokenizes NULL as [EOS_MARK], and before the round-5
    fix the NULL n_tokens fell out of the window cumsum, shifting every
    later doc's offsets off the packed stream by one."""
    from pii_redaction_data_pipeline_spark.operators.packing import (
        EOS_MARK,
        pack_sequences,
        with_pack_placement,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "gamma delta eps")],
        "doc_id long, text string",
    )
    placed = {
        r.doc_id: r
        for r in with_pack_placement(df, seq_tokens=4, n_buckets=1).collect()
    }
    assert placed[2].n_tokens == 0 and placed[2].tok_start is not None
    # contiguity: each doc starts where the previous (by id) ended
    order = sorted(placed)
    for prev, cur in zip(order, order[1:]):
        assert placed[cur].tok_start == placed[prev].tok_start + placed[prev].n_tokens + 1
    # token-for-token agreement with the materialized stream
    seqs = pack_sequences(df, seq_tokens=4, n_buckets=1).collect()
    stream = [t for r in sorted(seqs, key=lambda r: r.seq_idx) for t in r.tokens]
    for d in order:
        lo, n = placed[d].tok_start, placed[d].n_tokens
        assert stream[lo + n] == EOS_MARK, (d, lo, n, stream)


def test_bucket_key_keeps_conversations_contiguous(spark):
    """Group-id bucketing (bucket_key) must keep every conversation's
    turns in ONE bucket, consecutive in the packed stream — per-turn
    pack_key hashing scattered them one turn per bucket (round-5 review
    finding: packed sequences interleaved gappy conversation
    fragments)."""
    from pii_redaction_data_pipeline_spark.operators.packing import (
        EOS_MARK,
        pack_sequences,
        with_pack_placement,
    )

    rows = [
        (cid, i, f"{cid} turn {i} words here")
        for cid in ("convA", "convB", "convC", "convD")
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).withColumn(
        "pack_key",
        F.concat_ws("\x1f", "conv_id", F.format_string("%012d", F.col("turn_idx"))),
    )
    placed = with_pack_placement(
        df, seq_tokens=16, n_buckets=4, id_col="pack_key", bucket_key="conv_id"
    ).collect()
    by_conv = {}
    for r in placed:
        by_conv.setdefault(r.conv_id, []).append(r)
    for cid, rs in by_conv.items():
        assert len({r.bucket for r in rs}) == 1, (cid, rs)  # one bucket
        rs = sorted(rs, key=lambda r: r.turn_idx)
        for a, b in zip(rs, rs[1:]):  # consecutive token spans
            assert b.tok_start == a.tok_start + a.n_tokens + 1, (cid, a, b)
    # materializer agreement: each sequence's doc_ids are consecutive
    # turns of at most ... and tokens of one conv appear as one run
    seqs = pack_sequences(
        df, seq_tokens=16, n_buckets=4, id_col="pack_key",
        text_col="text", bucket_key="conv_id",
    ).collect()
    for s in seqs:
        convs_in_seq = [k.split("\x1f")[0] for k in s.doc_ids]
        # a conversation never re-appears after a different conv started
        seen, last = set(), None
        for c in convs_in_seq:
            if c != last:
                assert c not in seen, (s.bucket, s.seq_idx, convs_in_seq)
                seen.add(c)
                last = c
