"""Corpus-level sequence packing: documents -> fixed-length training
sequences (the concat-and-chunk step of every pretraining data
pipeline).

Per-document segmentation exists in functions/segment.py (the
reference's segment.py greedy packer); THIS operator packs ACROSS
documents: shuffle docs into deterministic buckets, concatenate each
bucket's token stream (one EOS marker per doc), and chunk it into
sequences of exactly `seq_tokens` tokens.

The design splits the job into
  placement   pure Catalyst: bucket assignment + a window cumsum over
              (bucket, doc_id) gives every doc its absolute token
              offset, hence its start/end sequence — ONE shuffle
              (the window sort), no Python, and exactly replayable in
              SQL (driver query `pack_placement`);
  materialize applyInPandas per bucket emits the packed sequences;
              each task holds one bucket's docs, so memory is bounded
              by corpus_bytes / n_buckets — size n_buckets to taste,
              1000 executors each take ~n_buckets/1000 groups.

Bucketing uses the same sha256 trick as operators/sampling.py so the
pseudo-shuffle is deterministic, partitioning-independent, and
engine-portable (two-hex-digit -> int via ascii(), which DuckDB shares).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_stats import BPE_TOKEN_RE, bpe_token_count

EOS_TOKENS = 1  # one end-of-document marker appended per doc


def _hex_digit(c: Column) -> Column:
    """'0'-'9','a'-'f' -> 0..15 via ascii arithmetic (portable)."""
    a = F.ascii(c)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def bucket_col(key: Column, n_buckets: int) -> Column:
    """Deterministic pseudo-shuffle bucket in [0, n_buckets).

    The portable hash consumes 4 hex digits (16 bits), so n_buckets must
    be <= 65536 (larger values would leave buckets permanently empty);
    an n_buckets that does not divide 65536 biases bucket sizes by at
    most 1/(65536/n_buckets) — negligible at the <=4096 bucket counts a
    real packing run uses, and zero for powers of two."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError(f"n_buckets must be in [1, 65536], got {n_buckets}")
    h = F.sha2(key.cast("string"), 256)
    val = _hex_digit(F.substring(h, 1, 1)) * 16 * 16 * 16 \
        + _hex_digit(F.substring(h, 2, 1)) * 16 * 16 \
        + _hex_digit(F.substring(h, 3, 1)) * 16 \
        + _hex_digit(F.substring(h, 4, 1))
    return F.pmod(val, F.lit(n_buckets))


def with_pack_placement(
    df: DataFrame,
    seq_tokens: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_key: str | None = None,
) -> DataFrame:
    """Assign every doc its bucket and absolute token span.

    Adds: bucket, n_tokens (BPE-ish pre-tokens), tok_start (offset of
    the doc's first token in its bucket's concatenated stream, EOS
    markers included), seq_start / seq_end (first/last sequence index
    the doc touches; a doc larger than seq_tokens spans several).

    bucket_key: column hashed for the bucket assignment (default:
    id_col). When rows are GROUPED units — e.g. the turns of one
    conversation keyed by a per-turn pack_key — bucketing must hash the
    GROUP id (conv_id), not the row id: hashing the per-turn key would
    scatter one conversation's turns across buckets and the packed
    sequences would interleave gappy fragments of many conversations
    instead of contiguous turn runs (round-5 review finding).
    """
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn(
        "bucket", bucket_col(F.col(bucket_key or id_col), n_buckets)
    )
    # NULL text counts like '' (0 pre-tokens + the EOS marker): the
    # materializer tokenizes NULL as [EOS_MARK], and a NULL n_tokens
    # would fall OUT of the window cumsum (sum skips NULLs), shifting
    # every later doc's offsets off the materialized stream by one
    out = out.withColumn(
        "n_tokens", bpe_token_count(F.coalesce(F.col(text_col), F.lit("")))
    )
    cum_end = F.sum(F.col("n_tokens") + EOS_TOKENS).over(w)
    # integer DIV, not floor(float/): float64 division loses exactness
    # above 2^53 token offsets, and the SQL replay uses // throughout
    return (
        out.withColumn("tok_start", (cum_end - F.col("n_tokens") - EOS_TOKENS))
        .withColumn("seq_start", F.expr(f"tok_start div {int(seq_tokens)}"))
        .withColumn(
            "seq_end",
            F.expr(f"(tok_start + n_tokens + {EOS_TOKENS} - 1) div {int(seq_tokens)}"),
        )
    )


_TOKEN_RE = re.compile(BPE_TOKEN_RE)
EOS_MARK = "<|eod|>"


def pack_sequences(
    df: DataFrame,
    seq_tokens: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_key: str | None = None,
) -> DataFrame:
    """Materialize the packed sequences: (bucket, seq_idx, n_tokens,
    tokens array<string>, doc_ids array<id-type>) — the doc_ids element
    type follows the input id column (long doc ids, string pack keys).
    bucket_key: see with_pack_placement (group-id bucketing).

    Every sequence except possibly a bucket's last has exactly
    `seq_tokens` tokens; concatenating a bucket's sequences reproduces
    its doc token streams in (bucket, doc_id) order with one EOS_MARK
    after each doc. Token identity (regex pre-tokens + EOS) matches the
    placement math token-for-token — pinned by tests.
    """
    placed = with_pack_placement(
        df, seq_tokens, n_buckets, id_col, text_col, bucket_key=bucket_key,
    ).select("bucket", id_col, text_col)
    id_type = df.schema[id_col].dataType.simpleString()

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import itertools

        import numpy as np

        pdf = pdf.sort_values(id_col, ignore_index=True)
        # per-doc token lists once; ownership comes from doc SPAN
        # boundaries (cumsum + searchsorted) instead of a per-token
        # owners list — the old bookkeeping appended one Python element
        # per token (~seq_tokens x n_sequences total) and re-sorted a
        # set per chunk, and was the materializer's hottest loop
        per_doc = [_TOKEN_RE.findall(t or "") + [EOS_MARK] for t in pdf[text_col]]
        counts = np.fromiter(
            (len(t) for t in per_doc), dtype=np.int64, count=len(per_doc)
        )
        bounds = np.concatenate(([0], np.cumsum(counts)))
        toks = list(itertools.chain.from_iterable(per_doc))
        ids = pdf[id_col].to_numpy()
        total = int(bounds[-1])
        rows = []
        bucket = int(pdf["bucket"].iloc[0])
        for s in range(0, total, seq_tokens):
            e = min(s + seq_tokens, total)
            lo = int(np.searchsorted(bounds, s, "right")) - 1
            hi = int(np.searchsorted(bounds, e, "left"))
            # docs appear once each, pre-sorted by id: the slice is
            # already the sorted-unique owner list
            rows.append(
                (bucket, s // seq_tokens, e - s, toks[s:e], ids[lo:hi].tolist())
            )
        return pd.DataFrame(
            rows, columns=["bucket", "seq_idx", "n_tokens", "tokens", "doc_ids"]
        )

    schema = (
        "bucket int, seq_idx long, n_tokens int, "
        f"tokens array<string>, doc_ids array<{id_type}>"
    )
    return placed.groupBy("bucket").applyInPandas(pack, schema)
