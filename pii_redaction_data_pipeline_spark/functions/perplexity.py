"""Kneser-Ney smoothed character-trigram language model + perplexity UDF.

Replaces the reference's "quality verdict by external service success"
(SURVEY.md D5) with an explicit fluency score. The model is trained at
build time on a small embedded English corpus (no network, no external
artifacts), producing a dense [V,V,V] float32 log-prob table (~400 KB)
that is broadcast to executors — the north rule's "broadcast model
artifacts" pattern. Scoring is numpy table lookups over byte-encoded
text; the only per-row Python is one str.encode.
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# closed alphabet: letters, digits, space, common punctuation, OOV bucket
ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 .,!?'-:;\"()"
OOV = len(ALPHABET)
V = len(ALPHABET) + 1
_DISCOUNT = 0.75

_BYTE_TO_ID = np.full(256, OOV, dtype=np.int32)
for _i, _c in enumerate(ALPHABET):
    _BYTE_TO_ID[ord(_c)] = _i
for _u, _l in zip(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ", b"abcdefghijklmnopqrstuvwxyz"):
    _BYTE_TO_ID[_u] = _BYTE_TO_ID[_l]

# Embedded training corpus: ordinary English prose in the register the
# pipeline is expected to keep (support/agent transcripts + generic prose).
TRAIN_CORPUS = """
hello, how can i help you today? i am happy to look into that for you.
thanks for reaching out. could you share a little more detail about the
problem you are seeing? i understand the order has not arrived yet and
that is frustrating. let me check the status of your account right now.
the data pipeline finished the nightly run and all of the tables were
written without errors. we filter each record, score the text for
quality, and keep only the rows that pass every rule. the quick brown
fox jumps over the lazy dog while the calm river flows past the old
stone bridge. she opened the window to let the morning light fill the
quiet room. the team reviewed the report and agreed on the next steps
for the release. please restart the service and tell me whether the
error message still appears on the screen. you can update your payment
method from the settings page after you sign in. the model reads each
turn of the conversation and decides whether to keep it or drop it.
a long walk in the park is a simple way to clear the mind after work.
the library was silent except for the soft sound of turning pages.
we measured the time taken by each stage and found the slowest step.
if the test passes at small scale we run the same job on the full
cluster and compare the results. the weather today is mild with a light
wind from the west and clear skies expected in the evening. thank you
for your patience while we look into this issue. i have refunded the
charge and you should see it within three business days. the children
played in the garden until the sun went down behind the hills. good
writing is clear, direct, and easy to read aloud. the server logs show
a spike in traffic just before the outage began. every sentence in the
training set is plain english with normal punctuation and spacing.
is there anything else i can help you with today? have a great day.
tool output for the search returned 12 items with status complete.
the query found 345 rows in 678 ms and wrote 90 files to the table.
order 12345 was shipped on 2024 01 02 and arrived in 3 business days.
result of the check: 7 passed, 0 failed, 1 skipped, run time 456 ms.
the exec step finished with code 0 and printed 89 lines of output.
""".strip()


def _ids(text: str) -> np.ndarray:
    return _BYTE_TO_ID[np.frombuffer(text.encode("latin-1", "replace"), dtype=np.uint8)]


class CharTrigramLM:
    """Interpolated Kneser-Ney char-trigram LM with a dense log-prob table."""

    def __init__(self, corpus: str):
        ids = _ids(" " + corpus.lower().replace("\n", " ") + " ")
        tri = np.zeros((V, V, V), dtype=np.float64)
        np.add.at(tri, (ids[:-2], ids[1:-1], ids[2:]), 1.0)
        self._fit(tri)

    @classmethod
    def from_counts(cls, tri: np.ndarray) -> "CharTrigramLM":
        """Build the KN tables from a [V,V,V] trigram count tensor —
        the entry point for `train_char_trigram_lm`'s distributed
        counting path."""
        if tri.shape != (V, V, V):
            raise ValueError(f"expected ({V},{V},{V}) counts, got {tri.shape}")
        lm = cls.__new__(cls)
        lm._fit(tri.astype(np.float64, copy=False))
        return lm

    def _fit(self, tri: np.ndarray) -> None:
        bi_cont = (tri > 0).sum(axis=0).astype(np.float64)  # N1+(. w2 w3)
        uni_cont = (bi_cont > 0).sum(axis=0).astype(np.float64)  # N1+(. . w3)
        n_bigram_types = max(uni_cont.sum(), 1.0)

        # unigram continuation probability, add-1 on types for full support
        p_uni = (uni_cont + 1.0) / (n_bigram_types + V)

        # bigram KN level: P(w3|w2)
        bi_ctx_tot = bi_cont.sum(axis=1, keepdims=True)  # N1+(. w2 .)
        bi_types = (bi_cont > 0).sum(axis=1, keepdims=True)
        safe_bi = np.maximum(bi_ctx_tot, 1.0)
        lam_bi = _DISCOUNT * bi_types / safe_bi
        p_bi = np.maximum(bi_cont - _DISCOUNT, 0.0) / safe_bi + lam_bi * p_uni
        p_bi = np.where(bi_ctx_tot > 0, p_bi, p_uni)  # unseen w2 ctx -> unigram

        # trigram level: P(w3|w1,w2)
        tri_ctx_tot = tri.sum(axis=2, keepdims=True)  # c(w1 w2)
        tri_types = (tri > 0).sum(axis=2, keepdims=True)
        safe_tri = np.maximum(tri_ctx_tot, 1.0)
        lam_tri = _DISCOUNT * tri_types / safe_tri
        p_tri = np.maximum(tri - _DISCOUNT, 0.0) / safe_tri + lam_tri * p_bi[None, :, :]
        p_tri = np.where(tri_ctx_tot > 0, p_tri, p_bi[None, :, :])

        self.logp = np.log(np.maximum(p_tri, 1e-12)).astype(np.float32)

    def ppl(self, text: str) -> float:
        """Char-level perplexity; short/empty text scores neutral 1.0.
        (Scalar reference; `ppl_series` is the vectorized batch path.)"""
        ids = _ids(" " + (text or "").lower() + " ")
        if len(ids) < 3:
            return 1.0
        lp = self.logp[ids[:-2], ids[1:-1], ids[2:]]
        return float(np.exp(-lp.mean()))

    def ppl_series(self, texts: pd.Series, chunk_chars: int = 2_000_000) -> pd.Series:
        """Vectorized: rows (padded with the same ' ' sentinels as the
        scalar path) are concatenated into a byte buffer, trigram
        log-probs gathered in one fancy-index, per-row means via a cumsum
        slice; trigrams straddling two rows are excluded by the row-span
        arithmetic. Processes ~chunk_chars at a time so the temporaries
        stay cache-resident (the unchunked variant is memory-bandwidth
        bound and 10x slower; the scalar loop 4x). Matches `ppl` to
        float32-vs-float64 accumulation order (~1e-7 relative).
        """
        vals = [
            (" " + (t or "") + " ").lower().encode("latin-1", "replace")
            for t in texts.fillna("")
        ]
        n = len(vals)
        out = np.ones(n, dtype=np.float64)
        i = 0
        while i < n:
            j, total = i, 0
            while j < n and (total < chunk_chars or j == i):
                total += len(vals[j])
                j += 1
            chunk = vals[i:j]
            lens = np.fromiter((len(b) for b in chunk), dtype=np.int64, count=j - i)
            ids = _BYTE_TO_ID[np.frombuffer(b"".join(chunk), dtype=np.uint8)]
            if len(ids) >= 3:
                lp = self.logp[ids[:-2], ids[1:-1], ids[2:]]
                cs = np.concatenate([[0.0], np.cumsum(lp, dtype=np.float64)])
                ends = np.cumsum(lens)
                starts = ends - lens
                n_tri = np.maximum(lens - 2, 0)
                # trigrams fully inside row r start at [starts[r], ends[r]-3]
                valid = n_tri > 0
                sums = np.zeros(j - i, dtype=np.float64)
                sums[valid] = cs[(ends - 2)[valid]] - cs[starts[valid]]
                out[i:j][valid] = np.exp(-sums[valid] / n_tri[valid])
            i = j
        return pd.Series(out, index=texts.index, dtype=np.float64)


_DEFAULT: CharTrigramLM | None = None


def default_model() -> CharTrigramLM:
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = CharTrigramLM(TRAIN_CORPUS)
    return _DEFAULT


# model -> (SparkContext, Broadcast of its logp table). Every
# sc.broadcast leaves a ~470 KB file in the context's temp dir until the
# context stops, and the UDF factories run once per annotate call (per
# micro-batch in a stream), so they share one broadcast per model and
# context instead of leaking one per call. Weak keys: a fitted model's
# entry goes when the model does.
_LOGP_BROADCASTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def logp_broadcast(spark, model: CharTrigramLM | None = None):
    """The broadcast of `model`'s log-prob table (the embedded default
    when None) in `spark`'s context, created on first use."""
    model = model if model is not None else default_model()
    sc = spark.sparkContext
    hit = _LOGP_BROADCASTS.get(model)
    if hit is None or hit[0] is not sc:
        hit = (sc, sc.broadcast(model.logp))
        _LOGP_BROADCASTS[model] = hit
    return hit[1]


def row_trigram_counts(texts: pd.Series) -> np.ndarray:
    """Flat [V^3] float64 trigram counts over a batch of rows, each row
    padded ' '+t+' ' like the scoring path (trigrams never straddle two
    rows). Shared by the distributed trainer and its test reference."""
    vals = [
        (" " + (t or "") + " ").lower().encode("latin-1", "replace")
        for t in texts.fillna("")
    ]
    if not vals:
        return np.zeros(V * V * V, dtype=np.float64)
    lens = np.fromiter((len(b) for b in vals), dtype=np.int64, count=len(vals))
    ids = _BYTE_TO_ID[np.frombuffer(b"".join(vals), dtype=np.uint8)]
    total = len(ids)
    if total < 3:
        return np.zeros(V * V * V, dtype=np.float64)
    idx = (
        ids[:-2].astype(np.int64) * (V * V)
        + ids[1:-1].astype(np.int64) * V
        + ids[2:]
    )
    # trigram start positions 0..total-3; the 2 starts before each row
    # boundary straddle rows — mask them out
    mask = np.ones(total - 2, dtype=bool)
    ends = np.cumsum(lens)
    for off in (1, 2):
        bad = ends - off  # start positions whose trigram crosses ends
        bad = bad[(bad >= 0) & (bad < total - 2)]
        mask[bad] = False
    return np.bincount(idx[mask], minlength=V * V * V).astype(np.float64)


def train_char_trigram_lm(df, text_col: str = "text") -> CharTrigramLM:
    """Train the KN char-trigram LM ON THE CORPUS ITSELF, distributed —
    the alternative to the embedded-corpus `default_model` when the
    domain register differs (e.g. code-heavy or non-support transcripts).

    Scale shape: mapInPandas accumulates a dense V^3 count vector per
    batch and emits only its NONZERO cells, so each task contributes
    <= V^3 (~118k) sparse rows no matter how many terabytes it read;
    the groupBy(idx) partial agg combines map-side and the driver
    collect is bounded by V^3 rows (~2 MB) — bounded-collect precedent
    of operators/components.py. Each row counts as an independent
    ' '-padded sequence (the scoring convention), so the result is
    partitioning- and order-independent.
    """
    rows = _sparse_counts_df(df, text_col).collect()  # bounded: <= V^3 rows
    return _lm_from_sparse_rows(rows)


def _sparse_counts_df(df, text_col: str):
    """The distributed trigram counting plan: mapInPandas dense-per-batch
    -> nonzero cells -> map-side-combined groupBy. Shared by the plain
    trainer and the artifact-persisting one."""
    from pyspark.sql import functions as SF

    def count_parts(batches):
        tri = np.zeros(V * V * V, dtype=np.float64)
        col = None
        for pdf in batches:
            col = pdf.columns[0] if col is None else col
            tri += row_trigram_counts(pdf[col])
        nz = np.nonzero(tri)[0]
        yield pd.DataFrame({"idx": nz.astype(np.int64), "cnt": tri[nz].astype(np.int64)})

    return (
        df.select(text_col)
        .mapInPandas(count_parts, "idx long, cnt long")
        .groupBy("idx")
        .agg(SF.sum("cnt").alias("cnt"))
    )


def _lm_from_sparse_rows(rows) -> CharTrigramLM:
    """(idx, cnt) sparse cells -> fitted model; shared by the trainer
    and the per-run artifact reload path."""
    tri = np.zeros(V * V * V, dtype=np.float64)
    for row in rows:
        tri[row["idx"]] = row["cnt"]
    return CharTrigramLM.from_counts(tri.reshape(V, V, V))


def load_or_train_char_trigram_lm(
    spark, df, artifact_path: str, text_col: str = "text"
) -> CharTrigramLM:
    """train_char_trigram_lm with a per-run durable artifact: the fitted
    SPARSE COUNT TABLE (<= V^3 rows, ~2 MB) persists at `artifact_path`
    on first fit and reloads on every later call — so a crash-and-resume
    of the same run_id scores every bucket against the byte-identical
    model WITHOUT re-scanning the corpus (fitting on the full input on
    every resume attempt is deterministic but pays a full text pass per
    attempt; at the 100 TB design point that is the difference between
    one training scan per run and one per failure).

    The artifact is trusted only when Spark's _SUCCESS commit marker
    exists — a partially-written directory from a crash mid-write is
    retrained and overwritten. Counts are integers, so persist/reload
    is exact (no float round-trip)."""
    if _artifact_committed(spark, artifact_path):
        return _lm_from_sparse_rows(spark.read.parquet(artifact_path).collect())
    # one corpus scan: collect the bounded sparse cells, then write them
    # back out from the driver (re-running the scan for the write would
    # double the training cost the artifact exists to avoid)
    model_rows = _sparse_counts_df(df, text_col).collect()
    spark.createDataFrame(
        [(int(r["idx"]), int(r["cnt"])) for r in model_rows], "idx long, cnt long"
    ).coalesce(1).write.mode("overwrite").parquet(artifact_path)
    return _lm_from_sparse_rows(model_rows)


def _artifact_committed(spark, artifact_path: str) -> bool:
    """True iff `artifact_path/_SUCCESS` exists — checked through the
    Hadoop FileSystem API so the probe works on any storage the session
    can write to (local, HDFS, object stores), not just the local FS. A
    probe error propagates: reading it as "absent" would refit and
    overwrite the run's committed model artifact."""
    from pii_redaction_data_pipeline_spark.sources import fsutil

    return fsutil.exists(spark, artifact_path + "/_SUCCESS")


def make_ppl_udf(spark, model: CharTrigramLM | None = None):
    """pandas UDF: text -> ppl double.

    The log-prob table is broadcast once per model and context
    (logp_broadcast) instead of being pickled into every task closure;
    each executor rebuilds the lightweight LM wrapper around the shared
    ndarray. Pass `model` to score with a corpus-trained LM
    (train_char_trigram_lm) instead of the embedded-corpus default.
    """
    # capture ONLY bc in the UDF closure — closing over the model object
    # would cloudpickle its logp ndarray into every task in addition to
    # the broadcast (same contract as fused.make_annotate_udf)
    bc = logp_broadcast(spark, model)

    @F.pandas_udf(T.DoubleType())
    def ppl_udf(texts: pd.Series) -> pd.Series:
        m = CharTrigramLM.__new__(CharTrigramLM)
        m.logp = bc.value
        return m.ppl_series(texts)

    return ppl_udf
