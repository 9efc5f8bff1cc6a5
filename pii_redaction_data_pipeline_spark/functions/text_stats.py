"""Text analysis for corpus curation: token counting, fingerprinting,
composite quality scoring. All JVM-side column expressions
(regexp/length expressions compile into whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.functions.grams import normalized_text

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbol
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def content_fingerprint(text: Column) -> Column:
    """Normalized md5 fingerprint (exact-dedup key)."""
    return F.md5(normalized_text(text))


def quality_score(
    n_chars: Column, n_words: Column, symbol_ratio: Column, rep_frac: Column
) -> Column:
    """Composite 0..1 score: 1.0 = clean prose. Smooth penalties mirror
    the hard gates so the score ranks borderline docs."""
    len_pen = F.when(n_chars < 10, 1.0).when(n_chars > 8000, 0.5).otherwise(0.0)
    word_pen = F.when(n_words < 3, 1.0).otherwise(0.0)
    sym_pen = F.least(symbol_ratio * 2.0, F.lit(1.0))
    rep_pen = F.least(rep_frac * 2.0, F.lit(1.0))
    raw = F.lit(1.0) - (len_pen + word_pen + sym_pen + rep_pen) / 4.0
    return F.greatest(raw, F.lit(0.0))
