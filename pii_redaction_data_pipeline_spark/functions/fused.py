"""Fused per-turn annotation UDF: langid + scrub + perplexity + repetition
in ONE Arrow exchange.

The pipeline's four Python stages (langid, scrub, ppl, repetition) are
independent per-row transforms of the same `text` column. Run as four
separate pandas UDFs, each becomes its own ArrowEvalPython operator — the
text column crosses the JVM<->Python Arrow pipe four times and every
batch pays Python dispatch four times. At 10^12-turn scale that transfer
is pure waste: fusing them into one struct-returning UDF moves the same
compute but 4x less data across the pipe.

Semantics are IDENTICAL to the individual UDFs (shared implementations
from functions.langid / functions.scrub / functions.quality /
functions.perplexity); the golden-fixture equality tests pin this.

The ppl input is the scrubbed text with mask tokens stripped, whitespace
collapsed, and space-trimmed — previously three JVM regexp passes, here
one Python pass with the exact same ASCII \\s semantics (Java regex \\s
== Python re.ASCII \\s == [ \\t\\n\\x0b\\f\\r]).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_redaction_data_pipeline_spark.functions.langid import langid_frame
from pii_redaction_data_pipeline_spark.functions.perplexity import (
    CharTrigramLM,
    default_model,
    logp_broadcast,
)
from pii_redaction_data_pipeline_spark.functions.quality import (
    repetition_frac_series,
    text_stats_frame,
)
from pii_redaction_data_pipeline_spark.functions.scrub import (
    MASK_PREFIX,
    MASK_TOKEN_RE,
    scrub_frame,
)

# scrub's mask pattern and prefix, so a mask-format change there changes
# what the ppl input stripper looks for and removes
_MASK_RE = re.compile(MASK_TOKEN_RE)

# --- D1 text normalization (SURVEY.md §2.8 D1: the Spark analog of the
# reference's Textract plain-text extraction, backend/src/lambda/
# extract.py:73-90) ---------------------------------------------------------
# NFKC folds fullwidth/compatibility codepoints onto their canonical
# forms and zero-width/control stripping closes the PII-evasion hole
# round 1 flagged: 'user@exam<ZWSP>ple.com' must not slip past the
# scrubber, and two visually identical turns must hash equal for dup
# detection. \t \n \r survive (they are word separators, not noise).
_STRIP_CODEPOINTS = [
    *range(0x00, 0x09),      # C0 controls below \t
    0x0B, 0x0C,              # VT, FF (\t \n \r survive)
    *range(0x0E, 0x20),      # rest of C0
    0x7F,                    # DEL
    *range(0x80, 0xA0),      # C1 controls
    0xAD,                    # soft hyphen
    *range(0x200B, 0x2010),  # ZWSP ZWNJ ZWJ LRM RLM
    *range(0x202A, 0x202F),  # bidi embedding controls
    *range(0x2060, 0x2065),  # word joiner + invisible operators
    0xFEFF,                  # zero-width no-break space / BOM
]
_STRIP_TABLE = dict.fromkeys(_STRIP_CODEPOINTS)
# fast path: pure printable-ASCII (+ \t\n\r) text is already normal
_NEEDS_NORM_RE = re.compile(r"[^\x20-\x7e\t\n\r]")


def normalize_text(t: str) -> str:
    """Unicode NFKC + control/zero-width/bidi-mark strip. Identity (and
    nearly free) for printable-ASCII input."""
    if _NEEDS_NORM_RE.search(t) is None:
        return t
    import unicodedata

    return unicodedata.normalize("NFKC", t).translate(_STRIP_TABLE)


def normalize_series(texts: pd.Series) -> pd.Series:
    return texts.map(normalize_text)


# Collapse-to-single-space, allocation-free for already-clean rows:
# r'\s+' -> ' ' rewrites EVERY row (each single space matches, so re.sub
# rebuilds the string); matching only 2+ runs or non-space whitespace is
# semantically identical and leaves the typical single-spaced row
# untouched (re.sub returns the original object on zero matches).
_WS_ANOMALY_RE = re.compile(r"\s\s+|[\t\n\x0b\f\r]", re.ASCII)


def ppl_input_series(scrubbed: pd.Series) -> pd.Series:
    """Exact Python replica of the former JVM chain:
    trim(regexp_replace(regexp_replace(scrubbed, MASK, ' '), '\\s+', ' '))."""

    def strip_one(t: str) -> str:
        if MASK_PREFIX in t:
            t = _MASK_RE.sub(" ", t)
        return _WS_ANOMALY_RE.sub(" ", t).strip(" ")

    return scrubbed.map(strip_one)


ANNOTATE_SCHEMA = T.StructType(
    [
        # normalized text, DELTA-ENCODED: NULL when identical to the
        # input (the overwhelmingly common case), so the extra field
        # costs ~nothing on the Arrow return path
        T.StructField("text_norm", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("lang_conf", T.DoubleType()),
        T.StructField("scrubbed_text", T.StringType()),
        T.StructField("scrub_counts", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("rep_frac", T.DoubleType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("symbol_ratio", T.DoubleType()),
    ]
)


def annotate_frame(texts: pd.Series, logp=None) -> pd.DataFrame:
    norm = normalize_series(texts.fillna(""))
    # delta-encode against the input: NULL means "unchanged"
    text_norm = norm.where(norm.ne(texts.fillna("")), other=None)
    texts = norm
    lid = langid_frame(texts)
    scr = scrub_frame(texts)
    if logp is None:
        model = default_model()
    else:
        model = CharTrigramLM.__new__(CharTrigramLM)
        model.logp = logp
    ppl = model.ppl_series(ppl_input_series(scr["scrubbed_text"].fillna("")))
    rep = repetition_frac_series(texts)
    stats = text_stats_frame(texts)
    return pd.DataFrame(
        {
            "text_norm": text_norm,
            "lang": lid["lang"],
            "lang_conf": lid["lang_conf"],
            "scrubbed_text": scr["scrubbed_text"],
            "scrub_counts": scr["scrub_counts"],
            "ppl": ppl,
            "rep_frac": rep,
            "n_chars": stats["n_chars"].astype("int32"),
            "n_words": stats["n_words"].astype("int32"),
            "symbol_ratio": stats["symbol_ratio"],
        },
        index=texts.index,
    )


def make_annotate_udf(spark, ppl_model=None):
    """pandas UDF: text -> struct<text_norm, lang, lang_conf,
    scrubbed_text, scrub_counts, ppl, rep_frac, n_chars, n_words,
    symbol_ratio>. The KN log-prob table is broadcast once per model
    and context (perplexity.logp_broadcast), so repeated calls (one per
    micro-batch in a stream) reuse it. Every stage sees the
    D1-normalized text, and text_norm carries the normalization delta
    back to the JVM. Pass ppl_model (a CharTrigramLM, e.g. from
    train_char_trigram_lm) to score fluency with a corpus-trained table
    instead of the embedded default — same ~400 KB broadcast either
    way."""
    # The UDF closure must capture ONLY bc — never
    # ppl_model itself: referencing the model object inside the UDF
    # would cloudpickle its ~470 KB logp ndarray into every task closure
    # IN ADDITION to the broadcast, defeating the broadcast.
    bc = logp_broadcast(spark, ppl_model)

    @F.pandas_udf(ANNOTATE_SCHEMA)
    def annotate_udf(texts: pd.Series) -> pd.DataFrame:
        # one Arrow batch per call: its size, capped by get_spark's
        # arrow.maxRecordsPerBatch (10k rows), bounds the batch-wide
        # numpy temporaries that are the UDF's memory footprint
        return annotate_frame(texts, logp=bc.value)

    return annotate_udf
