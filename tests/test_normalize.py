"""D1 text normalization (SURVEY.md §2.8): NFKC + control/zero-width
strip inside the fused UDF — zero-width-obfuscated PII is scrubbed and
visually-identical turns dedup, plus the text_stats NULL-coercion pin."""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pii_redaction_data_pipeline_spark.functions.fused import (
    annotate_frame,
    normalize_text,
)

ZWSP = "​"


def test_normalize_identity_on_ascii():
    s = "plain ascii text, with tab\t newline\n and cr\r kept"
    assert normalize_text(s) is s  # fast path: no copy at all


def test_normalize_strips_zero_width_and_controls():
    assert normalize_text(f"user@exam{ZWSP}ple.com") == "user@example.com"
    assert normalize_text("a\x00b\x1fc‮d﻿") == "abcd"
    assert normalize_text("so­ft-hy­phen") == "soft-hyphen"


def test_normalize_nfkc_folds_compatibility_forms():
    assert normalize_text("４２ Ｅｍａｉｌ") == "42 Email"
    assert normalize_text("ﬁle ﬂow") == "file flow"


def test_zero_width_obfuscated_pii_is_scrubbed():
    out = annotate_frame(
        pd.Series([f"contact jane{ZWSP}.doe@exa{ZWSP}mple.com today"])
    )
    assert "[REDACTED EMAIL]" in out["scrubbed_text"].iloc[0]
    assert "example" not in out["scrubbed_text"].iloc[0]
    # and the normalization delta is reported back
    assert out["text_norm"].iloc[0] == "contact jane.doe@example.com today"


def test_text_norm_is_null_when_unchanged():
    out = annotate_frame(pd.Series(["plain ascii", f"zw{ZWSP}sp"]))
    assert out["text_norm"].iloc[0] is None
    assert out["text_norm"].iloc[1] == "zwsp"


def test_visually_identical_turns_dedup_in_pipeline(spark):
    """Two turns identical after normalization must be flagged as
    duplicate_turn — the round-1 evasion hole."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
    from pyspark.sql import functions as F

    base = "the same perfectly ordinary english sentence appears twice here"
    rows = pd.DataFrame(
        {
            "conv_id": ["c1"] * 2,
            "turn_idx": [0, 1],
            "role": ["user", "user"],
            "text": [base, base[:20] + ZWSP + base[20:]],
            "tool": [None, None],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-01"]),
        }
    )
    ann = annotate(spark.createDataFrame(rows), PipelineConfig(), spark)
    got = {
        r["turn_idx"]: r["drop_reasons"]
        for r in ann.select("turn_idx", "drop_reasons").collect()
    }
    assert got[0] == []
    assert got[1] == ["duplicate_turn"]
    # retained text column is the NORMALIZED text
    texts = {r["turn_idx"]: r["text"] for r in ann.select("turn_idx", "text").collect()}
    assert texts[1] == base


def test_text_stats_null_coercion():
    """Pin the DELIBERATE NULL->'' coercion (quality.text_stats_frame
    docstring): a NULL-text row gets n_chars=0/n_words=0/symbol_ratio=0
    so the pipeline drops it as too_short."""
    from pii_redaction_data_pipeline_spark.functions.quality import text_stats_frame

    out = text_stats_frame(pd.Series([None, "ab cd", ""]))
    assert out["n_chars"].tolist() == [0, 5, 0]
    assert out["n_words"].tolist() == [0, 2, 0]
    assert out["symbol_ratio"].tolist() == [0.0, 0.0, 0.0]
