"""Pipeline configuration: the fixed drop-reason taxonomy and thresholds.

The taxonomy mirrors the reference's implicit quality verdict (a document
"succeeded"/"failed" per Textract/Comprehend job; failures counted in the
Manifest's UnprocessedFilesCount — reference backend/src/lambda/
textract-bulk.py:103-105, pii-output.py:91-93) generalized into explicit
Gopher/C4-style reasons. Thresholds are config, not code, so fixtures and
production can diverge without touching operators.
"""

from __future__ import annotations

from dataclasses import dataclass

# Fixed, ordered drop-reason taxonomy (order = evaluation precedence and
# the deterministic order of the drop_reasons array).
DROP_REASONS: tuple[str, ...] = (
    "lang",
    "too_short",
    "too_long",
    "symbol_ratio",
    "repetition",
    "high_ppl",
    "duplicate_turn",
    "tool_loop",
)


@dataclass(frozen=True)
class PipelineConfig:
    # language gate — generalizes the reference's hardcoded
    # LanguageCode='en' (backend/src/lambda/pii-detection.py:88)
    allowed_langs: tuple[str, ...] = ("en",)
    lang_min_conf: float = 0.65  # below this, benefit of the doubt: keep

    # Gopher/C4-style heuristics
    min_chars: int = 10
    min_words: int = 3
    max_chars: int = 8000
    max_symbol_ratio: float = 0.30  # non-alnum non-space chars / non-space chars
    max_top3gram_frac: float = 0.30  # chars covered by the most common word-3gram

    # perplexity gate (char-trigram KN model; only applied to lang == 'en').
    # Calibrated on fixtures: clean English tops out ~16, consonant
    # gibberish bottoms out ~75 — 30 sits safely between.
    max_ppl: float = 30.0

    # Fit the perplexity model ON the input corpus instead of the
    # embedded English default (functions/perplexity.
    # train_char_trigram_lm): one extra column-pruned counting pass over
    # text (each task emits <= V^3 sparse cells; driver collect bounded
    # at ~2 MB) followed by the same ~400 KB table broadcast. Use when
    # the corpus register differs from generic support-transcript
    # English (code-heavy, other domains) — and recalibrate max_ppl:
    # in-domain text scores LOWER against its own model, so the default
    # gate becomes more permissive, never less. run_pipeline fits the
    # model; annotate and streaming take it as a pre-fitted ppl_model.
    train_ppl_on_corpus: bool = False

    # conversation-window rules
    tool_loop_min_run: int = 3  # >= this many identical consecutive tool turns

    # Emit the explicit PII entity list column (entities array<struct<
    # text,type,score,begin,end>>, SURVEY.md §1.2) — the reference's
    # Comprehend entity JSON analog (redact.py:158-163), feeding review
    # UIs / role-based masking. Off by default: the spans duplicate
    # information already in scrubbed_text+scrub_counts and cost extra
    # bytes through the shuffle and output; turn on when a downstream
    # review workflow needs offsets (functions/entities.py).
    emit_entities: bool = False

    # Keep the raw pre-scrub text column in the annotated output.
    # False mirrors the reference's retain_orig_docs=false (originals
    # deleted after redaction, reference backend/src/lambda/
    # redact.py:240-243) and at corpus scale roughly halves the bytes
    # through the conv_id shuffle and the output table — the scrubbed
    # text is the product; the raw text is a liability.
    retain_original_text: bool = True

    # execution knobs
    n_buckets: int = 16  # output partition buckets on conv_id
