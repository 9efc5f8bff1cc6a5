"""Gopher/C4-style heuristic quality rules.

Everything expressible with built-in pyspark.sql.functions stays JVM-side
(whole-stage codegen): lengths, word counts, symbol ratio. Only the
repetition statistic (fraction of characters covered by the most common
word 3-gram) needs Python — it runs inside the fused pandas UDF
(functions/fused.py).

Replaces the reference's implicit success/failure verdict (SURVEY.md D5,
reference backend/src/lambda/textract-bulk.py:103-105) with explicit,
thresholded reasons from config.DROP_REASONS.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Java-regex \s / \w are ASCII-only; these literal char sets let the hot
# path use translate() (single char-map pass, no regex engine, stays in
# whole-stage codegen) instead of regexp_replace string rewrites — ~4x
# cheaper per the microbench in BENCH/BASELINE.md.
_WS_CHARS = " \t\n\x0b\f\r"  # == Java regex \\s (ASCII)
_WORD_CHARS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)


def n_words_col(text: Column) -> Column:
    """Count of maximal non-whitespace runs (== len(trim(t).split(\\s+))
    for normal text, and correctly 0 for empty/whitespace-only input)."""
    return F.regexp_count(text, F.lit(r"\S+"))


def symbol_ratio_col(text: Column) -> Column:
    """non-word non-space chars / non-space chars (ASCII \\s and \\w
    classes, matching Java regex semantics — via translate, not regex)."""
    nonspace = F.length(F.translate(text, _WS_CHARS, ""))
    # wordchars = total - non-word chars
    wordchars = F.length(text) - F.length(F.translate(text, _WORD_CHARS, ""))
    symbols = nonspace - wordchars
    return F.when(nonspace == 0, F.lit(0.0)).otherwise(
        symbols.cast("double") / nonspace.cast("double")
    )


def text_stats_frame(texts: pd.Series) -> pd.DataFrame:
    """Vectorized n_chars / n_words / symbol_ratio with EXACTLY the
    semantics of the JVM expressions above (length(), regexp_count('\\S+'),
    translate-based ASCII symbol ratio).

    Why it exists: microbenchmarks (BENCH/BASELINE.md) showed the
    "cheap" JVM side is the expensive part of phase 1 at 2M rows —
    regexp_count ~15 s and the 63-char translate ~66 s at local[16],
    versus ~13 s for the entire fused pandas UDF. One UTF-32 pass over
    the batch's concatenated text replaces the regex engine and both
    char-map rewrites; riding inside the fused UDF it adds zero extra
    Arrow transfer.

    NULL handling is a DELIBERATE divergence from the raw JVM
    expressions: NULL text maps to n_chars=0 / n_words=0 /
    symbol_ratio=0.0 (the JVM length/regexp_count/translate chain would
    return NULL, which silently escapes every threshold comparison). The
    pipeline coalesces NULL text to '' before any stage precisely so a
    NULL-text turn is DROPPED as too_short rather than kept by NULL
    comparison semantics (plans/pipeline.py) — pinned by the None row in
    tests/test_functions.py::test_text_stats_null_coercion.
    """
    s = texts.fillna("")
    vals = s.tolist()
    n = len(vals)
    lens = np.fromiter((len(t) for t in vals), dtype=np.int64, count=n)
    n_words = np.zeros(n, dtype=np.int64)
    n_nonspace = np.zeros(n, dtype=np.int64)
    n_wordchars = np.zeros(n, dtype=np.int64)
    # Per-row ASCII partition: ASCII rows scan a uint8 view (4x fewer
    # bytes than UTF-32) with int32 cumsums (2x fewer than int64) — the
    # big temporaries here are the UDF's main memory traffic, which is
    # what 32 co-resident workers contend on. Character-class codes are
    # identical in both views, so one helper serves both groups.
    ascii_mask = np.fromiter((t.isascii() for t in vals), dtype=bool, count=n)

    def scan(arr: np.ndarray, group_lens: np.ndarray, idx: np.ndarray):
        bounds = np.concatenate([[0], np.cumsum(group_lens)])
        starts_b, ends_b = bounds[:-1], bounds[1:]
        # " \t\n\x0b\f\r" == 0x20 | 0x09..0x0D  (= _WS_CHARS / Java \s)
        is_ws = (arr == 0x20) | ((arr >= 0x09) & (arr <= 0x0D))
        nonws = ~is_ws
        # [0-9A-Za-z_]  (= _WORD_CHARS / Java \w)
        is_word = (
            ((arr >= 0x30) & (arr <= 0x39))
            | ((arr >= 0x41) & (arr <= 0x5A))
            | ((arr >= 0x61) & (arr <= 0x7A))
            | (arr == 0x5F)
        )
        # maximal \S+ runs: a run starts at a non-ws position whose
        # predecessor is ws — rows are concatenated with NO separator,
        # so each row's first position must be re-evaluated against its
        # own row boundary, not the previous row's last char
        prev_nonws = np.concatenate([[False], nonws[:-1]])
        run_start = nonws & ~prev_nonws
        row_first = starts_b[starts_b < len(arr)]
        run_start[row_first] = nonws[row_first]

        # int64: an int32 cumsum would silently WRAP past 2^31 chars in
        # one concatenated batch (8192 rows averaging >262 KB — log-file
        # shaped documents reach that), corrupting every count after the
        # overflow point with no error
        cs = np.empty(len(arr) + 1, dtype=np.int64)
        for mask, out in (
            (run_start, n_words),
            (nonws, n_nonspace),
            (is_word, n_wordchars),
        ):
            cs[0] = 0
            np.cumsum(mask, dtype=np.int64, out=cs[1:])
            out[idx] = cs[ends_b] - cs[starts_b]

    a_idx = np.flatnonzero(ascii_mask)
    if len(a_idx):
        vals_a = [vals[i] for i in a_idx]
        arr = np.frombuffer("".join(vals_a).encode("ascii"), dtype=np.uint8)
        scan(arr, lens[a_idx], a_idx)
    na_idx = np.flatnonzero(~ascii_mask)
    if len(na_idx):
        vals_na = [vals[i] for i in na_idx]
        arr = np.frombuffer("".join(vals_na).encode("utf-32-le"), dtype="<u4")
        scan(arr, lens[na_idx], na_idx)

    symbols = n_nonspace - n_wordchars
    ratio = np.where(
        n_nonspace == 0, 0.0, symbols / np.maximum(n_nonspace, 1)
    ).astype(np.float64)
    return pd.DataFrame(
        {"n_chars": lens, "n_words": n_words, "symbol_ratio": ratio},
        index=texts.index,
    )


def top_ngram_char_frac_series(texts: pd.Series, n: int) -> pd.Series:
    """Fraction of characters covered by the most frequent word n-gram
    (Gopher `top_n_gram_character_fraction`, n = 2..4 in the paper).

    Deterministic: ties resolve to the first-seen gram (Counter preserves
    insertion order; most_common's sort is stable), and the gram is keyed
    as a word TUPLE — same counts and same tie order as joining with
    spaces, without building len(words) strings per row; the joined gram
    length is recovered as sum(word lens) + (n-1) separators.
    """
    out = np.zeros(len(texts), dtype=np.float64)
    for i, t in enumerate(texts.fillna("")):
        words = t.split()
        if len(words) < n:
            continue
        gram, cnt = Counter(zip(*[words[j:] for j in range(n)])).most_common(1)[0]
        if cnt > 1:
            gram_len = sum(len(w) for w in gram) + (n - 1)
            out[i] = min(cnt * gram_len / max(len(t), 1), 1.0)
    return pd.Series(out, index=texts.index)


def repetition_frac_series(texts: pd.Series) -> pd.Series:
    """The pipeline's repetition gate: the n=3 case of
    top_ngram_char_frac_series (its threshold lives in config)."""
    return top_ngram_char_frac_series(texts, 3)

