"""Compiled-regex PII/toxicity scrubber — vectorized, deterministic.

Replaces the reference's Comprehend-Medical PHI detection + rasterized
redaction (backend/src/lambda/pii-detection.py:77-89 detect;
backend/src/lambda/redact.py:156-212 match+draw). The reference matches
entities to line bounding boxes via a lowercase exact-match dict plus
bidirectional substring containment, first-match-wins (redact.py:156-194)
— an order-DEPENDENT scheme. Ours is span-based and order-INDEPENDENT:
a fixed pattern-precedence list, leftmost match wins, earlier patterns
replace first so later patterns can never match inside an already-masked
span. The masked-token format "[REDACTED <TYPE>]" comes from the
reference UI (frontend/.../pii/PiiDisplay.jsx:19).

All patterns are RE2-compatible (no lookaround/backrefs) so the exact
same pattern strings run in Spark `regexp_replace`, DuckDB, and Python
`re` — this is what makes the DuckDB oracle comparison exact.

Vectorization: each `PATTERNS` row carries its own prefilter, a cheap
vectorized test that selects a superset of the rows the pattern can
match. `candidate_rows` runs each distinct prefilter once per batch;
the pattern then runs with `pd.Series.str.count` +
`pd.Series.str.replace` (C-level loops over the Arrow batch) on the
selected rows only. The only per-match Python is the Luhn check on
credit-card *candidates*, so clean batches never enter Python row loops.
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd

# --- pattern table (ordered: precedence = application order) -------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# full and ::-compressed IPv6 (at least two hex groups to avoid times like 12:30)
IPV6_RE = (
    r"\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b"
    r"|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:(?:[0-9A-Fa-f]{1,4}:){0,5}[0-9A-Fa-f]{1,4}\b"
)
IPV4_RE = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
)
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
# 16-digit card, uniform optional space/dash group separators. (No
# RE2-safe variant ships: the DuckDB oracle deliberately excludes
# CREDIT_CARD — the Luhn gate is not SQL-expressible — so a
# backref-free pattern would be dead code that could only drift.)
CC_RE = r"\b[0-9]{4}([ -]?)[0-9]{4}\1[0-9]{4}\1[0-9]{4}\b"
PHONE_RE = (
    r"(?:\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b"
)

# Small fixed "profanity" lexicon. Stand-in tokens (this is a toxicity
# *mechanism* test bed, not a real lexicon); swap the list in production.
PROFANITY_WORDS: tuple[str, ...] = (
    "frak", "frakking", "gorram", "smeg", "shazbot", "felgercarb",
)
PROFANITY_RE = r"(?i)\b(?:" + "|".join(PROFANITY_WORDS) + r")\b"


#: every mask token starts with this; `token()` builds from it and
#: consumers that look for masks test it or match `MASK_TOKEN_RE`
MASK_PREFIX = "[REDACTED "


def token(pii_type: str) -> str:
    return f"{MASK_PREFIX}{pii_type}]"


#: regex matching every mask token `token()` can emit — the one pattern
#: for consumers that strip or skip masks (the fused ppl scorer's
#: _MASK_RE compiles it)
MASK_TOKEN_RE = re.escape(MASK_PREFIX) + r"[A-Z_]+\]"


def luhn_valid(digits: str) -> bool:
    ds = [int(c) for c in digits if c.isdigit()]
    odd = ds[-1::-2]
    even = ds[-2::-2]
    total = sum(odd) + sum(d * 2 - 9 if d * 2 > 9 else d * 2 for d in even)
    return total % 10 == 0


# --- prefilters: texts -> bool mask, a superset of the rows a pattern
# can match. Mask tokens hold no digit, '@', ':' or lexicon word, so a
# prefilter run on the unmasked batch also covers every masked stage.


@functools.cache
def _has(literal: str):
    """Rows containing `literal` (cached, so equal literals share one
    prefilter and `candidate_rows` runs it once)."""

    def has(s: pd.Series) -> np.ndarray:
        return s.str.contains(literal, regex=False).to_numpy()

    return has


def _digit_core_mask(s: pd.Series) -> np.ndarray:
    """Rows containing three consecutive digits or a digit.digit core —
    a guaranteed superset of every IPv4/SSN/CC/PHONE match. ASCII batches
    use a numpy window scan (~5x cheaper than the regex); the windows
    cannot cross rows because the '\\n' join separator fails every
    position of both patterns."""
    vals = s.tolist()
    n = len(vals)
    out = np.zeros(n, dtype=bool)
    ascii_mask = np.fromiter((t.isascii() for t in vals), dtype=bool, count=n)
    na_idx = np.flatnonzero(~ascii_mask)
    if len(na_idx):  # regex only over the (rare) non-ASCII rows
        sub = s.iloc[na_idx]
        out[na_idx] = sub.str.contains(r"[0-9]{3}|[0-9]\.[0-9]", regex=True).to_numpy()
    a_idx = np.flatnonzero(ascii_mask)
    if len(a_idx):
        vals_a = [vals[i] for i in a_idx]
        joined = "\n".join(vals_a)
        b = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
        if len(b) >= 3:
            d = (b >= 0x30) & (b <= 0x39)
            core = (d[:-2] & d[1:-1] & d[2:]) | (d[:-2] & (b[1:-1] == 0x2E) & d[2:])
            pos = np.flatnonzero(core)
            if len(pos):
                lens = np.fromiter(map(len, vals_a), dtype=np.int64, count=len(vals_a))
                bounds = np.cumsum(lens + 1)
                out[a_idx[np.searchsorted(bounds, pos, side="right")]] = True
    return out


# the lexicon words that hold no other lexicon word: a row holding any
# word holds one of these (frakking holds frak)
_PROFANITY_CORES = tuple(
    w for w in PROFANITY_WORDS if not any(v != w and v in w for v in PROFANITY_WORDS)
)


def _has_profanity(s: pd.Series) -> np.ndarray:
    """Rows whose casefolded text holds a lexicon word (the (?i)
    alternation itself costs ~7.6 us/row). re's IGNORECASE matches 's'
    to U+017F and 'k' to U+212A, which casefold folds; it also matches
    'i' to U+0131 and U+0130, which casefold leaves as 'ı' and 'i'+U+0307."""
    folded = s.str.casefold()
    if any("i" in w for w in _PROFANITY_CORES):
        folded = folded.str.replace("\u0131", "i", regex=False)
        folded = folded.str.replace("\u0307", "", regex=False)
    out = np.zeros(len(s), dtype=bool)
    for w in _PROFANITY_CORES:
        out |= folded.str.contains(w, regex=False).to_numpy()
    return out


# (type, compiled regex, needs_luhn, prefilter) — order is the
# precedence contract. Every consumer (scrub, entities, the lineage
# PII taxonomy) reads this table; a new pattern is one new row.
PATTERNS: tuple = (
    ("EMAIL", re.compile(EMAIL_RE), False, _has("@")),
    ("IP", re.compile(IPV6_RE), False, _has(":")),
    ("IP", re.compile(IPV4_RE), False, _digit_core_mask),
    ("SSN", re.compile(SSN_RE), False, _digit_core_mask),
    ("CREDIT_CARD", re.compile(CC_RE), True, _digit_core_mask),
    ("PHONE", re.compile(PHONE_RE), False, _digit_core_mask),
    ("PROFANITY", re.compile(PROFANITY_RE), False, _has_profanity),
)

PII_TYPES: tuple[str, ...] = tuple(dict.fromkeys(t for t, *_ in PATTERNS))


def candidate_rows(s: pd.Series) -> list[np.ndarray]:
    """-> one bool mask per `PATTERNS` row: the rows its prefilter
    selects. Each distinct prefilter runs once per batch (IPv4, SSN,
    CREDIT_CARD and PHONE share the digit-core scan)."""
    masks: dict = {}
    for *_, prefilter in PATTERNS:
        if prefilter not in masks:
            masks[prefilter] = prefilter(s)
    return [masks[prefilter] for *_, prefilter in PATTERNS]


def matches(rx: re.Pattern, text: str, needs_luhn: bool):
    """Leftmost, non-overlapping matches of `rx` in `text` — the spans
    `rx.subn` would replace. With `needs_luhn`, a Luhn-REJECTED candidate
    does not consume its span (re.sub would): the scan resumes at its
    start + 1, else an overlapping real card starting inside it is
    missed."""
    pos = 0
    while (m := rx.search(text, pos)) is not None:
        if needs_luhn and not luhn_valid(m.group(0)):
            pos = m.start() + 1
            continue
        yield m
        pos = max(m.end(), m.start() + 1)


def _luhn_replace(rx: re.Pattern, text: str, pii_type: str) -> tuple[str, int]:
    out: list[str] = []
    pos = n = 0
    for m in matches(rx, text, True):
        out += (text[pos : m.start()], token(pii_type))
        pos = m.end()
        n += 1
    out.append(text[pos:])
    return "".join(out), n


def scrub_text_value(text: str) -> tuple[str, dict[str, int]]:
    """Scalar reference implementation (used by datagen + property tests)."""
    counts: dict[str, int] = {}
    for pii_type, rx, needs_luhn, _ in PATTERNS:
        if needs_luhn:
            text, n = _luhn_replace(rx, text, pii_type)
        else:
            text, n = rx.subn(token(pii_type), text)
        if n:
            counts[pii_type] = counts.get(pii_type, 0) + n
    return text, counts


def scrub_frame(texts: pd.Series) -> pd.DataFrame:
    """Vectorized scrub of a batch: -> DataFrame(scrubbed_text, scrub_counts).

    scrub_counts is a dict per row with only the PII types that matched.
    Each pattern runs on the rows its prefilter selects only.
    """
    s = texts.fillna("").reset_index(drop=True)
    per_type = {t: np.zeros(len(s), dtype=np.int64) for t, *_ in PATTERNS}
    for (pii_type, rx, needs_luhn, _), cand in zip(PATTERNS, candidate_rows(s)):
        if not cand.any():
            continue
        n = s[cand].str.count(rx)
        pos = n.index[n.to_numpy() > 0]
        if not len(pos):
            continue
        if needs_luhn:  # the count and mask of Luhn-valid candidates only
            new, hits = zip(*(_luhn_replace(rx, t, pii_type) for t in s.iloc[pos]))
        else:
            new = s.iloc[pos].str.replace(rx, token(pii_type), regex=True)
            hits = n[pos]
        per_type[pii_type][pos] += np.asarray(hits)
        s = s.copy()
        s.iloc[pos] = np.asarray(new, dtype=object)
    counts = [
        {t: int(c[i]) for t, c in per_type.items() if c[i] > 0}
        for i in range(len(s))
    ]
    return pd.DataFrame(
        {"scrubbed_text": s.to_numpy(), "scrub_counts": counts}, index=texts.index
    )
