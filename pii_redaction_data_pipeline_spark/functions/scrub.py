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

Vectorization: each pattern is applied with `pd.Series.str.count` +
`pd.Series.str.replace` (C-level loops over the Arrow batch). The only
per-match Python is the Luhn check on credit-card *candidates*, gated by
a vectorized prefilter so clean batches never enter Python row loops.
"""

from __future__ import annotations

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


def token(pii_type: str) -> str:
    return f"[REDACTED {pii_type}]"


#: regex matching every mask token `token()` can emit — THE canonical
#: pattern for consumers that need to strip/skip masks (the fused ppl
#: scorer's _MASK_RE mirrors it; a format change here must change there)
MASK_TOKEN_RE = r"\[REDACTED [A-Z_]+\]"


# (type, pattern, needs_luhn) — order is the precedence contract.
PATTERNS: tuple[tuple[str, str, bool], ...] = (
    ("EMAIL", EMAIL_RE, False),
    ("IP", IPV6_RE, False),
    ("IP", IPV4_RE, False),
    ("SSN", SSN_RE, False),
    ("CREDIT_CARD", CC_RE, True),
    ("PHONE", PHONE_RE, False),
    ("PROFANITY", PROFANITY_RE, False),
)

_COMPILED = [(t, re.compile(p), luhn) for t, p, luhn in PATTERNS]
PII_TYPES: tuple[str, ...] = ("EMAIL", "IP", "SSN", "CREDIT_CARD", "PHONE", "PROFANITY")


def luhn_valid(digits: str) -> bool:
    ds = [int(c) for c in digits if c.isdigit()]
    odd = ds[-1::-2]
    even = ds[-2::-2]
    total = sum(odd) + sum(d * 2 - 9 if d * 2 > 9 else d * 2 for d in even)
    return total % 10 == 0


def _cc_scan_replace(rx: re.Pattern, text: str) -> tuple[str, int]:
    """Replace Luhn-valid card candidates. A Luhn-REJECTED candidate must
    not consume its span (re.sub would), else an overlapping real card
    starting inside it is missed — scan resumes at start+1 instead."""
    out: list[str] = []
    pos = 0
    count = 0
    while True:
        m = rx.search(text, pos)
        if m is None:
            out.append(text[pos:])
            break
        if luhn_valid(m.group(0)):
            out.append(text[pos : m.start()])
            out.append(token("CREDIT_CARD"))
            pos = m.end()
            count += 1
        else:
            out.append(text[pos : m.start() + 1])
            pos = m.start() + 1
    return "".join(out), count


def scrub_text_value(text: str) -> tuple[str, dict[str, int]]:
    """Scalar reference implementation (used by datagen + property tests)."""
    counts: dict[str, int] = {}
    for pii_type, rx, needs_luhn in _COMPILED:
        if needs_luhn:
            text, n = _cc_scan_replace(rx, text)
            if n:
                counts[pii_type] = counts.get(pii_type, 0) + n
        else:
            text, n = rx.subn(token(pii_type), text)
            if n:
                counts[pii_type] = counts.get(pii_type, 0) + n
    return text, counts


# cheap prefilters: a pattern can only match rows containing its trigger
# (a literal char or the digit-core prescan), so the expensive
# count+replace scans run on that subset only.
# PROFANITY trigger: the (?i) unanchored alternation defeats re's literal
# optimizations (measured ~7.6 us/row over a full batch), but a casefolded
# plain-substring prefilter is a guaranteed superset of \b-anchored (?i)
# matches — `casefold` (not `lower`) because re's IGNORECASE matches
# extended foldings like U+017F LONG S ~ 's'. frakking ⊃ frak, so frak
# covers both.
_PROFANITY_TRIGGERS: tuple[str, ...] = (
    "frak", "gorram", "smeg", "shazbot", "felgercarb",
)
_TRIGGERS: dict[int, str | None] = {}
for _idx, (_t, _p, _l) in enumerate(PATTERNS):
    if _t == "EMAIL":
        _TRIGGERS[_idx] = "@"
    elif _p == IPV6_RE:
        _TRIGGERS[_idx] = ":"
    elif _t in ("IP", "SSN", "CREDIT_CARD", "PHONE"):
        _TRIGGERS[_idx] = "digit"
    elif _t == "PROFANITY":
        _TRIGGERS[_idx] = "profanity"
    else:
        _TRIGGERS[_idx] = None


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


def scrub_frame(texts: pd.Series) -> pd.DataFrame:
    """Vectorized scrub of a batch: -> DataFrame(scrubbed_text, scrub_counts).

    scrub_counts is a dict per row with only the PII types that matched.
    """
    s = texts.fillna("")
    per_type = {t: np.zeros(len(s), dtype=np.int64) for t in PII_TYPES}
    # rows with only small scattered numbers ("returned 12 items") skip
    # all four expensive digit-pattern scans entirely
    has_digit = _digit_core_mask(s)

    for pat_i, (pii_type, rx, needs_luhn) in enumerate(_COMPILED):
        trigger = _TRIGGERS[pat_i]
        if trigger == "digit":
            cand = has_digit
        elif trigger == "profanity":
            folded = s.str.casefold()
            cand = np.zeros(len(s), dtype=bool)
            for w in _PROFANITY_TRIGGERS:
                cand |= folded.str.contains(w, regex=False).to_numpy()
        elif trigger is not None:
            cand = s.str.contains(trigger, regex=False).to_numpy()
        else:
            cand = None  # run on the full batch

        if cand is not None:
            if not cand.any():
                continue
            sub = s[cand]
        else:
            sub = s

        if needs_luhn:
            mask = sub.str.count(rx) > 0
            if mask.any():
                idx = mask.index[mask.to_numpy()]
                vals = s.to_numpy(dtype=object)
                pos = s.index.get_indexer(idx)
                add = per_type[pii_type]
                for p in pos:
                    vals[p], n = _cc_scan_replace(rx, vals[p])
                    add[p] += n
                s = pd.Series(vals, index=s.index)
        else:
            n = sub.str.count(rx)
            if n.to_numpy().any():
                hit = n[n > 0]
                pos = s.index.get_indexer(hit.index)
                per_type[pii_type][pos] += hit.to_numpy()
                repl = sub[n > 0].str.replace(rx, token(pii_type), regex=True)
                s = s.copy()
                s.iloc[pos] = repl
    counts = [
        {t: int(per_type[t][i]) for t in PII_TYPES if per_type[t][i] > 0}
        for i in range(len(s))
    ]
    return pd.DataFrame({"scrubbed_text": s, "scrub_counts": counts}, index=texts.index)
