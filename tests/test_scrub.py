"""Scrubber unit + property tests (pandas level — no Spark needed).

Mirrors the reference's entity->region matching semantics tests that
never existed (SURVEY.md §5): masked-token format from PiiDisplay.jsx:19,
matching replaces redact.py:156-194's order-dependent containment scheme
with deterministic leftmost precedence.
"""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pii_redaction_data_pipeline_spark.functions.scrub import (
    PROFANITY_WORDS,
    luhn_valid,
    scrub_frame,
    scrub_text_value,
)


CASES = [
    ("contact jane.doe@example.com now", "contact [REDACTED EMAIL] now", {"EMAIL": 1}),
    ("call (555) 123-4567 today", "call [REDACTED PHONE] today", {"PHONE": 1}),
    ("call +1-555-123-4567 today", "call [REDACTED PHONE] today", {"PHONE": 1}),
    ("call 555-123-4567 today", "call [REDACTED PHONE] today", {"PHONE": 1}),
    ("ssn is 123-45-6789 ok", "ssn is [REDACTED SSN] ok", {"SSN": 1}),
    ("host 192.168.1.17 up", "host [REDACTED IP] up", {"IP": 1}),
    (
        "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up",
        "v6 [REDACTED IP] up",
        {"IP": 1},
    ),
    ("card 4111 1111 1111 1111 used", "card [REDACTED CREDIT_CARD] used", {"CREDIT_CARD": 1}),
    ("card 4111-1111-1111-1111 used", "card [REDACTED CREDIT_CARD] used", {"CREDIT_CARD": 1}),
    ("card 4111111111111111 used", "card [REDACTED CREDIT_CARD] used", {"CREDIT_CARD": 1}),
    # Luhn-invalid 16 digits: untouched
    ("num 1234 5678 9012 3456 ok", "num 1234 5678 9012 3456 ok", {}),
    ("what the frak is this", "what the [REDACTED PROFANITY] is this", {"PROFANITY": 1}),
    ("Frakking toasters", "[REDACTED PROFANITY] toasters", {"PROFANITY": 1}),
    ("no pii here at all", "no pii here at all", {}),
    # adjacency: email then phone
    (
        "a@b.co 555-123-4567",
        "[REDACTED EMAIL] [REDACTED PHONE]",
        {"EMAIL": 1, "PHONE": 1},
    ),
    # ssn must not be eaten by the phone rule (3-2-4 vs 3-3-4)
    ("123-45-6789 and 123-456-7890", "[REDACTED SSN] and [REDACTED PHONE]",
     {"SSN": 1, "PHONE": 1}),
]


@pytest.mark.parametrize("raw,masked,counts", CASES)
def test_scalar_cases(raw, masked, counts):
    s, c = scrub_text_value(raw)
    assert s == masked
    assert c == counts


def test_luhn():
    assert luhn_valid("4111111111111111")
    assert not luhn_valid("4111111111111112")


def test_luhn_rejected_candidate_does_not_shadow_real_card():
    # rejected 16-digit window overlapping a real card downstream
    raw = "ids 9999-8888 4111-1111-1111-1111 end"
    s, c = scrub_text_value(raw)
    assert "[REDACTED CREDIT_CARD]" in s
    assert c == {"CREDIT_CARD": 1}


def test_vectorized_matches_scalar():
    texts = pd.Series([r for r, _, _ in CASES] * 3)
    out = scrub_frame(texts)
    for raw, st_, ct in zip(texts, out.scrubbed_text, out.scrub_counts):
        es, ec = scrub_text_value(raw)
        assert st_ == es
        assert ct == ec


# letters re's IGNORECASE matches to an ASCII lexicon letter besides its
# upper case: LONG S, KELVIN SIGN, dotless i, dotted I
_FOLDS = {"s": "\u017f", "k": "\u212a", "i": "\u0131\u0130"}


@st.composite
def _lexicon_word(draw):
    """A lexicon word with each letter lower, upper or a re fold of it."""
    word = draw(st.sampled_from(PROFANITY_WORDS))
    return "".join(draw(st.sampled_from([c, c.upper(), *_FOLDS.get(c, "")])) for c in word)


_PII_SEEDS = [
    "4111 1111 1111 1111", "4111-1111-1111-1111", "a@b.co", "jd@ex.org", "fe80::1",
    "2001:db8:0:0:0:0:2:1", "192.168.0.1", "123-45-6789", "(555) 123-4567",
    "+1 555.123.4567",
]
_PII_DENSE_TEXT = st.lists(
    st.tuples(
        st.one_of(
            st.text(alphabet="0123456789", min_size=1, max_size=4),
            st.text(alphabet="0123456789@:.-()+ \nabfxſ", min_size=1, max_size=6),
            st.sampled_from(_PII_SEEDS),
            _lexicon_word(),
        ),
        st.sampled_from(["", " ", ".", "-", ":"]),
    ),
    max_size=10,
).map(lambda parts: "".join(piece + sep for piece, sep in parts))


@given(st.lists(_PII_DENSE_TEXT, min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_frame_matches_scalar_on_dense_text(texts):
    """scrub_frame equals scrub_text_value row by row on PII-dense text:
    every prefilter selects a superset of the rows its pattern matches,
    on ASCII and non-ASCII batches alike."""
    out = scrub_frame(pd.Series(texts))
    for raw, s, c in zip(texts, out.scrubbed_text, out.scrub_counts):
        assert (s, c) == scrub_text_value(raw)


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_idempotent(raw):
    once, _ = scrub_text_value(raw)
    twice, c2 = scrub_text_value(once)
    assert once == twice


@given(st.text(alphabet="0123456789- .()@abc", max_size=80))
@settings(max_examples=200, deadline=None)
def test_no_pii_survives(raw):
    s, _ = scrub_text_value(raw)
    s2, extra = scrub_text_value(s)
    assert extra == {}


@given(
    st.lists(st.sampled_from(["​", "‌", "‍", "⁠", "﻿", "­"]),
             min_size=1, max_size=6),
    st.integers(min_value=0, max_value=28),
)
@settings(max_examples=100, deadline=None)
def test_zero_width_obfuscation_never_evades_scrub(zw, pos):
    """PROPERTY (SURVEY.md §2.8 D1): PII interleaved with any mix of
    zero-width/format characters at any position must still be scrubbed
    once the D1 normalization runs — the fused-UDF order is
    normalize -> scrub, so annotate_frame is the unit under test."""
    from pii_redaction_data_pipeline_spark.functions.fused import annotate_frame

    pii = "mail jane.doe@example.com now"
    p = min(pos, len(pii))
    obfuscated = pii[:p] + "".join(zw) + pii[p:]
    out = annotate_frame(pd.Series([obfuscated]))
    assert out["scrubbed_text"].iloc[0] == "mail [REDACTED EMAIL] now"
    assert out["scrub_counts"].iloc[0] == {"EMAIL": 1}


def test_profanity_prefilter_folds_both_i_forms(monkeypatch):
    """re's IGNORECASE matches 'i' to U+0131 and U+0130, which casefold
    does not fold to a plain 'i': a lexicon word with an 'i' must still
    select those rows (the shipped words are all covered by an i-free
    one, so the fold is pinned here with a swapped lexicon)."""
    from pii_redaction_data_pipeline_spark.functions import scrub

    monkeypatch.setattr(scrub, "_PROFANITY_CORES", ("frakking",))
    texts = pd.Series(["frakkıng", "FRAKKİNG", "Frakking", "frakkng"])
    assert scrub._has_profanity(texts).tolist() == [True, True, True, False]
