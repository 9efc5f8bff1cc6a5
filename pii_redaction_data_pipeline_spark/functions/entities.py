"""PII entity extraction — the explicit entity-list analog of the
reference's Comprehend Medical detection output.

The reference's detector returns a per-document entity list
``{Entities: [{Text, Type, Score, BeginOffset, EndOffset, ...}]}``
(consumed at reference backend/src/lambda/redact.py:158-163; field
shape at frontend/.../pii/PiiDisplay.jsx:133-151). Our scrubber
(functions/scrub.py) applies the same patterns but only *replaces*
spans; this module exposes the spans themselves as
``array<struct<text, type, score, begin, end>>`` — the `entities`
column of the annotated schema (SURVEY.md §1.2), feeding review UIs
and role-based masking views the way the reference's entity JSON
feeds its ReviewWorkflow pages.

Semantics are defined BY the scrubber: entities are exactly the spans
`scrub_text_value` masks, discovered in the same pattern-precedence
order over the same progressively-masked text (so a later type can
never match inside an earlier type's mask, and CC candidates are
Luhn-gated identically). Offsets are reported against the ORIGINAL
input text via an offset map maintained across mask splices — the
invariant `replace all spans in reverse begin order == scrubbed_text`
is pinned by tests/test_entities.py, as is per-type count equality
with scrub_counts.

`score` is a fixed 1.0: a deterministic regex detector has no
calibrated confidence; the field exists for schema parity with the
reference (scores are floats 0-1, PiiDisplay.jsx:139) and for ML
detectors to swap in.

Vectorization contract: the batch path runs the scrub prefilters
(trigger literals + digit-core prescan) so rows with no possible
match — the overwhelming majority of clean text — never enter the
per-row span scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_redaction_data_pipeline_spark.functions.scrub import (
    _COMPILED,
    _digit_core_mask,
    _PROFANITY_TRIGGERS,
    luhn_valid,
    token,
)

ENTITY_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("begin", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)


def extract_entities_value(text: str) -> tuple[str, list[dict]]:
    """Scalar reference implementation: -> (scrubbed_text, entities).

    Walks the pattern list exactly like scrub_text_value (same
    precedence, same global replace per stage, same Luhn resume-at-
    start+1 for rejected card candidates) while carrying an index map
    from the current masked text back to original offsets. Mask tokens
    map to begin=end=-1 internally and contain no pattern triggers, so
    a match never straddles one; entities therefore always carry exact
    original-text offsets.
    """
    entities: list[dict] = []
    cur = text
    # orig_of[i] = original index of cur[i], -1 inside mask tokens
    orig_of = np.arange(len(text), dtype=np.int64)

    for pii_type, rx, needs_luhn in _COMPILED:
        tok = token(pii_type)
        tok_map = np.full(len(tok), -1, dtype=np.int64)
        pieces: list[str] = []
        maps: list[np.ndarray] = []
        pos = 0
        hit = False
        search_from = 0
        while True:
            m = rx.search(cur, search_from)
            if m is None:
                break
            s, e = m.start(), m.end()
            if needs_luhn and not luhn_valid(m.group(0)):
                # match scrub's _cc_scan_replace: a rejected candidate
                # must not consume its span — resume at start+1
                search_from = s + 1
                continue
            hit = True
            entities.append(
                {
                    "text": m.group(0),
                    "type": pii_type,
                    "score": 1.0,
                    "begin": int(orig_of[s]),
                    "end": int(orig_of[e - 1]) + 1,
                }
            )
            pieces.append(cur[pos:s])
            maps.append(orig_of[pos:s])
            pieces.append(tok)
            maps.append(tok_map)
            pos = e
            search_from = e
        if hit:
            pieces.append(cur[pos:])
            maps.append(orig_of[pos:])
            cur = "".join(pieces)
            orig_of = np.concatenate(maps)
    return cur, entities


def entities_frame(texts: pd.Series) -> pd.Series:
    """Batch entity extraction: Series[str] -> Series[list[dict]].

    Prefilter discipline mirrors scrub_frame: the digit-core prescan
    and literal-trigger checks select candidate rows once, and only
    those rows pay the per-row span scan.
    """
    s = texts.fillna("")
    out = pd.Series([None] * len(s), index=s.index, dtype=object)
    # derive the prefilter from scrub's OWN trigger table, never a
    # hand-copied literal list: a pattern added to scrub.PATTERNS whose
    # trigger the copy lacked would pass scrub_frame but silently fail
    # this prescan — entities and scrub_counts disagreeing with no error
    # (the parity the module docstring pins). Any trigger kind this
    # prescan cannot express (None, or a kind it does not know)
    # disables the prefilter entirely.
    from pii_redaction_data_pipeline_spark.functions.scrub import _TRIGGERS

    kinds = set(_TRIGGERS.values())
    if not kinds <= {"digit", "@", ":", "profanity"}:
        cand = np.ones(len(s), dtype=bool)
    else:
        cand = np.zeros(len(s), dtype=bool)
        if "digit" in kinds:
            cand |= _digit_core_mask(s)  # IPv4/SSN/CC/PHONE superset
        if "@" in kinds:
            cand |= s.str.contains("@", regex=False).to_numpy()  # EMAIL
        if ":" in kinds:
            cand |= s.str.contains(":", regex=False).to_numpy()  # IPv6
        if "profanity" in kinds:
            folded = s.str.casefold()
            for w in _PROFANITY_TRIGGERS:
                cand |= folded.str.contains(w, regex=False).to_numpy()
    empty: list[dict] = []
    vals = s.to_numpy(dtype=object)
    res = np.empty(len(s), dtype=object)
    for i in range(len(s)):
        res[i] = extract_entities_value(vals[i])[1] if cand[i] else empty
    out[:] = res
    return out


def make_entities_udf():
    """pandas UDF: text -> array<struct<text,type,score,begin,end>>."""

    @F.pandas_udf(ENTITY_SCHEMA)
    def entities_udf(texts: pd.Series) -> pd.Series:
        return entities_frame(texts)

    return entities_udf
