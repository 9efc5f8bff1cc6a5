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

Vectorization contract: the batch path scans only the rows that some
scrub prefilter selects (`scrub.candidate_rows`, one mask per
`scrub.PATTERNS` row, OR-ed) — the same prefilters `scrub_frame` uses,
read from the same table, so a new pattern needs no change here. Rows
with no possible match, the overwhelming majority of clean text, never
enter the per-row span scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_redaction_data_pipeline_spark.functions import scrub
from pii_redaction_data_pipeline_spark.functions.scrub import matches, token

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

    Walks `scrub.PATTERNS` exactly like scrub_text_value (same
    precedence, same `scrub.matches` scan per stage, so the same Luhn
    resume-at-start+1 for rejected card candidates) while carrying an
    index map from the current masked text back to original offsets.
    Mask tokens map to begin=end=-1 internally and contain no pattern
    triggers, so a match never straddles one; entities therefore always
    carry exact original-text offsets.
    """
    entities: list[dict] = []
    cur = text
    # orig_of[i] = original index of cur[i], -1 inside mask tokens
    orig_of = np.arange(len(text), dtype=np.int64)

    for pii_type, rx, needs_luhn, _ in scrub.PATTERNS:
        tok = token(pii_type)
        tok_map = np.full(len(tok), -1, dtype=np.int64)
        pieces: list[str] = []
        maps: list[np.ndarray] = []
        pos = 0
        for m in matches(rx, cur, needs_luhn):
            s, e = m.span()
            entities.append(
                {
                    "text": m.group(0),
                    "type": pii_type,
                    "score": 1.0,
                    "begin": int(orig_of[s]),
                    "end": int(orig_of[e - 1]) + 1,
                }
            )
            pieces += (cur[pos:s], tok)
            maps += (orig_of[pos:s], tok_map)
            pos = e
        if pieces:
            pieces.append(cur[pos:])
            maps.append(orig_of[pos:])
            cur = "".join(pieces)
            orig_of = np.concatenate(maps)
    return cur, entities


def entities_frame(texts: pd.Series) -> pd.Series:
    """Batch entity extraction: Series[str] -> Series[list[dict]].

    Only the rows that some pattern's prefilter selects (the OR of
    `scrub.candidate_rows`) pay the per-row span scan; every other row
    has no entity.
    """
    s = texts.fillna("")
    cand = np.logical_or.reduce(scrub.candidate_rows(s))
    ents = [extract_entities_value(t)[1] if c else [] for t, c in zip(s, cand)]
    return pd.Series(ents, index=s.index, dtype=object)


def make_entities_udf():
    """pandas UDF: text -> array<struct<text,type,score,begin,end>>."""

    @F.pandas_udf(ENTITY_SCHEMA)
    def entities_udf(texts: pd.Series) -> pd.Series:
        return entities_frame(texts)

    return entities_udf
