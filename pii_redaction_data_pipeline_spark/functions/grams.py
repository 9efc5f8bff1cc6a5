"""The gram family's one load-bearing plan shape, owned in one place.

Five operators explode word-k-grams out of a text column
(operators/decontaminate.py, operators/dsir.py, and dedup.py's
ngram_jaccard_pairs, minhash_lsh_pairs and repeated_span_dedup). They
differ in everything incidental — gram key (string vs xxhash64 vs
bucketed hash), distinct vs multiplicity, sub-k fallback, explode vs
explode_outer vs posexplode — but share exactly one non-obvious
invariant, and it is a PLAN-SHAPE invariant, not a semantic one:

    the whitespace split MUST be materialized by a projection directly
    UNDER the explode's Generate node, and every gram lambda must
    reference it as an attribute.

Why (measured, sf0.1 detect stage, 5-6x): higher-order functions do
not common-subexpression-eliminate across the lambda boundary, so a
lambda that slices the split EXPRESSION re-runs the regex split per
gram — O(words^2) per document. And materializing the split in an
adjacent plain Project does not survive the optimizer: CollapseProject
inlines single-use aliases right back into the lambda. Generate does
NOT collapse into its child projection, so projecting the split in the
same select that explodes is the one shape that keeps exactly one
split per row. `explode_grams` builds that shape; callers supply only
their gram transform. tests/test_plans.py::test_gram_family_plans_split_once
pins the invariant for all five operators against the OPTIMIZED plan.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WORDS_ATTR = "_gram_ws"


def normalized_text(text: Column) -> Column:
    """lower + whitespace-collapse + trim — the one word normalization of
    the gram family, the conversation-window text hash, the quality
    classifier's grams and the exact-dedup fingerprint. NULL stays NULL."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def normalized_words(text_col: str) -> Column:
    """`normalized_text` split on single spaces — the shared words of the
    decontaminate/DSIR/jaccard/minhash gram family (an empty text yields
    one empty-string word, matching the DuckDB oracles). NULL text
    coalesces to '' FIRST — split(NULL) is NULL, NULL gram arrays
    explode to zero rows, and the document would silently vanish from
    every downstream frame (DSIR's 'one row per corpus document'
    contract breaks with no error); the pipeline's NULL->'' convention
    (plans/pipeline.py annotate) applies here too.
    repeated_span_dedup deliberately does NOT use this: its passthrough
    contract is byte identity, so it splits on raw ``\\s+`` without
    case folding (and coalesces NULL itself)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return F.split(normalized_text(t), " ")


def explode_grams(
    df: DataFrame,
    words: Column,
    gram_arrays: Callable[[Column], Column],
    keep: Sequence[Column | str] = (),
    explode: Callable[[Column], Column] = F.explode,
    out_cols: Sequence[str] = ("g",),
) -> DataFrame:
    """-> (*keep, *out_cols): `explode`(gram_arrays(words-attribute)),
    with `words` materialized under the Generate (module docstring).

    gram_arrays receives the materialized word-array ATTRIBUTE column —
    it must build its gram array from that argument only, never from a
    fresh split expression (which would defeat the materialization)."""
    gen = explode(gram_arrays(F.col(_WORDS_ATTR))).alias(*out_cols)
    inner = df.select(*keep, words.alias(_WORDS_ATTR))
    # keep exprs (possibly aliased) were applied in the inner select;
    # the outer select references their OUTPUT names
    kept = [c for c in inner.columns if c != _WORDS_ATTR]
    return inner.select(*kept, gen)
