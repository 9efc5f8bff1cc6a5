"""DSIR-style data selection: importance weighting of a raw corpus
toward a target domain (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling").

Each document is scored by a bag-of-word-grams log-likelihood ratio
between a TARGET distribution (the domain you want more of — e.g. a
curated high-quality sample) and the RAW distribution (the corpus
itself, or a sample of it):

    log w(x) = sum_g c_g(x) * [ log p_tgt(g) - log p_raw(g) ]

with add-alpha smoothing over the union vocabulary. Selection keeps the
top-k documents by weight. No reference analog (the reference redacts
PII, it does not curate training data); this is a builder-brief
training-data operator alongside decontamination/dedup/sampling.

Scale design. Grams never shuffle as strings: every gram is reduced to
its xxhash64 (or, in bucketed mode, `pmod(xxhash64, n_buckets)`) the
moment it is produced, so all exchanges carry 8-byte keys. The paper's
production shape is the BUCKETED mode: with n_buckets ~ 10^4-10^5 the
gram-statistics table is tiny regardless of corpus size, so the
score join is a broadcast-hash join and the only corpus-wide exchange
is the final `groupBy(id)` — whose map-side partial agg collapses each
document's grams before the shuffle (a document's grams all originate
in its own input row), leaving ~24 bytes per DOCUMENT on the wire,
the same shape `operators/decontaminate.py` pins. Exact mode
(n_buckets=None) keeps full-hash gram identity — the stats table is
vocabulary-sized, the join strategy is left to AQE — and exists as the
collision-free truth path the driver oracle value-checks (DuckDB
replays it on gram STRINGS; equality is the no-collision witness).

The target side is assumed small (a curated domain sample, MBs-GBs vs
the 100 TB raw side); its stats build is one narrow aggregation. The
raw stats default to the corpus itself but accept any DataFrame, so at
scale a deterministic sample (operators/sampling.py) can stand in —
the paper fits its raw bag-of-grams on a sample as well. Corpus grams
absent from BOTH stats tables (possible when raw is a sample) score
the smoothed unseen ratio log(R+aV) - log(T+aV) — both sides fall
back to their alpha mass — rather than being silently dropped.

Top-k selection never sorts the full corpus: the k-th (weight, id)
pair is found with an orderBy().limit(k) (TakeOrdered — per-partition
top-k then a k-row driver merge) and broadcast back as a 1-row
threshold, so `selected` is computed by a scan, not a global sort.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.functions.grams import (
    explode_grams,
    normalized_words,
)


def _exploded_gram_frame(
    df: DataFrame, text_col: str, ns: Sequence[int], n_buckets: int | None, keep=()
) -> DataFrame:
    """-> (*keep, g: long), ONE ROW PER GRAM OCCURRENCE (multiplicity
    preserved — counts matter for the bag-of-grams model, unlike
    decontamination's distinct sets). Normalization matches the dedup/
    decontaminate family (functions/grams.normalized_words — an empty
    text yields one empty-string unigram in both Spark and the DuckDB
    oracle); plan shape (split-under-Generate) is owned by
    functions/grams.explode_grams."""

    def key_of(gram: F.Column) -> F.Column:
        h = F.xxhash64(gram)
        return h if n_buckets is None else F.pmod(h, F.lit(n_buckets))

    def gram_arrays(words: F.Column) -> F.Column:
        n = F.size(words)

        def kgram_lambda(k: int):
            # factory so each lambda closes over its own k; the lambda
            # MUST stay single-parameter — pyspark's transform() binds a
            # second parameter to the element INDEX, so `lambda i, k=k`
            # would have the index silently overwrite the default.
            # Hashing happens INSIDE this (only) lambda: nesting a
            # transform's output inside another transform is the same
            # single-level-lambda hazard.
            return lambda i: key_of(F.concat_ws(" ", F.slice(words, i, k)))

        per_n = []
        for k in ns:
            keys = (
                F.transform(words, key_of)
                if k == 1
                else F.when(
                    n >= k,
                    F.transform(F.sequence(F.lit(1), n - k + 1), kgram_lambda(k)),
                ).otherwise(F.array().cast("array<long>"))
            )
            per_n.append(keys)
        return per_n[0] if len(per_n) == 1 else F.concat(*per_n)

    return explode_grams(df, normalized_words(text_col), gram_arrays, keep=keep)


def _key_counts(df: DataFrame, text_col: str, ns, n_buckets) -> DataFrame:
    """(g, c) global gram-key counts — one narrow agg, 8-byte keys."""
    return (
        _exploded_gram_frame(df, text_col, ns, n_buckets)
        .groupBy("g")
        .agg(F.count("*").alias("c"))
    )


def _stats_and_totals(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    ns: Sequence[int],
    n_buckets: int | None,
) -> tuple[DataFrame, DataFrame]:
    """((g, ct, cr) union-vocab counts, 1-row (tot_t, tot_r, vocab))."""
    tgt = _key_counts(target, text_col, ns, n_buckets).withColumnRenamed("c", "ct")
    raw_c = _key_counts(raw, text_col, ns, n_buckets).withColumnRenamed("c", "cr")
    stats = tgt.join(raw_c, "g", "full_outer").select(
        "g",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    totals = stats.agg(
        F.sum("ct").alias("tot_t"),
        F.sum("cr").alias("tot_r"),
        F.count("*").alias("vocab"),
    )
    return stats, totals


def _collect_totals(totals: DataFrame) -> tuple[int, int, int]:
    """ONE bounded driver action: 3 scalars (the mix_corpora precedent,
    operators/sampling.py). Folding T/R/V in as literals instead of a
    1-row crossJoin keeps the totals subtree out of every downstream
    consumer — without it, lr / unseen / the select threshold each
    re-derived the full stats aggregation (measured: 14 parquet scans
    of the corpus in the executed dsir_select plan, 0 reused)."""
    row = totals.first()
    return int(row["tot_t"] or 0), int(row["tot_r"] or 0), int(row["vocab"])


def _log_ratio(ct: F.Column, cr: F.Column, t: int, r: int, v: int, alpha: float) -> F.Column:
    """Per-gram smoothed log p_tgt(g)/p_raw(g), add-alpha over the UNION
    vocabulary V:  log (c_tgt+a)/(T+aV) - log (c_raw+a)/(R+aV)."""
    a = F.lit(float(alpha))
    return F.log((ct + a) / F.lit(t + alpha * v)) - F.log(
        (cr + a) / F.lit(r + alpha * v)
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    raw: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: Sequence[int] = (1, 2),
    alpha: float = 1.0,
    n_buckets: int | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """-> (id_col, n_grams, weight) per corpus document.

    n_grams  total gram occurrences in the document (bag size)
    weight   sum_g c_g(doc) * log_ratio(g), rounded to `round_to`
             decimals (deterministic across summation orders; the
             float error of a per-doc sum is ~1e-12 relative)

    raw defaults to the corpus itself (self-normalized importance
    weights, the DSIR default); pass a sample for the 100 TB case.
    In bucketed mode the stats side is <= n_buckets rows — explicitly
    broadcast. In exact mode it is vocabulary-sized; the join strategy
    is AQE's call (sort-merge on 8-byte keys at scale).
    """
    stats, totals = _stats_and_totals(
        target, corpus if raw is None else raw, text_col, ns, n_buckets
    )
    t, r, v = _collect_totals(totals)
    lr = stats.select(
        "g", _log_ratio(F.col("ct"), F.col("cr"), t, r, v, alpha).alias("log_ratio")
    )
    if n_buckets is not None:
        lr = F.broadcast(lr)
    # unseen-gram fallback (raw-is-a-sample case): both sides at alpha mass
    unseen_lr = (
        0.0
        if v == 0  # both corpora gram-free: nothing will ever miss the join
        else math.log(alpha / (t + alpha * v)) - math.log(alpha / (r + alpha * v))
    )
    doc_grams = (
        _exploded_gram_frame(corpus, text_col, ns, n_buckets, keep=(F.col(id_col),))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
    )
    weight = F.sum(
        F.col("c") * F.coalesce("log_ratio", F.lit(float(unseen_lr)))
    )
    if round_to is not None:
        weight = F.round(weight, round_to)
    return (
        doc_grams.join(lr, "g", "left")
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_grams"), weight.alias("weight"))
    )


def dsir_select(
    corpus: DataFrame,
    target: DataFrame,
    k_top: int,
    raw: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: Sequence[int] = (1, 2),
    alpha: float = 1.0,
    n_buckets: int | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """-> (id_col, n_grams, weight, selected): top-k_top documents by
    (weight desc, id asc) get selected=true. Deterministic under ties
    (numeric id_col required for the tie-break) and partitioning-
    independent. The k-th row is found via TakeOrdered + 1-row
    broadcast — no global sort of the corpus.

    The scored frame is consumed twice (threshold, flag); a lazy
    localCheckpoint truncates its lineage so the gram pipeline runs
    ONCE and the second pass reads the ~24-byte/doc cached rows (the
    components.py precedent — same executor-loss caveat, acceptable
    for a recomputable batch stage)."""
    scored = dsir_weights(
        corpus, target, raw, id_col, text_col, ns, alpha, n_buckets, round_to
    ).localCheckpoint(eager=False)
    kth = (
        scored.orderBy(F.desc("weight"), F.asc(id_col))
        .limit(k_top)
        .agg(
            F.min_by(
                F.struct(
                    F.col("weight").alias("wk"), F.col(id_col).alias("idk")
                ),
                # lexicographic min of (weight, -id) = the top-k set's
                # worst member: smallest weight, largest id among ties
                F.struct(F.col("weight"), (-F.col(id_col)).alias("neg_id")),
            ).alias("kth")
        )
        .select(F.col("kth.wk").alias("wk"), F.col("kth.idk").alias("idk"))
    )
    return (
        scored.crossJoin(F.broadcast(kth))
        .withColumn(
            "selected",
            F.coalesce(
                (F.col("weight") > F.col("wk"))
                | (
                    (F.col("weight") == F.col("wk"))
                    & (F.col(id_col) <= F.col("idk"))
                ),
                F.lit(False),
            ),
        )
        .drop("wk", "idk")
    )
