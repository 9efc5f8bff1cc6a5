"""Deterministic sampling and corpus mixing for training-data curation.

A 100 TB pipeline downsamples and re-weights domains (language / source
mixing a la The Pile) BEFORE the expensive stages; the sample must be

  deterministic   re-running the job (or resuming one partition of it,
                  the reference's per-box idempotent re-entry,
                  machine-state.py:31-61) selects the SAME rows —
                  `df.sample()` does not guarantee this across
                  partitionings, a hash gate does;
  partitioning-   the keep decision depends only on the row's key,
  independent     never on split/partition/task ids;
  replayable      an auditor can re-derive the selection in another
                  engine from the spec alone.

Mechanism: keep a row iff the first 8 hex chars of
sha256(key || US || seed) compare below the rate's hex threshold.
Fixed-width lowercase-hex string comparison IS the uniform [0, 16^8)
numeric comparison, and sha256 agrees byte-for-byte across engines —
the DuckDB replay is `substr(sha256(...), 1, 8) < '<thresh>'`
(driver query `stratified_sample`). Everything is Catalyst expressions
(sha2/concat_ws/case) — codegen'd, no UDF, no shuffle; the gate pushes
into the scan like any other predicate.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SEP = "\x1f"  # unit separator: unambiguous multi-column key packing
_HEX_SPAN = 16 ** 8


def rate_threshold(rate: float) -> str:
    """The 8-hex-char threshold string for a keep rate in [0, 1]."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    v = int(rate * _HEX_SPAN)
    if v >= _HEX_SPAN:
        # rate == 1.0 ('g' sorts above every hex digit -> keeps all).
        # v > SPAN-1 for rate < 1 is unreachable TODAY — multiplying by
        # a power of two is exact, so int() truncates to <= SPAN-1 —
        # but the clamp guards the lexicographic comparison anyway: a
        # 9-char threshold like '100000000' would sort BELOW most
        # 8-char prefixes and silently keep ~1/16 of rows if _HEX_SPAN
        # ever stopped being a power of two.
        return "g" * 8
    return format(v, "08x")


def sample_bucket_col(key_cols: Sequence[str], seed: int = 0) -> Column:
    """First 8 hex chars of sha256 over the packed key + seed."""
    packed = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed)))
    return F.substring(F.sha2(packed, 256), 1, 8)


def deterministic_sample(
    df: DataFrame, rate: float, key_cols: Sequence[str], seed: int = 0
) -> DataFrame:
    """Keep a deterministic, partitioning-independent `rate` fraction."""
    return df.filter(sample_bucket_col(key_cols, seed) < F.lit(rate_threshold(rate)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    key_cols: Sequence[str],
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. keep 100% of 'books', 10%
    of 'web'). Unlisted strata fall to `default_rate`. One CASE over
    the threshold string — still a single codegen'd predicate."""
    thresh = F.lit(rate_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == value, F.lit(rate_threshold(rate))).otherwise(thresh)
    return df.filter(sample_bucket_col(key_cols, seed) < thresh)


def mix_corpora(
    sources: Mapping[str, tuple[DataFrame, float]],
    budget_rows: int,
    key_cols: Sequence[str],
    seed: int = 0,
) -> DataFrame:
    """Blend named corpora to target proportions under a row budget:
    source s with weight w_s contributes ~ budget * w_s / sum(w) rows,
    sampled deterministically; a source smaller than its quota is taken
    whole (rate capped at 1.0 — document the shortfall, don't upsample).

    All per-source sizes come from ONE Spark job (a union of count-only
    aggregates — each branch is a partial-agg scan, and the branches
    run concurrently as stages of the same job, instead of N serialized
    driver-blocking count() jobs); the final union is a plan-level
    concat, not a shuffle. Returns the blended frame with a
    `mix_source` tag.
    """
    total_w = sum(w for _, w in sources.values())
    if total_w <= 0:
        raise ValueError(f"sum of mix weights must be > 0, got {total_w}")
    counts_plan = None
    for name, (df, _) in sorted(sources.items()):
        c = df.groupBy().agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("s"), "n"
        )
        counts_plan = c if counts_plan is None else counts_plan.unionByName(c)
    counts = {r.s: r.n for r in counts_plan.collect()}
    out = None
    for name, (df, w) in sorted(sources.items()):
        quota = budget_rows * w / total_w
        n = counts[name]
        rate = 1.0 if n == 0 else min(1.0, quota / n)
        part = deterministic_sample(df, rate, key_cols, seed).withColumn(
            "mix_source", F.lit(name)
        )
        out = part if out is None else out.unionByName(part)
    return out
