"""Role-based output views — the reference's entity-review surface.

The reference gates PII visibility by Cognito group: an admin fetches
the full Comprehend entity JSON for a document, a non-admin gets an
EMPTY entity list (reference frontend/src/hooks/useRoleBasedPhi.jsx:
309-312), and the review display masks the matched text itself
(frontend/.../PhiDisplay.jsx:141-151); the per-conversation read is
"locate workflow -> locate doc -> fetch artifacts" (useRoleBasedPhi
.jsx:19-360). Here the same policy is a *projection* over the
annotated table — pure Catalyst expressions (``transform`` over the
entities array, column pruning), so a view costs nothing at 100 TB
and can be registered as a SQL VIEW / Iceberg view for downstream
consumers.

Roles (most → least privileged):

- ``admin``    — everything the run retained: original ``text`` (only
                 present when ``retain_original_text=True``), raw
                 ``entities`` spans, scrubbed text, verdict columns.
- ``reviewer`` — sees WHERE PII is, never WHAT it is: ``entities``
                 keep type/score/begin/end but each span's ``text`` is
                 replaced by its mask token (the PhiDisplay masking,
                 done server-side instead of client-side); the
                 original ``text`` column is pruned.
- ``consumer`` — training-data consumer: kept rows only, scrubbed
                 text only, entity list emptied (the non-admin empty
                 list, useRoleBasedPhi.jsx:309-312), all raw-PII
                 carriers pruned.

Column-level rather than row-level security is the point: the same
annotated table serves all three audiences without re-running the
scrubber.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.functions.scrub import token

ROLES = ("admin", "reviewer", "consumer")

#: columns that can carry raw PII and must not reach a non-admin:
#: `text` is the raw content itself; `turn_fp` is xxhash64 of the raw
#: pre-scrub text (plans/pipeline.py annotate) — unsalted and public,
#: so a low-entropy turn ("my SSN is 123-45-6789") is dictionary-
#: recoverable from the fingerprint alone, defeating the redaction;
#: `entities` carries the matched raw spans (masked for reviewers).
_PII_CARRIERS = ("text", "turn_fp", "entities")


def _mask_entities(col: F.Column) -> F.Column:
    """entities with each span's text replaced by its mask token.

    ``transform`` keeps this a JVM-side array expression — no UDF, no
    extra pass over the text.
    """
    return F.transform(
        col,
        lambda e: F.struct(
            F.format_string(token("%s"), e["type"]).alias("text"),
            e["type"].alias("type"),
            e["score"].alias("score"),
            e["begin"].alias("begin"),
            e["end"].alias("end"),
        ),
    )


def review_view(annotated: DataFrame, role: str) -> DataFrame:
    """Project the annotated table for one audience (see module doc).

    Works whether or not the run emitted ``entities`` / retained the
    original ``text`` — absent columns are simply not projected.
    """
    if role not in ROLES:
        raise ValueError(f"unknown role {role!r}; expected one of {ROLES}")
    cols = set(annotated.columns)
    df = annotated
    if role == "admin":
        return df
    if "entities" in cols:
        df = df.withColumn(
            "entities",
            _mask_entities(F.col("entities"))
            if role == "reviewer"
            # non-admin empty entity list (useRoleBasedPhi.jsx:309-312);
            # NULL-safe: dropped rows keep NULL, kept rows get []
            else F.when(
                F.col("entities").isNotNull(),
                F.array().cast(annotated.schema["entities"].dataType),
            ),
        )
    for c in ("text", "turn_fp"):
        if c in cols:
            df = df.drop(c)
    if role == "consumer":
        # kept rows only — the published training-data slice; entities
        # stays as the reference's empty non-admin list (schema parity)
        df = df.filter(F.col("keep"))
    return df


def conversation_lookup(annotated: DataFrame, conv_id: str, role: str) -> DataFrame:
    """Single-conversation review fetch (useRoleBasedPhi.jsx:19-360):
    point predicate + stable turn order + the role projection. Against
    a conv_id-bucketed table this is a partition-pruned read."""
    return (
        review_view(annotated, role)
        .filter(F.col("conv_id") == conv_id)
        .orderBy("turn_idx")
    )


def register_views(spark, annotated: DataFrame, prefix: str = "annotated") -> list[str]:
    """Register one temp view per role (``{prefix}_{role}``) so SQL
    consumers pick their audience by table name — the Spark analog of
    the reference handing different API responses to different Cognito
    groups."""
    names = []
    for role in ROLES:
        name = f"{prefix}_{role}"
        review_view(annotated, role).createOrReplaceTempView(name)
        names.append(name)
    return names
