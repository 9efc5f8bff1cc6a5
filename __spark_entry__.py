"""Driver contract for the spark-graft builder (PySpark target).

`queries()` covers the SURVEY.md §2 operator inventory (scans/filters/
joins/aggregations/windows/sorts/set-ops/string functions) plus the
training-data operators (dedup family, similarity search, text analysis,
multimodal plumbing) over the driver's parquet tables. Each oracle-
checked entry aliases every computed column identically in Spark and
DuckDB SQL; floats are rounded on both sides. Every entry has an
oracle; the non-SQL-expressible ones (the UDF pipelines) compare against
VALUES tables derived independently of the engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: the quality-filter pipeline run over the documents corpus
# (documents mapped into the transcript shape: conv_id=source,
#  turn_idx=per-source sequence)
# ---------------------------------------------------------------------------


def _documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        F.col("doc_id"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter + scrub pipeline on sf0.001 docs."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    tr = _documents_as_transcripts(spark, "/root/testdata/sf0.001")
    ann = annotate(tr, PipelineConfig(), spark)
    return ann.select(
        "conv_id", "turn_idx", "doc_id", "lang", "lang_conf", "ppl",
        "n_chars", "n_words", "symbol_ratio", "rep_frac",
        "keep", "drop_reasons", "scrubbed_text",
    )


# ---------------------------------------------------------------------------
# oracle-checked relational operators (SURVEY.md §2.1-2.7)
# ---------------------------------------------------------------------------


def q_s2_prefix_scan(spark, sf_dir):
    """S2: include/exclude substring predicates on a scan."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(
            F.col("source").isin("src1", "src2", "src3")
            & F.col("text").contains("table")
            & ~F.col("text").contains("vector")
        )
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_p4_time_range(spark, sf_dir):
    """P4: timestamp-range predicate + grouped counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= "2024-01-08 00:00:00") & (F.col("ts") < "2024-01-15 00:00:00")
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def q_p5_point_lookup(spark, sf_dir):
    """P5: point lookup by key."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


def q_j1_artifact_join(spark, sf_dir):
    """J1: artifact assembly as an inner equi-join (broadcast small side)."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        docs.join(F.broadcast(emb), docs.doc_id == emb.vec_id, "inner")
        .groupBy("label")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("label")
    )


def q_j2_anti_resume(spark, sf_dir):
    """J2: left-anti join (the resume 'what remains' scan)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_join_3way(spark, sf_dir):
    """customer x orders x nation revenue rollup (broadcast dims)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


def q_a2_manifest_counts(spark, sf_dir):
    """A2: manifest Input/Successful/Unprocessed counts via conditional agg."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("input_count"),
            F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("successful_count"),
            F.sum((F.col("o_orderstatus") != "F").cast("long")).alias("unprocessed_count"),
        )
        .orderBy("o_orderpriority")
    )


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape: the canonical multi-agg groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_line_dedup(spark, sf_dir):
    """Corpus-level exact line dedup (CCNet / RefinedWeb boilerplate-line
    removal; operators/dedup.py corpus_line_dedup). The synthetic corpus
    has no newlines, so the fixture first folds every document into
    pseudo-lines of 8 words (deterministic chunking the oracle replays
    with list slicing), then drops each line occurring in >= 2 distinct
    documents — at sf0.01 that is 153 distinct boilerplate lines
    covering 328 of 3434 line instances. Scale contract in the operator
    docstring: detection ships 16 B/row (hash, id); dropped POSITIONS —
    never text — flow back as one short int array per affected document;
    the text column shuffles at most once (rebuild join), and not at all
    while the drop array broadcasts. Reference analog: the processed-set
    membership gate (redact.py:169-193) lifted to corpus-wide lines."""
    from pii_redaction_data_pipeline_spark.operators.dedup import corpus_line_dedup

    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    chunked = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 1, F.lit(8)),
                lambda i: F.array_join(F.slice(ws, i + 1, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return (
        corpus_line_dedup(chunked, min_docs=2)
        .select("doc_id", "text_clean", "n_lines", "n_kept")
        .orderBy("doc_id")
    )


def q_repeated_span(spark, sf_dir):
    """Cross-document exact substring (repeated-span) dedup — the Lee
    et al. 2022 span remover (operators/dedup.py repeated_span_dedup):
    every word 8-gram occurring in >= 2 distinct documents marks its 8
    tokens; covered tokens are cut, order preserved. Span-level sibling
    of line_dedup (needs no line structure) and of the whole-document
    near-dup family (cuts the boilerplate paragraph WITHOUT dropping the
    unique document around it). Scale contract in the operator
    docstring: detection ships (hash, id) pairs only; covered token
    INDICES — never text — flow back as one int array per affected
    document; the text column shuffles at most once (rebuild join).
    Oracle re-derives coverage from the gram STRINGS (hash-free), so a
    hash-collision bug on the Spark side would surface as a mismatch."""
    from pii_redaction_data_pipeline_spark.operators.dedup import repeated_span_dedup

    docs = _t(spark, sf_dir, "documents")
    return (
        repeated_span_dedup(docs, k=8, min_docs=2)
        .select("doc_id", "text_clean", "n_tokens", "n_kept")
        .orderBy("doc_id")
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (operators/sampling.py):
    per-language keep rates via a sha256-prefix gate — pure Catalyst
    expressions, partitioning-independent, and replayable row-for-row
    in DuckDB from the spec alone (the oracle re-derives the keep set
    independently). The mixing analog of the reference's batch-size
    gate (machine-state.py:44-57) lifted to corpus curation."""
    from pii_redaction_data_pipeline_spark.operators.sampling import (
        sample_bucket_col,
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "lang", {"en": 1.0, "de": 0.3}, ["doc_id"], seed=11, default_rate=0.1
    )
    return out.select(
        "doc_id", "lang", sample_bucket_col(["doc_id"], 11).alias("bucket")
    ).orderBy("doc_id")


def q_w1_first_per_group(spark, sf_dir):
    """W1: stable within-group order — first 3 events per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .filter(F.col("user_id") < 30)
        .select("user_id", F.col("rn").cast("long").alias("rn"), "event_id", "event_type")
        .orderBy("user_id", "rn")
    )


def q_w2_topn_orders(spark, sf_dir):
    """W2/sort/limit: global top-10 by price, deterministic tiebreak."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


def q_w3_running_sum(spark, sf_dir):
    """W3: frame-scoped running aggregate per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "running_value",
            F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4),
        )
        .filter((F.col("rn") <= 5) & (F.col("user_id") < 12))
        .select("user_id", F.col("rn").cast("long").alias("rn"), "event_id", "running_value")
        .orderBy("user_id", "rn")
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap cut + session counts per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ -> timestamp -> long (session tz pinned UTC, matches DuckDB epoch)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    # two selects: Spark forbids a window function inside another's frame
    ev = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess_id = F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("sess", sess_id)
        .groupBy("user_id")
        .agg(F.max("sess").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def q_dedup_consecutive(spark, sf_dir):
    """A5 analog: drop consecutive repeats of event_type per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    keep = F.lag("event_type").over(w).isNull() | (
        F.lag("event_type").over(w) != F.col("event_type")
    )
    return (
        ev.withColumn("keep", keep)
        .filter("keep")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_after_dedup"))
        .orderBy("event_type")
    )


def q_set_union(spark, sf_dir):
    """Set ops: distinct union of nation keys used by customers/suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct().orderBy("nationkey")


def q_p1_type_gate(spark, sf_dir):
    """P1: the upload extension whitelist (jpg/png/jpeg/pdf/tif/tiff,
    reference ProcessDocs/index.jsx:130-133) as a case-folded IN-list
    gate on the analog attribute (document language)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.lower(F.col("lang")).isin("en", "fr", "de"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "source")
    )


def q_first_match(spark, sf_dir):
    """get_key[0] analog: earliest order per customer (row_number=1)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("o_custkey") < 25))
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# oracle-checked text / training-data operators (documents table)
# ---------------------------------------------------------------------------

# planted-PII text appended to every fixture doc by a3_entity_counts
# (_PLANT_A) and the scrub/entity queries (_PLANT_B) AND re-stated
# inside their DuckDB oracle SQL —
# one constant per literal so the two sides can never silently diverge
# (round-5 review: six hand-copied occurrences)
_PLANT_A = " contact a@b.io or (555) 123-4567; backup c.d@e.org ssn 123-45-6789"
_PLANT_B = (
    " reach me: jane.doe@example.com or (555) 123-4567"
    " ssn 123-45-6789 host 10.0.0."
)

_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SSN = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
_IPV4 = "\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"
_PHONE = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b"


def q_scrub_sql(spark, sf_dir):
    """D2/D4 in pure SQL expressions: regexp PII scrub (RE2-safe subset,
    no Luhn — the full scrubber is the pandas UDF path)."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(_PLANT_B),
        (F.col("doc_id") % 250 + 1).cast("string"),
    )
    s = planted
    s = F.regexp_replace(s, _EMAIL, "[REDACTED EMAIL]")
    s = F.regexp_replace(s, _IPV4, "[REDACTED IP]")
    s = F.regexp_replace(s, _SSN, "[REDACTED SSN]")
    s = F.regexp_replace(s, _PHONE, "[REDACTED PHONE]")
    return docs.select("doc_id", s.alias("scrubbed")).orderBy("doc_id")


def q_quality_heuristics(spark, sf_dir):
    """D5 heuristics as portable SQL: lengths, word count, symbol ratio,
    plus the composite 0..1 quality score (functions/text_stats.
    quality_score with rep_frac pinned 0 — the pandas-UDF repetition
    stat is exercised by the pipeline queries)."""
    from pii_redaction_data_pipeline_spark.functions.text_stats import quality_score

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_words = F.size(F.split(F.trim(t), "\\s+"))
    nonspace = F.length(F.regexp_replace(t, "\\s", ""))
    symbols = nonspace - F.length(F.regexp_replace(t, "[^A-Za-z0-9]", ""))
    sr = symbols / F.greatest(nonspace, F.lit(1))
    score = quality_score(
        F.length(t), F.regexp_count(t, F.lit(r"\S+")), sr, F.lit(0.0)
    )
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_actual"),
        n_words.cast("long").alias("n_words"),
        F.round(sr, 6).alias("symbol_ratio"),
        (F.length(t) < 100).alias("too_short"),
        (F.length(t) > 350).alias("too_long"),
        F.round(score, 6).alias("quality"),
    ).orderBy("doc_id")


def q_s3_partition_listing(spark, sf_dir):
    """S3: partition listing (list_objects Delimiter='/' -> CommonPrefixes,
    reference S3Functions.py:81-101) as a distinct-partition-values scan."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_objects"), F.sum("n_chars").alias("total_bytes"))
        .orderBy("source")
    )


def q_a3_entity_counts(spark, sf_dir):
    """A3: entity count per document (len(redactions), reference
    redact.py:195) — counts of each planted PII pattern."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(_PLANT_A),
    )
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count(planted, F.lit(_SSN)).cast("long").alias("n_ssn"),
        F.regexp_count(planted, F.lit(_PHONE)).cast("long").alias("n_phone"),
    ).orderBy("doc_id")


def q_token_count(spark, sf_dir):
    """Token counting (whitespace words + BPE-ish pre-tokens) plus the
    normalized-md5 content fingerprint (exact-dedup key)."""
    from pii_redaction_data_pipeline_spark.functions.text_stats import (
        bpe_token_count,
        content_fingerprint,
        ws_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    # the package helpers ARE the counted semantics (ws_token_count
    # returns 0 for empty text — the oracle SQL encodes the same CASE);
    # inlining their expressions here previously left two divergent
    # sources of truth for "token count" (round-5 review finding)
    return docs.select(
        "doc_id",
        ws_token_count(t).cast("long").alias("ws_tokens"),
        bpe_token_count(t).cast("long").alias("bpe_tokens"),
        content_fingerprint(t).alias("fp"),
    ).orderBy("doc_id")


def q_dedup_exact_groups(spark, sf_dir):
    """Exact dedup groups on a 48-char normalized prefix key."""
    docs = _t(spark, sf_dir, "documents")
    key = F.substring(F.lower(F.trim(F.col("text"))), 1, 48)
    return (
        docs.select(key.alias("k"), "doc_id")
        .groupBy("k")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("keeper_id")
    )


def q_langid_stopwords(spark, sf_dir):
    """n-gram-heuristic language ID expressible in both engines:
    stopword-evidence argmax over en/es/de markers."""
    docs = _t(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))

    def cnt(words):
        return F.regexp_count(t, F.lit("\\b(?:" + "|".join(words) + ")\\b"))

    en = cnt(["the", "and", "is", "of", "to"])
    es = cnt(["el", "los", "es", "que", "una"])
    de = cnt(["der", "die", "das", "und", "ist"])
    pred = (
        F.when((en >= es) & (en >= de), "en")
        .when(es >= de, "es")
        .otherwise("de")
    )
    return docs.select(
        "doc_id", en.cast("long").alias("en_hits"), es.cast("long").alias("es_hits"), de.cast("long").alias("de_hits"),
        pred.alias("pred_lang"),
    ).orderBy("doc_id")


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3gram jaccard pairs (distributed explode+join)."""
    from pii_redaction_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(docs, threshold=0.12).orderBy("id_a", "id_b")


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for probe vectors."""
    from pii_redaction_data_pipeline_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, probes, k=3).orderBy("probe_id", "rank")


def q_semdedup(spark, sf_dir):
    """Composed SemDeDup chain as ONE oracle-checked query: embedding-
    cosine near-dup pairs (>= 0.35, capped at vec_id < 400) ->
    connected components (alternating star rounds,
    operators/components.py) -> min-id representative per cluster. The
    DuckDB oracle re-derives the SAME chain: exact-cosine pair SQL
    feeding a recursive min-reachable-id CTE — so component ids and
    is_rep flags must match exactly, and a wrong pair set shows up as a
    wrong clustering."""
    from pii_redaction_data_pipeline_spark.operators.components import (
        dedup_representatives,
    )
    from pii_redaction_data_pipeline_spark.operators.similarity import (
        cosine_similarity_col,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    sim = F.round(cosine_similarity_col(F.col("va"), F.col("vb")), 4)
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.35)
    )
    return (
        dedup_representatives(emb, pairs, id_col="vec_id")
        .select("vec_id", "component_id", "is_rep")
        .orderBy("vec_id")
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: binary column + typed metadata (JVM path)."""
    docs = _t(spark, sf_dir, "documents")
    media = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(media).cast("long").alias("n_bytes"),
        F.md5(media).alias("digest"),
    ).orderBy("doc_id")


def q_j3_theta_contains(spark, sf_dir):
    """J3: broadcast nested-loop theta join — substring-containment match
    of a small needle set against every document (reference redact.py's
    entity x bbox containment, SURVEY.md §2.3 J3)."""
    docs = _t(spark, sf_dir, "documents")
    needles = spark.createDataFrame([("table",), ("vector",), ("data",)], "needle string")
    return (
        docs.join(F.broadcast(needles), F.expr("instr(lower(text), needle) > 0"))
        .groupBy("needle")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("needle")
    )


def q_a1_status_map(spark, sf_dir):
    """A1: doc-status map merge (reference update-wf-status.py:30-39),
    rendered as a canonical 'status:count' string for engine parity."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority", "o_orderstatus").count()
    return (
        per.groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(o_orderstatus, count))),"
                    " x -> concat(x.o_orderstatus, ':', x.count))"
                ),
                ",",
            ).alias("status_map")
        )
        .orderBy("o_orderpriority")
    )


def q_cube_matrix(spark, sf_dir):
    """Cube (full grouping-sets lattice) — event_type x quarter-day with
    ALL four subtotal combinations (Catalyst expands to one Expand +
    hash-agg)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "qday", F.floor(F.hour("ts") / 6).cast("long")
    )
    return (
        ev.cube("event_type", "qday")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("qday", F.lit(-1)).alias("qday"),
            "n",
            "sum_value",
        )
        .orderBy("event_type", "qday")
    )


def q_scalar_funcs(spark, sf_dir):
    """§2.7 scalar/string family: format, split/basename/ext, replace,
    lpad, substring, percent rounding (reference key-manipulation ops)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    path = F.format_string("input/%s/%d.txt", F.col("source"), F.col("doc_id"))
    basename = F.element_at(F.split(path, "/"), -1)
    return docs.select(
        "doc_id",
        path.alias("path"),
        basename.alias("basename"),
        F.element_at(F.split(basename, "[.]"), 1).alias("stem"),
        F.regexp_replace(path, "\\.txt$", "").alias("no_ext"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded"),
        F.substring(F.upper("source"), 1, 3).alias("src3"),
        F.round(F.col("n_chars") / 347.0 * 100, 2).alias("pct"),
        # S3-event key decode (machine-state.py:51 unquote_plus)
        F.url_decode(
            F.concat(
                F.lit("input%2F"), F.col("source"), F.lit("%2F"),
                F.col("doc_id").cast("string"), F.lit("+doc.txt"),
            )
        ).alias("decoded_key"),
    ).orderBy("doc_id")


def q_pack_placement(spark, sf_dir):
    """Sequence-packing placement (operators/packing.py): every doc's
    bucket + absolute token span in the concat-and-chunk layout used to
    build fixed-length training sequences. Pure Catalyst (sha256-digit
    bucket, shared BPE-regex token count, window cumsum — one shuffle);
    the oracle re-derives the identical layout in DuckDB, so the
    placement math that the applyInPandas materializer consumes is
    value-checked end-to-end."""
    from pii_redaction_data_pipeline_spark.operators.packing import (
        with_pack_placement,
    )

    docs = _t(spark, sf_dir, "documents")
    out = with_pack_placement(docs, seq_tokens=512, n_buckets=16)
    return out.select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.col("seq_start").cast("long").alias("seq_start"),
        F.col("seq_end").cast("long").alias("seq_end"),
    ).orderBy("doc_id")


def q_json_props(spark, sf_dir):
    """§2.7 JSON decode: extract typed field from the events props JSON."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", "event_type", k.alias("k"))
        .filter(F.col("k") > 80)
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# rows-only (non-SQL-expressible: pandas-UDF sketches, pipeline, stubs)
# ---------------------------------------------------------------------------


def q_segment_pack(spark, sf_dir):
    """Sentence segmentation + greedy packing (reference segment.py:82-114)
    at a 120-char budget so the docs actually split. ORACLE-CHECKED since
    round 2: the DuckDB side replays the exact semantics — the lookbehind
    boundary regex is emulated with a sentinel insertion, the hard-break
    via a range explode, and the greedy flush-on-overflow fold via a
    recursive CTE — so n_segments and total coverage are value-matched,
    not just row-counted."""
    from pii_redaction_data_pipeline_spark.functions.segment import make_segment_udf

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    seg = make_segment_udf(seg_len=120)
    segs = docs.select("doc_id", seg(F.col("text")).alias("segments"))
    return segs.select(
        "doc_id",
        F.size("segments").cast("long").alias("n_segments"),
        F.aggregate(
            F.transform("segments", lambda s: F.length(s)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long").alias("total_chars"),
    ).orderBy("doc_id")


def _reasons_str(col="drop_reasons"):
    """drop_reasons as a canonical string: order is already fixed by
    config.DROP_REASONS, and a flat string is hashable by the driver's
    pandas canonicalizer (round 1: the raw array<string> crashed its
    sort_values with 'unhashable type: list')."""
    return F.array_join(F.col(col), "|").alias(col)


def _counts_str(col="scrub_counts"):
    """scrub_counts map as a canonical 'k:v,...' string, entries sorted
    by key — hashable and engine-order-independent."""
    entries = F.array_sort(F.map_entries(F.col(col)))
    joined = F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string"))),
        ",",
    )
    return F.when(F.col(col).isNotNull(), joined).alias(col)


def q_pipeline_documents(spark, sf_dir):
    """The flagship pipeline over the documents corpus (UDF stages),
    ORACLE-CHECKED since round 2 against an independent scalar
    re-derivation rendered as a literal VALUES table (see
    _pipeline_documents_oracle). Floats are emitted as round(x*1e4)
    bigints: Spark's round() is HALF_UP over the double's shortest
    decimal repr (BigDecimal.valueOf), which the oracle replicates
    exactly with Decimal(repr(x)) — a '%.4f' format would diverge on
    exactly-representable ties (e.g. 5/32), where JVM printf rounds
    HALF_UP but Python rounds half-even. scrubbed_text is compared via
    md5 so the oracle SQL needs no string escaping; raw scrubbed-text
    equality stays pinned by the golden-fixture pytest (SURVEY.md §5)."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    tr = _documents_as_transcripts(spark, sf_dir)
    ann = annotate(tr, PipelineConfig(), spark)
    return ann.select(
        "doc_id", "lang",
        F.round(F.col("lang_conf") * 10000, 0).cast("long").alias("lang_conf_e4"),
        F.round(F.col("ppl") * 10000, 0).cast("long").alias("ppl_e4"),
        "keep", _reasons_str(),
        F.md5("scrubbed_text").alias("scrub_md5"), _counts_str(),
    ).orderBy("doc_id")


def _independent_ids_of():
    """byte->id mapper re-declared from the model's ALPHABET data alone
    (shared by the embedded-corpus and corpus-trained oracles)."""
    from pii_redaction_data_pipeline_spark.functions.perplexity import ALPHABET

    OOV = len(ALPHABET)
    byte_to_id = {}
    for i, c in enumerate(ALPHABET):
        byte_to_id[ord(c)] = i
    for u, lo in zip(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ", b"abcdefghijklmnopqrstuvwxyz"):
        byte_to_id[u] = byte_to_id[lo]

    def ids_of(text: str) -> list[int]:
        return [
            byte_to_id.get(b, OOV)
            for b in text.encode("latin-1", "replace")
        ]

    return ids_of


def _independent_kn_logp():
    """Pure-Python re-derivation of the KN char-trigram log-prob table.

    Imports ONLY the model's declared data (alphabet, discount, training
    corpus) from functions/perplexity — none of its numeric code. Counts
    are dict-based, probabilities are plain float64 Python arithmetic in
    the same element-wise formula order as the production numpy build
    (all reductions are integer-valued, hence exact in either engine),
    and the result is quantized to the model's declared float32 table
    precision. tests/test_functions.py pins this table bit-equal to the
    production one, so a bug in CharTrigramLM.__init__ surfaces as a
    parity failure there AND an oracle mismatch here."""
    from pii_redaction_data_pipeline_spark.functions.perplexity import TRAIN_CORPUS

    ids_of = _independent_ids_of()
    ids = ids_of(" " + TRAIN_CORPUS.lower().replace("\n", " ") + " ")
    tri: dict[tuple[int, int, int], int] = {}
    for a, b, c in zip(ids, ids[1:], ids[2:]):
        tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    return _independent_kn_fit(tri), ids_of


def _independent_kn_fit(tri):
    """KN fit from a dict of trigram counts — the numeric half of
    _independent_kn_logp, factored out so the corpus-trained oracle
    (_ppl_trained_oracle) can fit from per-row counts. Same float64
    element-wise formula order as CharTrigramLM._fit, quantized to the
    model's declared float32 table precision."""
    import math

    import numpy as np

    from pii_redaction_data_pipeline_spark.functions.perplexity import ALPHABET

    D = 0.75  # the model's declared KN discount
    V = len(ALPHABET) + 1

    # continuation counts
    bi_cont: dict[tuple[int, int], int] = {}  # N1+(. w2 w3)
    for (_, b, c) in tri:
        bi_cont[(b, c)] = bi_cont.get((b, c), 0) + 1
    uni_cont: dict[int, int] = {}  # N1+(. . w3)
    for (_, c) in bi_cont:
        uni_cont[c] = uni_cont.get(c, 0) + 1
    n_bigram_types = max(float(sum(uni_cont.values())), 1.0)

    p_uni = [
        (float(uni_cont.get(c, 0)) + 1.0) / (n_bigram_types + V) for c in range(V)
    ]

    # bigram level
    bi_ctx_tot = [0.0] * V  # N1+(. w2 .)
    bi_types = [0.0] * V
    for (b, _), n in bi_cont.items():
        bi_ctx_tot[b] += float(n)
        bi_types[b] += 1.0
    p_bi = [[0.0] * V for _ in range(V)]
    for b in range(V):
        tot = bi_ctx_tot[b]
        safe = tot if tot > 1.0 else 1.0
        lam = D * bi_types[b] / safe
        for c in range(V):
            n = float(bi_cont.get((b, c), 0))
            disc = n - D if n - D > 0.0 else 0.0
            p_bi[b][c] = disc / safe + lam * p_uni[c] if tot > 0 else p_uni[c]

    # trigram level
    tri_ctx_tot: dict[tuple[int, int], float] = {}
    tri_types: dict[tuple[int, int], float] = {}
    for (a, b, _), n in tri.items():
        tri_ctx_tot[(a, b)] = tri_ctx_tot.get((a, b), 0.0) + float(n)
        tri_types[(a, b)] = tri_types.get((a, b), 0.0) + 1.0

    logp = np.empty((V, V, V), dtype=np.float32)
    for a in range(V):
        for b in range(V):
            tot = tri_ctx_tot.get((a, b), 0.0)
            if tot <= 0.0:
                for c in range(V):
                    p = p_bi[b][c]
                    logp[a, b, c] = np.float32(
                        math.log(p) if p > 1e-12 else math.log(1e-12)
                    )
                continue
            safe = tot if tot > 1.0 else 1.0
            lam = D * tri_types[(a, b)] / safe
            for c in range(V):
                n = float(tri.get((a, b, c), 0))
                disc = n - D if n - D > 0.0 else 0.0
                p = disc / safe + lam * p_bi[b][c]
                logp[a, b, c] = np.float32(
                    math.log(p) if p > 1e-12 else math.log(1e-12)
                )
    return logp


def _independent_ppl(texts) -> list[float]:
    """Float64 scalar KN perplexity over the independently re-derived
    table (see _independent_kn_logp): per-text sum of float32 table
    values accumulated in float64 — the production vectorized path's
    chunked-cumsum accumulation agrees to ~1e-13 relative, far inside
    the e4 rounding granularity."""
    import math

    logp, ids_of = _independent_kn_logp()
    out = []
    for t in texts:
        ids = ids_of(" " + (t or "").lower() + " ")
        if len(ids) < 3:
            out.append(1.0)
            continue
        s = 0.0
        for a, b, c in zip(ids, ids[1:], ids[2:]):
            s += float(logp[a, b, c])
        out.append(math.exp(-s / (len(ids) - 2)))
    return out


def _pipeline_documents_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Independent scalar re-derivation of the flagship pipeline over the
    sf0.01 documents corpus, emitted as a VALUES literal the driver's
    DuckDB side can run (the driver compares at sf=0.01 by contract).

    Independence: langid uses langid_frame_reference (the per-pattern
    pandas path, NOT the production combined-regex fast path), scrub uses
    scrub_text_value (the scalar reference, NOT the vectorized
    scrub_frame), text stats and rep_frac and the conversation windows
    and the whole verdict assembly are re-derived here in plain Python —
    so a bug in the vectorized UDF paths, the window algebra, the
    delta-encodings across the shuffle, or the verdict expressions breaks
    the hash match. Since round 3 the KN perplexity is ALSO re-derived
    independently (_independent_kn_logp/_independent_ppl: pure-Python
    dict-counted table quantized to the model's declared float32
    precision, float64 scalar scoring) — round 2's one shared numeric
    path (ppl_series) is gone, so a bug in the production table build
    or the vectorized scorer now breaks this oracle directly. The mask
    stripping feeding the scorer is likewise replicated locally
    (regexes re-declared, not imported)."""
    import hashlib
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import pandas as pd

    from pii_redaction_data_pipeline_spark.config import DROP_REASONS, PipelineConfig
    from pii_redaction_data_pipeline_spark.functions.fused import normalize_text
    from pii_redaction_data_pipeline_spark.functions.langid import (
        langid_frame_reference,
    )
    from pii_redaction_data_pipeline_spark.functions.scrub import scrub_text_value

    cfg = PipelineConfig()
    docs = duckdb.sql(
        "SELECT doc_id, source, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') "
        "ORDER BY source, doc_id"
    ).df()

    norm = [normalize_text(t or "") for t in docs["text"]]
    lid = langid_frame_reference(pd.Series(norm))
    scrubbed, counts = zip(*(scrub_text_value(t) for t in norm))
    # mask stripping replicated locally (ppl scores scrubbed text with
    # the [REDACTED T] tokens removed and whitespace re-collapsed)
    mask_re = _re.compile(r"\[REDACTED [A-Z_]+\]")
    ws_anom_re = _re.compile(r"\s\s+|[\t\n\x0b\f\r]", _re.ASCII)
    ppl_inputs = [
        ws_anom_re.sub(" ", mask_re.sub(" ", t)).strip(" ") for t in scrubbed
    ]
    ppl = pd.Series(_independent_ppl(ppl_inputs))

    def e4(x: float) -> int:
        # exact replica of Spark round(x*10000, 0): HALF_UP over the
        # shortest decimal repr (Java BigDecimal.valueOf == Python repr)
        return int(
            Decimal(repr(x * 10000.0)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    ws_re = _re.compile(r"\s+", _re.ASCII)
    nonws_re = _re.compile(r"\S+", _re.ASCII)
    word_chars = set(
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
    )
    ws_chars = set(" \t\n\x0b\f\r")

    rows = []
    seen_by_conv: dict[str, set[str]] = {}
    for i in range(len(docs)):
        t = norm[i]
        n_chars = len(t)
        n_words = len(nonws_re.findall(t))
        nonspace = sum(1 for c in t if c not in ws_chars)
        symbols = sum(1 for c in t if c not in ws_chars and c not in word_chars)
        symbol_ratio = 0.0 if nonspace == 0 else symbols / nonspace
        # rep_frac: chars covered by the most frequent word 3-gram
        # (first-seen tie-break), capped at 1.0
        words = t.split()
        rep_frac = 0.0
        if len(words) >= 3:
            grams: dict[tuple, int] = {}
            for g in zip(words, words[1:], words[2:]):
                grams[g] = grams.get(g, 0) + 1
            g, cnt = max(grams.items(), key=lambda kv: kv[1])
            if cnt > 1:
                glen = len(g[0]) + len(g[1]) + len(g[2]) + 2
                rep_frac = min(cnt * glen / max(n_chars, 1), 1.0)

        conv = docs["source"].iloc[i]
        dup_key = ws_re.sub(" ", t).strip(" ").lower()
        seen = seen_by_conv.setdefault(conv, set())
        is_dup = dup_key in seen
        seen.add(dup_key)

        lang = lid["lang"].iloc[i]
        lang_conf = float(lid["lang_conf"].iloc[i])
        lang_fail = lang not in cfg.allowed_langs and lang_conf >= cfg.lang_min_conf
        too_short = n_chars < cfg.min_chars or n_words < cfg.min_words
        too_long = n_chars > cfg.max_chars
        symbol = symbol_ratio > cfg.max_symbol_ratio
        repetition = rep_frac > cfg.max_top3gram_frac
        content = too_short or too_long or symbol or repetition
        high_ppl = (
            not lang_fail and not content and float(ppl.iloc[i]) > cfg.max_ppl
        )
        fired = {
            "lang": lang_fail,
            "too_short": not lang_fail and too_short,
            "too_long": not lang_fail and too_long,
            "symbol_ratio": not lang_fail and symbol,
            "repetition": not lang_fail and repetition,
            "high_ppl": high_ppl,
            "duplicate_turn": is_dup,  # role is always 'user' for docs
            "tool_loop": False,
        }
        reasons = [r for r in DROP_REASONS if fired[r]]
        keep = not reasons
        md5 = (
            "'%s'" % hashlib.md5(scrubbed[i].encode()).hexdigest()
            if keep
            else "NULL"
        )
        cstr = (
            "'%s'" % ",".join(f"{k}:{v}" for k, v in sorted(counts[i].items()))
            if keep
            else "NULL"
        )
        rows.append(
            "(%d,'%s',%d,%d,%s,'%s',%s,%s)"
            % (
                int(docs["doc_id"].iloc[i]), lang, e4(lang_conf),
                e4(float(ppl.iloc[i])), str(keep).upper(), "|".join(reasons),
                md5, cstr,
            )
        )
    return (
        "SELECT doc_id, lang, CAST(lang_conf_e4 AS BIGINT) AS lang_conf_e4,"
        " CAST(ppl_e4 AS BIGINT) AS ppl_e4, keep, drop_reasons,"
        " scrub_md5, scrub_counts FROM (VALUES "
        + ",".join(rows)
        + ") AS t(doc_id, lang, lang_conf_e4, ppl_e4, keep, drop_reasons,"
        " scrub_md5, scrub_counts) ORDER BY doc_id"
    )


def q_ppl_trained(spark, sf_dir):
    """Corpus-trained KN perplexity, ORACLE-CHECKED: fits the trigram
    LM ON the documents corpus itself via the distributed counting path
    (functions/perplexity.train_char_trigram_lm — mapInPandas emits
    sparse per-task count cells, a map-side-combined groupBy sums them,
    the driver collect is bounded by V^3 rows), broadcasts the fitted
    table, and scores every document with it. The oracle re-derives the
    whole thing scalar (_ppl_trained_oracle: dict-based per-row counts,
    the pure-Python KN fit of _independent_kn_fit, float64 scoring), so
    a bug in the distributed counter's row-boundary masking, the sparse
    aggregation, from_counts, OR the broadcast scoring path breaks the
    hash match. Generalizes the reference's fixed external scorer
    (SURVEY.md D5) to in-domain model fitting — the 100 TB shape is one
    counting pass + one ~400 KB broadcast."""
    from pii_redaction_data_pipeline_spark.functions.perplexity import (
        make_ppl_udf,
        train_char_trigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = train_char_trigram_lm(docs, "text")
    udf = make_ppl_udf(spark, model=lm)
    return docs.select(
        "doc_id",
        F.round(udf(F.col("text")) * 10000, 0).cast("long").alias("ppl_e4"),
    ).orderBy("doc_id")


def _ppl_trained_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Independent scalar re-derivation of q_ppl_trained as a VALUES
    literal: per-row ' '-padded dict trigram counting (vs the production
    numpy bincount + boundary mask), _independent_kn_fit (pure-Python
    KN, pinned bit-equal to CharTrigramLM._fit by tests), float64
    sequential scoring (vs the chunked-cumsum vectorized path; agreement
    ~1e-13 relative, inside the e4 rounding granularity)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    ids_of = _independent_ids_of()
    tri: dict[tuple[int, int, int], int] = {}
    per_doc_ids = []
    for doc_id, t in docs:
        ids = ids_of(" " + (t or "").lower() + " ")
        per_doc_ids.append((doc_id, ids))
        for a, b, c in zip(ids, ids[1:], ids[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    logp = _independent_kn_fit(tri)

    def e4(x: float) -> int:
        # replica of Spark round(x*10000, 0) — see _pipeline_documents_oracle
        return int(
            Decimal(repr(x * 10000.0)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    rows = []
    for doc_id, ids in per_doc_ids:
        if len(ids) < 3:
            p = 1.0
        else:
            s = 0.0
            for a, b, c in zip(ids, ids[1:], ids[2:]):
                s += float(logp[a, b, c])
            p = math.exp(-s / (len(ids) - 2))
        rows.append(f"({doc_id}, {e4(p)})")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(ppl_e4 AS BIGINT) AS ppl_e4 FROM (VALUES "
        + ",".join(rows)
        + ") AS t(doc_id, ppl_e4) ORDER BY doc_id"
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, ORACLE-CHECKED against the exact
    explode+join jaccard SQL: on the fixture corpus the banded LSH
    candidate set provably covers every true pair and the in-bucket
    exact-jaccard verify makes the final output EQUAL the ground truth,
    so a broken signature/banding/verify stage breaks the hash match.
    (Round 1 left this `no_oracle`; VERDICT asked for a value check
    derived from the already-oracled exact path.)"""
    from pii_redaction_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return minhash_lsh_pairs(docs, jaccard_threshold=0.12).orderBy("id_a", "id_b")


def q_dup_components(spark, sf_dir):
    """Duplicate-cluster assignment: MinHash-LSH pairs -> alternating
    large-star/small-star connected components -> one representative
    per cluster (operators/components.py; corpus-level lift of the
    reference's processed-set collapse, redact.py:169-193). Oracle: a
    DuckDB recursive CTE propagates min-reachable-id over the SAME edge
    set (the exact-jaccard truth SQL, which the minhash_lsh query
    already proves equal to the Spark pair list), so component ids and
    representative flags must match exactly."""
    from pii_redaction_data_pipeline_spark.operators.components import (
        dedup_representatives,
    )
    from pii_redaction_data_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.12)
    return (
        dedup_representatives(docs, pairs)
        .select("doc_id", "component_id", "is_rep")
        .orderBy("doc_id")
    )


def q_simhash(spark, sf_dir):
    """SimHash banded near-dup RECALL, oracle-checked: the true near-dup
    pairs (exact ngram-jaccard, SQL-expressible) inner-joined against
    the simhash candidate pairs. Deterministic on the fixture corpus —
    the multi-table combination banding is RECALL-COMPLETE at the
    radius (every pair within max_hamming shares a clean block
    combination, operators/dedup.py simhash_sig_pairs), so the result
    equals the truth set; a broken signature or banding drops rows and
    fails the hash match. Precision (the JVM bit_count hamming verify)
    is pytest-pinned (tests/test_dedup.py)."""
    from pii_redaction_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    truth = ngram_jaccard_pairs(docs, threshold=0.12)
    cand = simhash_pairs(docs, max_hamming=8).select("id_a", "id_b")
    return (
        truth.join(cand, ["id_a", "id_b"])
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def q_ann_ivf(spark, sf_dir):
    """IVF (inverted-file) approximate NN, oracle-checked against the
    brute-force top-k SQL: spherical-k-means coarse quantizer, cell
    equi-join, exact cosine re-rank. nprobe=10 of 16 cells covers the
    exact top-3 on the fixture corpus, so the whole train/assign/join/
    re-rank path must reproduce the exact answer to hash-match."""
    from pii_redaction_data_pipeline_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return ivf_ann_topk(emb, probes, k=3, nprobe=10).orderBy("probe_id", "rank")


def q_dsir_select(spark, sf_dir):
    """DSIR importance-resampling data selection (Xie et al. 2023),
    ORACLE-CHECKED on the exact-gram truth path: target = the doc_id%5==1
    carve of the corpus (deterministic, like decontaminate's benchmark
    carve), features = word uni+bigrams, add-1 smoothing over the union
    vocabulary, per-doc weight = sum c_g * log(p_tgt/p_raw), top-60 by
    (weight desc, doc_id) selected. Spark reduces grams to xxhash64
    before any exchange (operators/dsir.py); the DuckDB oracle recomputes
    from the gram STRINGS — equality of weights (rounded to 4) and of
    the selected set is the no-collision witness. The bucketed broadcast
    scale path (n_buckets, zero vocabulary-sized joins) is pytest-pinned
    against this exact path in tests/test_dsir.py."""
    from pii_redaction_data_pipeline_spark.operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    target = docs.filter(F.col("doc_id") % 5 == 1).select("text")
    return (
        dsir_select(docs, target, k_top=60)
        .select("doc_id", "n_grams", "weight", "selected")
        .orderBy("doc_id")
    )


_DSIR_SQL = r"""
    WITH norm AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        FROM documents WHERE doc_id < 300),
    grams AS (
        SELECT doc_id, G.g FROM norm,
        LATERAL (SELECT unnest(
            w || CASE WHEN len(w) >= 2
                 THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                 ELSE CAST([] AS VARCHAR[]) END) AS g) AS G),
    tgt AS (SELECT g, count(*) AS ct FROM grams WHERE doc_id % 5 = 1 GROUP BY g),
    raw AS (SELECT g, count(*) AS cr FROM grams GROUP BY g),
    stats AS (
        SELECT coalesce(t.g, r.g) AS g,
               coalesce(t.ct, 0) AS ct, coalesce(r.cr, 0) AS cr
        FROM tgt t FULL JOIN raw r ON t.g = r.g),
    tot AS (SELECT sum(ct) AS tot_t, sum(cr) AS tot_r, count(*) AS vocab FROM stats),
    lr AS (SELECT g, ln((ct + 1.0) / (tot_t + vocab))
                    - ln((cr + 1.0) / (tot_r + vocab)) AS logr
           FROM stats, tot),
    docg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    wt AS (
        SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_grams,
               round(sum(d.c * l.logr), 4) AS weight
        FROM docg d JOIN lr l ON d.g = l.g GROUP BY d.doc_id),
    rk AS (SELECT *, row_number() OVER (ORDER BY weight DESC, doc_id) AS rn FROM wt)
    SELECT doc_id, n_grams, weight, rn <= 60 AS selected FROM rk ORDER BY doc_id
"""


def _junk_docs(n: int = 60) -> list[str]:
    """The canonical planted junk register (datagen.junk_register —
    shared with the pytest F1/gate evidence so the oracle's margin
    argument stays backed by it)."""
    from pii_redaction_data_pipeline_spark.datagen import junk_register

    return junk_register(n)


def q_llm_curation(spark, sf_dir):
    """The COMPOSED LLM-curation chain (round-4 VERDICT item 8):
    decontaminate -> DSIR selection -> learned quality-filter gate, as
    ONE query over the documents corpus — the sequence a real
    training-data user runs. Each stage passes alone (decontaminate /
    dsir_select driver oracles; the classifier's pytest F1); THIS entry
    value-checks their composition.

    Stage semantics (all parameters match the standalone oracles):
      1. decontaminate: drop every document sharing a word-8-gram with
         the benchmark carve (doc_id % 7 == 3) — GPT-3 appendix C.
      2. dsir_select over the survivors: target register = the
         doc_id % 5 == 1 carve of the corpus (an EXTERNAL register —
         independent of the decontamination, as a real curated target
         set would be), top-60 by importance weight (Xie et al. 2023).
      3. learned gate: a logistic filter trained in-query on (the
         300-doc corpus carve as the curated register) vs 60 planted
         consonant-soup junk documents (Brown et al. 2020 appendix A /
         CCNet). The selected docs UNION the junk probes (sentinel
         doc_ids >= 10^9) flow through score_quality; the gate keeps
         q_score > 0.5.

    Oracle story: stages 1-2 are replayed exactly in DuckDB from the
    gram STRINGS. The learned stage is not SQL-expressible, so the
    oracle instead encodes its PROVABLE fixture behavior: every
    selected document's grams were trained positive (the register IS
    the positive class) and every junk probe's grams negative with a
    vocabulary-disjoint junk lexicon — measured margins real >= 0.99 /
    junk <= 0.004, ~5 logits each side of the 0.5 gate, vs ~1e-6
    training jitter — so the gate keeps exactly the real selected docs
    and drops exactly the probes. The output left-joins DSIR's
    (n_grams, weight): a probe leaking through the gate surfaces as an
    extra NULL-weight row and a wrongly dropped document as a missing
    row — both break the hash match.

    Scale shape: the benchmark gram set and the k-th-weight threshold
    broadcast; the classifier is a broadcast coefficient vector applied
    by one vectorized pandas UDF; the decontaminate keep-set reaches
    DSIR's gram scans as a (broadcastable) semi-join, so the only
    corpus-wide exchanges are DSIR's own gram aggregations (plan-pinned
    by tests/test_plans.py::test_llm_curation_composition_plan)."""
    from pii_redaction_data_pipeline_spark.operators.quality_classifier import (
        score_quality,
        train_quality_classifier,
    )
    from pii_redaction_data_pipeline_spark.plans.select import (
        curate_training_corpus,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    bench = docs.filter(F.col("doc_id") % 7 == 3).select("text")
    target = docs.filter(F.col("doc_id") % 5 == 1).select("text")
    # stages 1-2 via the package composition (plans/select.py owns the
    # keep-list truncation + broadcast decisions; plan-pinned by
    # tests/test_plans.py::test_llm_curation_composition_plan)
    sel = curate_training_corpus(docs, bench, target, k_top=60)

    junk = _junk_docs()
    clf = train_quality_classifier(
        docs.select("text"),
        spark.createDataFrame([(t,) for t in junk], "text string"),
    )
    # the gate is applied OUTSIDE curate_training_corpus here so the
    # planted junk probes (sentinel ids, never in the corpus) can ride
    # through the same scoring pass and witness the gate in the oracle
    probes = spark.createDataFrame(
        [(1_000_000_000 + i, t) for i, t in enumerate(junk)],
        "doc_id long, text string",
    )
    cand = sel.select("doc_id", "text").unionByName(probes)
    kept = score_quality(cand, clf).filter(F.col("q_score") > 0.5)
    return (
        kept.select("doc_id")
        .join(sel.select("doc_id", "n_grams", "weight"), "doc_id", "left")
        .orderBy("doc_id")
    )


_LLM_CURATION_SQL = r"""
    WITH norm0 AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        FROM documents WHERE doc_id < 300),
    g8 AS (
        SELECT doc_id, G.g FROM norm0,
        LATERAL (SELECT DISTINCT unnest(
            CASE WHEN len(w) >= 8
                 THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
                 ELSE CAST([] AS VARCHAR[]) END) AS g) AS G),
    bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 7 = 3),
    contaminated AS (SELECT DISTINCT doc_id FROM g8 JOIN bench USING (g)),
    norm AS (SELECT * FROM norm0
             WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    grams AS (
        SELECT doc_id, G.g FROM norm,
        LATERAL (SELECT unnest(
            w || CASE WHEN len(w) >= 2
                 THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                 ELSE CAST([] AS VARCHAR[]) END) AS g) AS G),
    tnorm AS (SELECT * FROM norm0 WHERE doc_id % 5 = 1),
    tgrams AS (
        SELECT doc_id, G.g FROM tnorm,
        LATERAL (SELECT unnest(
            w || CASE WHEN len(w) >= 2
                 THEN [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]
                 ELSE CAST([] AS VARCHAR[]) END) AS g) AS G),
    tgt AS (SELECT g, count(*) AS ct FROM tgrams GROUP BY g),
    raw AS (SELECT g, count(*) AS cr FROM grams GROUP BY g),
    stats AS (
        SELECT coalesce(t.g, r.g) AS g,
               coalesce(t.ct, 0) AS ct, coalesce(r.cr, 0) AS cr
        FROM tgt t FULL JOIN raw r ON t.g = r.g),
    tot AS (SELECT sum(ct) AS tot_t, sum(cr) AS tot_r, count(*) AS vocab FROM stats),
    lr AS (SELECT g, ln((ct + 1.0) / (tot_t + vocab))
                    - ln((cr + 1.0) / (tot_r + vocab)) AS logr
           FROM stats, tot),
    docg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
    wt AS (
        SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_grams,
               round(sum(d.c * l.logr), 4) AS weight
        FROM docg d JOIN lr l ON d.g = l.g GROUP BY d.doc_id),
    rk AS (SELECT *, row_number() OVER (ORDER BY weight DESC, doc_id) AS rn FROM wt)
    SELECT doc_id, n_grams, weight FROM rk WHERE rn <= 60 ORDER BY doc_id
"""


def q_entities_extract(spark, sf_dir):
    """D2/D3 explicit entity extraction (functions/entities.py): the
    reference's Comprehend entity-list analog (redact.py:158-163),
    exploded to scalar rows. The oracle re-derives the same entities in
    DuckDB via progressive-mask regexp_extract_all with the identical
    RE2-safe patterns and precedence. CREDIT_CARD is excluded from this
    projection (its Luhn gate is not SQL-expressible; pinned by
    tests/test_entities.py instead); begin/end offsets likewise (no SQL
    offsets; pinned by the span-replay tests)."""
    from pii_redaction_data_pipeline_spark.functions.entities import (
        make_entities_udf,
    )

    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(_PLANT_B),
        (F.col("doc_id") % 250 + 1).cast("string"),
    )
    e = F.explode(make_entities_udf()(planted)).alias("e")
    return (
        docs.select("doc_id", e)
        .select(
            "doc_id",
            F.col("e.type").alias("ent_type"),
            F.col("e.text").alias("ent_text"),
        )
        .filter(F.col("ent_type") != "CREDIT_CARD")
        .orderBy("doc_id", "ent_type", "ent_text")
    )


def q_decontaminate(spark, sf_dir):
    """Train/test decontamination, oracle-checked: flag corpus documents
    sharing any word-8-gram with a 'benchmark' (deterministically carved
    from the corpus: doc_id % 7 == 3, so the planted contamination is
    exact — every benchmark member self-hits, plus any true 8-gram
    overlap). Spark hashes grams with xxhash64 (broadcast-set semi-join
    shape, operators/decontaminate.py); the DuckDB oracle compares the
    gram STRINGS — equality of the two is the no-collision witness.
    Reference analog: the resubmission-skip anti-check
    backend/src/lambda/textract-bulk.py:108-118, generalized to
    corpus-vs-benchmark anti-membership."""
    from pii_redaction_data_pipeline_spark.operators.decontaminate import (
        contamination_flags,
    )

    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    bench = corpus.filter(F.col("doc_id") % 7 == 3).select("text")
    return (
        contamination_flags(corpus, bench, k=8)
        .select("doc_id", "n_grams", "n_hits", "contaminated")
        .orderBy("doc_id")
    )


def q_transcripts_pipeline(spark, sf_dir):
    """Full pipeline on the deterministic synthetic transcript fixtures,
    ORACLE-CHECKED since round 2 against the fixture's golden labels
    rendered as a literal VALUES table: the labels are PLANTED by the
    generator (datagen.generate builds each turn from a category chosen
    up front — clean / PII-templated / short / repetition / tool-loop —
    and records the by-construction verdict), so they are independent of
    every pipeline function and hashing them is a true value check of
    langid+ppl+heuristics+scrub+windows end-to-end. scrubbed_text is
    compared via md5 so the oracle SQL needs no string escaping; raw-text
    equality stays pinned by tests/test_pipeline_golden.py."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.datagen import generate
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    tdf, _ = generate("tiny")
    df = spark.createDataFrame(tdf)
    ann = annotate(df, PipelineConfig(), spark)
    return ann.select(
        "conv_id", "turn_idx", "keep", _reasons_str(),
        F.md5("scrubbed_text").alias("scrub_md5"), _counts_str(),
    ).orderBy("conv_id", "turn_idx")


def _transcripts_pipeline_oracle() -> str:
    """Golden labels -> literal VALUES oracle (see q_transcripts_pipeline)."""
    import hashlib

    from pii_redaction_data_pipeline_spark.datagen import generate

    _, labels = generate("tiny")
    rows = []
    for r in labels.itertuples(index=False):
        md5 = (
            "NULL"
            if r.scrubbed_text is None
            else "'%s'" % hashlib.md5(r.scrubbed_text.encode()).hexdigest()
        )
        counts = (
            "NULL"
            if r.scrub_counts is None
            else "'%s'" % ",".join(f"{k}:{v}" for k, v in sorted(r.scrub_counts.items()))
        )
        rows.append(
            "('%s',%d,%s,'%s',%s,%s)"
            % (r.conv_id, r.turn_idx, str(bool(r.keep)).upper(),
               "|".join(r.drop_reasons), md5, counts)
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(conv_id, turn_idx, keep, drop_reasons, scrub_md5, scrub_counts)"
        " ORDER BY conv_id, turn_idx"
    )


def _tinydup_dir() -> str:
    """Committed fixture for conversation-level dedup + the composed
    curation DAG: datagen scale 'tinydup' (planted near-duplicate
    conversation clones). Regenerated deterministically if absent so
    both the Spark queries and the DuckDB oracles read the same bytes."""
    import os

    d = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures", "tinydup")
    if not (
        os.path.exists(os.path.join(d, "transcripts.parquet"))
        and os.path.exists(os.path.join(d, "expected_labels.parquet"))
    ):
        from pii_redaction_data_pipeline_spark.datagen import write_parquet

        write_parquet("tinydup", d)
    return d


# Exact conversation-level TURN-3-gram jaccard: fingerprint each turn
# (md5 of its text — any injective-enough per-turn digest yields the
# same SET CARDINALITIES as the engine's xxhash64 fingerprints, and
# jaccard only depends on cardinalities), order fingerprints by
# turn_idx, shingle every 3 consecutive fingerprints, then the same
# distinct-gram jaccard shape as _NGRAM_TRUTH_SQL. Ground truth for
# conv_neardup AND the dup edge set inside _curate_full_oracle. Turn
# granularity (not word-grams of the concatenated text) is the
# conversation identity the engine computes — see
# operators/dedup.py conversation_turn_shingles for why.
_CONV_GRAMS_SQL = r"""
    tfps AS (
        SELECT conv_id, turn_idx, md5(text) AS fp FROM {src}),
    tseq AS (
        SELECT conv_id, fp,
               lead(fp, 1) OVER w AS fp1, lead(fp, 2) OVER w AS fp2
        FROM tfps WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
    cgrams AS (
        SELECT DISTINCT conv_id, fp || '|' || fp1 || '|' || fp2 AS g
        FROM tseq WHERE fp2 IS NOT NULL
        UNION
        SELECT conv_id, string_agg(fp, '|' ORDER BY turn_idx) AS g
        FROM tfps GROUP BY conv_id HAVING count(*) < 3),
    csizes AS (SELECT conv_id, count(*) AS n_sh FROM cgrams GROUP BY conv_id),
    cpairs AS (
        SELECT x.conv_id AS conv_a, y.conv_id AS conv_b, count(*) AS inter
        FROM cgrams x JOIN cgrams y ON x.g = y.g AND x.conv_id < y.conv_id
        GROUP BY 1, 2),
    cjac AS (
        SELECT conv_a, conv_b, inter / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM cpairs
        JOIN csizes sa ON sa.conv_id = conv_a
        JOIN csizes sb ON sb.conv_id = conv_b)
"""


def _conv_neardup_oracle() -> str:
    src = f"read_parquet('{_tinydup_dir()}/transcripts.parquet')"
    return (
        "WITH " + _CONV_GRAMS_SQL.format(src=src)
        + """
        SELECT conv_a, conv_b, round(jaccard, 6) AS jaccard
        FROM cjac WHERE jaccard >= 0.6 ORDER BY conv_a, conv_b
        """
    )


def _curate_full_oracle() -> str:
    """Whole-DAG replay from the generator's planted labels: verdict
    rollup (SQL agg over planted keep), dup edges (exact conv-level
    jaccard on the transcripts), components (recursive CTE propagating
    min-reachable conv_id over strings), sample gate (sha256 prefix
    replay; threshold re-derived inline), and the packing placement
    window (sha256-digit bucket + cumsum) over the planted
    scrubbed_text."""
    d = _tinydup_dir()
    tr = f"read_parquet('{d}/transcripts.parquet')"
    labels = f"read_parquet('{d}/expected_labels.parquet')"
    thresh = format(int(0.85 * 16 ** 8), "08x")  # rate 0.85, 8 hex digits
    bucket_expr = (
        "((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096"
        " + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256"
        " + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16"
        " + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 8"
    )
    return (
        "WITH RECURSIVE labels AS ("
        f"    SELECT conv_id, turn_idx, keep, scrubbed_text FROM {labels}),\n"
        "verdict AS (\n"
        "    SELECT conv_id FROM labels GROUP BY conv_id\n"
        "    HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*) >= 0.5\n"
        "       AND sum(CASE WHEN keep THEN 1 ELSE 0 END) >= 1),\n"
        "kept_tr AS (\n"
        f"    SELECT t.conv_id, t.turn_idx, t.text FROM {tr} t\n"
        "    JOIN verdict v ON v.conv_id = t.conv_id),\n"
        + _CONV_GRAMS_SQL.format(src="kept_tr") + ",\n"
        "dup_edges AS (SELECT conv_a, conv_b FROM cjac WHERE jaccard >= 0.6),\n"
        "sym AS (SELECT conv_a AS s, conv_b AS d FROM dup_edges\n"
        "        UNION ALL SELECT conv_b, conv_a FROM dup_edges),\n"
        "walk(id, reach) AS (\n"
        "    SELECT s, s FROM sym\n"
        "    UNION\n"
        "    SELECT e.d, w.reach FROM walk w JOIN sym e ON e.s = w.id),\n"
        "comp AS (SELECT id, min(reach) AS rep FROM walk GROUP BY id),\n"
        "survivors AS (\n"
        "    SELECT v.conv_id FROM verdict v\n"
        "    WHERE NOT EXISTS (SELECT 1 FROM comp c\n"
        "                      WHERE c.id = v.conv_id AND c.id <> c.rep)),\n"
        "sampled AS (\n"
        "    SELECT conv_id FROM survivors\n"
        f"    WHERE substr(sha256(conv_id || chr(31) || '5'), 1, 8) < '{thresh}'),\n"
        "curated AS (\n"
        "    SELECT l.conv_id, l.turn_idx, l.scrubbed_text,\n"
        "           l.conv_id || chr(31) || lpad(CAST(l.turn_idx AS VARCHAR), 12, '0') AS pack_key\n"
        "    FROM labels l JOIN sampled s ON s.conv_id = l.conv_id WHERE l.keep),\n"
        "placed AS (\n"
        "    SELECT conv_id, turn_idx, pack_key,\n"
        f"           CAST({bucket_expr} AS BIGINT) AS bucket,\n"
        r"           CAST(len(regexp_extract_all(scrubbed_text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens"
        "\n    FROM (SELECT *, sha256(conv_id) AS h FROM curated)),\n"
        "cum AS (\n"
        "    SELECT *, CAST(sum(n_tokens + 1) OVER (\n"
        "        PARTITION BY bucket ORDER BY pack_key\n"
        "        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end\n"
        "    FROM placed)\n"
        "SELECT conv_id, turn_idx, bucket, n_tokens,\n"
        "       cum_end - n_tokens - 1 AS tok_start,\n"
        "       (cum_end - n_tokens - 1) // 256 AS seq_start,\n"
        "       (cum_end - 1) // 256 AS seq_end\n"
        "FROM cum ORDER BY conv_id, turn_idx"
    )


def q_conv_neardup(spark, sf_dir):
    """Conversation-level near-dup pairs (operators/dedup.py
    conversation_neardup_pairs): fingerprint each turn, shingle every 3
    consecutive fingerprints in stable (conv_id, turn_idx) order,
    banded MinHash-LSH over the shingle sets, exact jaccard verify via
    JVM array_intersect — zero Python UDFs, and the turn-granular
    identity stays discriminative on boilerplate-heavy corpora where
    word-gram similarity of concatenated text degenerates (see the
    operator docstring). ORACLE-CHECKED against the exact turn-3-gram
    jaccard re-derived in DuckDB from md5 turn digests (identical set
    cardinalities): the planted clone pairs sit at jaccard ~0.9 (clone
    = same turn stream minus the last 2 turns) while unrelated
    conversations share no 3 consecutive identical turns (jaccard 0),
    so the 0.6 threshold is recall-complete for the banded LSH
    (16 bands x 4 rows: miss probability < 1e-9 at j=0.9) and the
    output must EQUAL the truth set. The corpus analog of J2's
    batch-level dedup that the per-turn window cannot see (VERDICT
    round-2 item 5)."""
    from pii_redaction_data_pipeline_spark.operators.dedup import (
        conversation_neardup_pairs,
    )

    tr = spark.read.parquet(f"{_tinydup_dir()}/transcripts.parquet")
    return conversation_neardup_pairs(tr, jaccard_threshold=0.6).orderBy(
        "conv_a", "conv_b"
    )


def q_curate_full(spark, sf_dir):
    """The COMPOSED curation DAG as one declarative plan (VERDICT
    round-2 item 1): annotate -> conversation verdict -> conversation
    near-dup dedup (LSH pairs -> connected components -> min-conv_id
    representative) -> deterministic sha256-gate sample -> sequence-
    packing placement of the final curated turns. Every stage's
    independent oracle exists elsewhere; THIS query value-checks their
    composition end-to-end: the DuckDB side re-derives the whole chain
    from the generator's PLANTED labels (keep/scrubbed_text are
    by-construction ground truth, independent of every pipeline
    function), the exact-jaccard truth edges, a recursive-CTE component
    labeling over conv_id strings, the sha256 sample gate, and the
    placement window math. One wrong verdict, one missed dup pair, one
    mis-sampled conversation, or one off-by-one token offset anywhere
    in the five stages breaks the hash match. plans/curate.py
    run_curation materializes the same chain with stage-boundary
    lineage/resume (pytest: tests/test_curate.py)."""
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.operators.packing import (
        with_pack_placement,
    )
    from pii_redaction_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
    )
    from pii_redaction_data_pipeline_spark.operators.windows import (
        conversation_verdict,
    )
    from pii_redaction_data_pipeline_spark.plans.curate import dedup_survivor_convs
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    tr = spark.read.parquet(f"{_tinydup_dir()}/transcripts.parquet")
    ann = annotate(tr, PipelineConfig(), spark)
    kept = conversation_verdict(ann, min_kept_frac=0.5).filter("conv_keep")
    surv = dedup_survivor_convs(tr, kept, jaccard_threshold=0.6)
    sampled = deterministic_sample(surv, 0.85, ["conv_id"], seed=5)
    curated = (
        ann.filter("keep")
        .join(sampled, "conv_id", "semi")
        .withColumn(
            "pack_key",
            # \x1f sort key + conv_id bucketing: see plans/curate.py
            # stage 5 (contiguous conversations, prefix-free key order)
            F.concat_ws(
                "\x1f", "conv_id", F.format_string("%012d", F.col("turn_idx"))
            ),
        )
    )
    placed = with_pack_placement(
        curated, seq_tokens=256, n_buckets=8,
        id_col="pack_key", text_col="scrubbed_text", bucket_key="conv_id",
    )
    return placed.select(
        "conv_id",
        "turn_idx",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.col("seq_start").cast("long").alias("seq_start"),
        F.col("seq_end").cast("long").alias("seq_end"),
    ).orderBy("conv_id", "turn_idx")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver contract: 50 entries, one per row of the driver's
    50-row correctness harness, and each with an `oracle_sql()` entry
    (DuckDB over the same parquet tables, compared on sorted values).
    Dict order is the harness order, so an entry past the 50th would get
    no row; tests/test_driver_registry.py pins the count and the key
    match."""
    return {
        # relational operator inventory
        "s2_prefix_scan": q_s2_prefix_scan,
        "p4_time_range": q_p4_time_range,
        "p5_point_lookup": q_p5_point_lookup,
        "j1_artifact_join": q_j1_artifact_join,
        "j2_anti_resume": q_j2_anti_resume,
        "join_3way": q_join_3way,
        "a2_manifest_counts": q_a2_manifest_counts,
        "tpch_q1": q_tpch_q1,
        "stratified_sample": q_stratified_sample,
        "w1_first_per_group": q_w1_first_per_group,
        "w2_topn_orders": q_w2_topn_orders,
        "w3_running_sum": q_w3_running_sum,
        "sessionize": q_sessionize,
        "dedup_consecutive": q_dedup_consecutive,
        "set_union": q_set_union,
        "first_match": q_first_match,
        "p1_type_gate": q_p1_type_gate,
        # text / training-data ops
        "scrub_sql": q_scrub_sql,
        "quality_heuristics": q_quality_heuristics,
        "s3_partition_listing": q_s3_partition_listing,
        "a3_entity_counts": q_a3_entity_counts,
        "token_count": q_token_count,
        "dedup_exact_groups": q_dedup_exact_groups,
        # CCNet-style corpus-level boilerplate-line removal
        "line_dedup": q_line_dedup,
        "langid_stopwords": q_langid_stopwords,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "multimodal_meta": q_multimodal_meta,
        # conversation-level near-dup dedup (planted-clone fixture)
        "conv_neardup": q_conv_neardup,
        "j3_theta_contains": q_j3_theta_contains,
        "a1_status_map": q_a1_status_map,
        "cube_matrix": q_cube_matrix,
        "scalar_funcs": q_scalar_funcs,
        "pack_placement": q_pack_placement,
        "json_props": q_json_props,
        # sketch / ANN family (oracle-checked against their exact paths)
        "minhash_lsh": q_minhash_lsh,
        "dup_components": q_dup_components,
        # composed SemDeDup chain (embed pairs -> components -> reps)
        "semdedup": q_semdedup,
        "ann_ivf": q_ann_ivf,
        # explicit PII entity extraction (progressive-mask SQL replay)
        "entities_extract": q_entities_extract,
        # train/test decontamination (benchmark 8-gram anti-membership)
        "decontaminate": q_decontaminate,
        # the composed five-stage curation DAG (whole-chain oracle)
        "curate_full": q_curate_full,
        # greedy segmentation/packing (recursive-CTE oracle)
        "segment_pack": q_segment_pack,
        # DSIR importance-resampling selection (exact-gram truth path)
        "dsir_select": q_dsir_select,
        # the full UDF pipelines: langid/KN-ppl/Luhn are not
        # SQL-expressible, so their oracles are VALUES tables (an
        # independent scalar re-derivation; the planted labels)
        "pipeline_documents": q_pipeline_documents,
        "transcripts_pipeline": q_transcripts_pipeline,
        # corpus-trained KN perplexity (distributed trigram counting ->
        # broadcast fit; independent scalar-rederivation oracle)
        "ppl_trained": q_ppl_trained,
        # span-level exact dedup (Lee'22), simhash banding recall
        # (truth-containment), and the composed curation chain
        "repeated_span": q_repeated_span,
        "simhash": q_simhash,
        "llm_curation": q_llm_curation,
    }


# repeated-span dedup re-derived hash-free: coverage from the gram
# STRINGS via a per-token index union, rebuild via list comprehension
_REPEATED_SPAN_SQL = r"""
        WITH words AS (
            -- coalesce(NULL, '') mirrors the operator's NULL contract:
            -- a NULL-text doc yields ('', 1, 1), never a vanished row
            SELECT doc_id, coalesce(text, '') AS text,
                   regexp_split_to_array(coalesce(text, ''), '\s+') AS w
            FROM documents),
        grams AS (
            SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS g
            FROM words, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
            WHERE len(w) >= 8),
        boiler AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2),
        cover AS (
            SELECT doc_id, list(ci) AS cov FROM (
                SELECT DISTINCT x.doc_id, x.pos + j.j AS ci
                FROM grams x JOIN boiler b USING (g),
                LATERAL (SELECT unnest(range(0, 8)) AS j) j)
            GROUP BY doc_id)
        SELECT w.doc_id,
            CASE WHEN c.cov IS NULL THEN w.text  -- untouched: byte-identical
                 ELSE coalesce(array_to_string(
                    [w.w[i] FOR i IN range(1, len(w.w) + 1)
                     IF NOT list_contains(c.cov, i - 1)],
                    ' '), '') END AS text_clean,
            len(w.w)::BIGINT AS n_tokens,
            (len(w.w) - coalesce(len(c.cov), 0))::BIGINT AS n_kept
        FROM words w LEFT JOIN cover c USING (doc_id)
        ORDER BY doc_id
    """


# Exact word-3-gram jaccard pairs (doc_id < 200). The empty gram (an
# empty or whitespace-only document) pairs only where the operator under
# test pairs it: ngram_jaccard_pairs excludes it from pair generation,
# so ngram_jaccard and simhash (whose truth side is that operator) use
# _NGRAM_TRUTH_SQL; minhash_lsh_pairs pairs two empty documents
# (identical sentinel signatures, jaccard 1.0), so minhash_lsh and
# dup_components (built on its pairs) use _MINHASH_TRUTH_SQL.
_NGRAM_PAIRS_SQL = r"""
    WITH norm AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        FROM documents WHERE doc_id < 200),
    grams AS (
        SELECT doc_id, DISTINCT_G.g FROM norm,
        LATERAL (SELECT DISTINCT unnest(
            CASE WHEN len(w) >= 3
                 THEN [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
                 ELSE [array_to_string(w, ' ')] END) AS g) AS DISTINCT_G),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
    pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
            __EMPTY_GRAM__
        GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.12
    ORDER BY id_a, id_b
"""
_NGRAM_TRUTH_SQL = _NGRAM_PAIRS_SQL.replace("__EMPTY_GRAM__", "AND x.g <> ''")
_MINHASH_TRUTH_SQL = _NGRAM_PAIRS_SQL.replace("__EMPTY_GRAM__", "")

# Duplicate clusters over the minhash_lsh truth edges: a recursive CTE
# propagates min-reachable-id (UNION dedups, so it converges), giving
# the independent oracle for the Spark large-star/small-star algorithm.
_COMPONENTS_SQL = f"""
    WITH RECURSIVE
    truth AS ({_MINHASH_TRUTH_SQL}),
    edges AS (SELECT id_a AS s, id_b AS d FROM truth
              UNION ALL SELECT id_b, id_a FROM truth),
    walk(id, reach) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, w.reach FROM walk w JOIN edges e ON e.s = w.id),
    comp AS (SELECT id, min(reach) AS component_id FROM walk GROUP BY id)
    SELECT d.doc_id,
           CAST(coalesce(c.component_id, d.doc_id) AS BIGINT) AS component_id,
           (coalesce(c.component_id, d.doc_id) = d.doc_id) AS is_rep
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    WHERE d.doc_id < 200
    ORDER BY d.doc_id
"""

# Composed SemDeDup oracle: exact-cosine edges -> recursive
# min-reachable-id components -> min-id representative per cluster.
_SEMDEDUP_SQL = """
    WITH RECURSIVE
    truth AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 400 AND b.vec_id < 400
          AND round(list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])), 4) >= 0.35),
    edges AS (SELECT id_a AS s, id_b AS d FROM truth
              UNION ALL SELECT id_b, id_a FROM truth),
    walk(id, reach) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, w.reach FROM walk w JOIN edges e ON e.s = w.id),
    comp AS (SELECT id, min(reach) AS component_id FROM walk GROUP BY id)
    SELECT e.vec_id,
           CAST(coalesce(c.component_id, e.vec_id) AS BIGINT) AS component_id,
           (coalesce(c.component_id, e.vec_id) = e.vec_id) AS is_rep
    FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
    WHERE e.vec_id < 400
    ORDER BY e.vec_id
"""

# Exact brute-force cosine top-3 for probes vec_id < 5 — shared by
# cosine_topk AND ann_ivf, whose fixture-scale candidate sets provably
# cover the exact top-k.
_COSINE_TOPK_SQL = """
    SELECT probe_id, rank, nbr_id, sim FROM (
        SELECT p.vec_id AS probe_id, n.vec_id AS nbr_id,
               round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])), 4) AS sim,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])), 4) DESC,
                            n.vec_id) AS rank
        FROM embeddings p JOIN embeddings n ON p.vec_id <> n.vec_id
        WHERE p.vec_id < 5) t
    WHERE rank <= 3 ORDER BY probe_id, rank
"""


def _entities_oracle_sql() -> str:
    """DuckDB re-derivation of q_entities_extract: the same RE2-safe
    patterns applied in the scrubber's precedence order to progressively
    masked text (a later type can never match inside an earlier type's
    mask), one UNION ALL arm per entity type. The CC/Luhn stage is
    intentionally absent — mirrored by the Spark side's type filter (a
    Luhn gate is not SQL-expressible; phone matches cannot occur inside
    an unmasked 4-4-4-4 card span, so skipping the CC mask is safe)."""
    from pii_redaction_data_pipeline_spark.functions.scrub import (
        EMAIL_RE,
        IPV4_RE,
        IPV6_RE,
        PHONE_RE,
        PROFANITY_RE,
        SSN_RE,
    )

    plant = f"text || '{_PLANT_B}' || CAST(doc_id % 250 + 1 AS VARCHAR)"
    return f"""
        WITH s0 AS (SELECT doc_id, {plant} AS t0 FROM documents),
        s1 AS (SELECT doc_id, t0, regexp_replace(t0, '{EMAIL_RE}', '[REDACTED EMAIL]', 'g') AS t1 FROM s0),
        s2 AS (SELECT doc_id, t1, regexp_replace(t1, '{IPV6_RE}', '[REDACTED IP]', 'g') AS t2 FROM s1),
        s3 AS (SELECT doc_id, t2, regexp_replace(t2, '{IPV4_RE}', '[REDACTED IP]', 'g') AS t3 FROM s2),
        s4 AS (SELECT doc_id, t3, regexp_replace(t3, '{SSN_RE}', '[REDACTED SSN]', 'g') AS t4 FROM s3),
        s5 AS (SELECT doc_id, t4, regexp_replace(t4, '{PHONE_RE}', '[REDACTED PHONE]', 'g') AS t5 FROM s4)
        SELECT doc_id, ent_type, ent_text FROM (
            SELECT doc_id, 'EMAIL' AS ent_type, unnest(regexp_extract_all(t0, '{EMAIL_RE}')) AS ent_text FROM s1
            UNION ALL SELECT doc_id, 'IP', unnest(regexp_extract_all(t1, '{IPV6_RE}')) FROM s2
            UNION ALL SELECT doc_id, 'IP', unnest(regexp_extract_all(t2, '{IPV4_RE}')) FROM s3
            UNION ALL SELECT doc_id, 'SSN', unnest(regexp_extract_all(t3, '{SSN_RE}')) FROM s4
            UNION ALL SELECT doc_id, 'PHONE', unnest(regexp_extract_all(t4, '{PHONE_RE}')) FROM s5
            UNION ALL SELECT doc_id, 'PROFANITY', unnest(regexp_extract_all(t5, '{PROFANITY_RE}')) FROM s5
        ) ORDER BY doc_id, ent_type, ent_text
    """


def oracle_sql() -> dict[str, str]:
    out = {
        "dsir_select": _DSIR_SQL,
        "transcripts_pipeline": _transcripts_pipeline_oracle(),
    }
    # These four oracles read the sf0.01 corpus / the tinydup fixture to
    # derive their VALUES tables. Only a MISSING corpus may degrade them
    # to the driver's rows-only check (a raised exception here would
    # void EVERY query's correctness row) — any other error is a bug in
    # the oracle derivation itself and must surface loudly, not silently
    # weaken the harness's four strongest whole-pipeline value checks
    # (round-5 review finding: the old blanket `except Exception: pass`
    # would swallow e.g. a KeyError from a taxonomy refactor).
    import duckdb as _duckdb

    def _fixture_oracle(name, fn):
        try:
            out[name] = fn()
        except (FileNotFoundError, OSError, _duckdb.IOException) as e:
            import sys

            print(
                f"oracle {name} degraded to rows-only (fixture absent: {e})",
                file=sys.stderr,
            )

    _fixture_oracle("pipeline_documents", _pipeline_documents_oracle)
    _fixture_oracle("ppl_trained", _ppl_trained_oracle)
    _fixture_oracle("conv_neardup", _conv_neardup_oracle)
    _fixture_oracle("curate_full", _curate_full_oracle)
    out.update({
        "s2_prefix_scan": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE source IN ('src1','src2','src3')
              AND text LIKE '%table%' AND text NOT LIKE '%vector%'
            ORDER BY doc_id
        """,
        "p4_time_range": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts <  TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY event_type ORDER BY event_type
        """,
        "p5_point_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey = 7
        """,
        "j1_artifact_join": """
            SELECT label, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents JOIN embeddings ON doc_id = vec_id
            GROUP BY label ORDER BY label
        """,
        "j2_anti_resume": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey
        """,
        "join_3way": """
            SELECT n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "a2_manifest_counts": """
            SELECT o_orderpriority, count(*) AS input_count,
                   CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS successful_count,
                   CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS unprocessed_count
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        # CCNet-style line dedup: the oracle re-derives the 8-word
        # chunking with list slicing, the boilerplate set by grouping on
        # the raw line text (the Spark side's xxhash64 is an identity
        # optimization, not a semantic), and the rebuild with an
        # order-preserving string_agg
        "line_dedup": """
            WITH w AS (SELECT doc_id,
                              str_split(coalesce(text, ''), ' ') AS ws
                       FROM documents),
            lines AS (
                SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS ln,
                       array_to_string(ws[i:i+7], ' ') AS line
                FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1, 8)) AS i) t
            ),
            boiler AS (
                SELECT line FROM lines WHERE length(line) >= 1
                GROUP BY line HAVING count(DISTINCT doc_id) >= 2
            ),
            k AS (
                SELECT l.doc_id, l.ln, l.line, (b.line IS NOT NULL) AS is_b
                FROM lines l LEFT JOIN boiler b USING (line)
            )
            SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY ln)
                            FILTER (WHERE NOT is_b), '') AS text_clean,
                   count(*) AS n_lines,
                   count(*) FILTER (WHERE NOT is_b) AS n_kept
            FROM k GROUP BY doc_id ORDER BY doc_id
        """,
        # deterministic stratified sampling: the DuckDB side re-derives
        # the keep set from the spec alone (sha256 prefix gate), so any
        # drift in the Spark gate's hashing/packing breaks the match
        "stratified_sample": """
            SELECT doc_id, lang,
                   substr(sha256(concat_ws(chr(31), CAST(doc_id AS VARCHAR), '11')), 1, 8) AS bucket
            FROM documents
            WHERE substr(sha256(concat_ws(chr(31), CAST(doc_id AS VARCHAR), '11')), 1, 8)
                  < CASE lang WHEN 'en' THEN 'gggggggg'
                              WHEN 'de' THEN '4ccccccc'
                              ELSE '19999999' END
            ORDER BY doc_id
        """,
        "w1_first_per_group": """
            SELECT user_id, rn, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events) t
            WHERE rn <= 3 AND user_id < 30 ORDER BY user_id, rn
        """,
        "w2_topn_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY orders.o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "w3_running_sum": """
            SELECT user_id, rn, event_id, running_value FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
                FROM events) t
            WHERE rn <= 5 AND user_id < 12 ORDER BY user_id, rn
        """,
        "sessionize": """
            SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
                SELECT user_id,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
                FROM (
                    SELECT user_id, ts, event_id,
                           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
                                THEN 1 ELSE 0 END AS new_sess
                    FROM events) x ) y
            GROUP BY user_id ORDER BY user_id
        """,
        "dedup_consecutive": """
            SELECT event_type, count(*) AS n_after_dedup FROM (
                SELECT event_type,
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events) t
            WHERE prev IS NULL OR prev <> event_type
            GROUP BY event_type ORDER BY event_type
        """,
        "set_union": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL SELECT s_nationkey FROM supplier) t
            ORDER BY nationkey
        """,
        "first_match": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
                FROM orders) t
            WHERE rn = 1 AND o_custkey < 25 ORDER BY o_custkey
        """,
        "scrub_sql": f"""
            SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      text || '{_PLANT_B}' || CAST(doc_id % 250 + 1 AS VARCHAR),
                      '{_EMAIL}', '[REDACTED EMAIL]', 'g'),
                    '{_IPV4}', '[REDACTED IP]', 'g'),
                  '{_SSN}', '[REDACTED SSN]', 'g'),
                '{_PHONE}', '[REDACTED PHONE]', 'g') AS scrubbed
            FROM documents ORDER BY doc_id
        """,
        "quality_heuristics": r"""
            SELECT doc_id,
                   length(text) AS n_chars_actual,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
                   round( (length(regexp_replace(text, '\s', '', 'g'))
                          - length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')))
                          / greatest(length(regexp_replace(text, '\s', '', 'g')), 1), 6) AS symbol_ratio,
                   length(text) < 100 AS too_short,
                   length(text) > 350 AS too_long,
                   round(greatest(1.0 - (
                       (CASE WHEN length(text) < 10 THEN 1.0
                             WHEN length(text) > 8000 THEN 0.5 ELSE 0.0 END)
                       + (CASE WHEN len(regexp_extract_all(text, '\S+')) < 3
                               THEN 1.0 ELSE 0.0 END)
                       + least(((length(regexp_replace(text, '\s', '', 'g'))
                                 - length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')))
                                / greatest(length(regexp_replace(text, '\s', '', 'g')), 1)) * 2.0,
                               1.0)
                       + 0.0) / 4.0, 0.0), 6) AS quality
            FROM documents ORDER BY doc_id
        """,
        "s3_partition_listing": """
            SELECT source, count(*) AS n_objects,
                   CAST(sum(n_chars) AS BIGINT) AS total_bytes
            FROM documents GROUP BY source ORDER BY source
        """,
        "p1_type_gate": """
            SELECT lang, source, count(*) AS n_docs FROM documents
            WHERE lower(lang) IN ('en','fr','de')
            GROUP BY lang, source ORDER BY lang, source
        """,
        "a3_entity_counts": """
            SELECT doc_id,
                   len(regexp_extract_all(text || '__PLANT_A__',
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(text || '__PLANT_A__',
                       '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS n_ssn,
                   len(regexp_extract_all(text || '__PLANT_A__',
                       '\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b')) AS n_phone
            FROM documents ORDER BY doc_id
        """,
        "token_count": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
            FROM documents ORDER BY doc_id
        """,
        "dedup_exact_groups": """
            SELECT k, count(*) AS n_docs, min(doc_id) AS keeper_id FROM (
                SELECT substr(lower(trim(text)), 1, 48) AS k, doc_id FROM documents) t
            GROUP BY k HAVING count(*) > 1 ORDER BY keeper_id
        """,
        "langid_stopwords": r"""
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), '\b(?:the|and|is|of|to)\b')) AS en_hits,
                   len(regexp_extract_all(lower(text), '\b(?:el|los|es|que|una)\b')) AS es_hits,
                   len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b')) AS de_hits,
                   CASE WHEN len(regexp_extract_all(lower(text), '\b(?:the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(?:el|los|es|que|una)\b'))
                         AND len(regexp_extract_all(lower(text), '\b(?:the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b'))
                        THEN 'en'
                        WHEN len(regexp_extract_all(lower(text), '\b(?:el|los|es|que|una)\b')) >= len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist)\b'))
                        THEN 'es' ELSE 'de' END AS pred_lang
            FROM documents ORDER BY doc_id
        """,
        "ngram_jaccard": _NGRAM_TRUTH_SQL,
        "minhash_lsh": _MINHASH_TRUTH_SQL,
        "dup_components": _COMPONENTS_SQL,
        "cosine_topk": _COSINE_TOPK_SQL,
        "semdedup": _SEMDEDUP_SQL,
        "ann_ivf": _COSINE_TOPK_SQL,
        "entities_extract": _entities_oracle_sql(),
        # decontaminate: Spark joins on xxhash64(gram); the oracle joins
        # on the gram STRING itself, so a hash collision (or any gram
        # construction drift) breaks the hash match
        "decontaminate": r"""
            WITH norm AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
                FROM documents WHERE doc_id < 200),
            grams AS (
                SELECT doc_id, G.g FROM norm,
                LATERAL (SELECT DISTINCT unnest(
                    CASE WHEN len(w) >= 8
                         THEN [array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]
                         ELSE CAST([] AS VARCHAR[]) END) AS g) AS G),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 3),
            agg AS (
                SELECT gr.doc_id,
                       count(*) AS n_grams,
                       count(b.g) AS n_hits
                FROM grams gr LEFT JOIN bench b ON gr.g = b.g
                GROUP BY gr.doc_id)
            SELECT n.doc_id,
                   CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(a.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(a.n_hits, 0) > 0 AS contaminated
            FROM norm n LEFT JOIN agg a ON a.doc_id = n.doc_id
            ORDER BY n.doc_id
        """,
        # greedy sentence packing, replayed exactly in SQL: sentinel
        # insertion emulates the lookbehind boundary regex, a range
        # explode does the fixed-width hard-break, and a recursive CTE
        # does the flush-on-overflow fold (trailing segment always
        # emitted -> flushed + 1)
        "segment_pack": r"""
            WITH RECURSIVE
            base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
            marked AS (
                SELECT doc_id,
                       regexp_replace(text, '([.!?]\s+|\n{2,})', '\1' || chr(1), 'g') AS m
                FROM base),
            pieces AS (SELECT doc_id, string_split(m, chr(1)) AS ps FROM marked),
            rawsent AS (
                SELECT doc_id, ps[i] AS piece, i
                FROM pieces, LATERAL unnest(range(1, len(ps) + 1)) AS t(i)
                WHERE NOT (i = len(ps) AND ps[i] = '')),
            chunks AS (
                SELECT doc_id, i AS sent_i, c AS chunk_i,
                       least(120, length(piece) - (c - 1) * 120) AS slen
                FROM rawsent,
                     LATERAL unnest(range(1, CAST(ceil(length(piece) / 120.0) AS BIGINT) + 1)) AS t(c)),
            ordered AS (
                SELECT doc_id, slen,
                       row_number() OVER (PARTITION BY doc_id ORDER BY sent_i, chunk_i) AS i
                FROM chunks),
            nsent AS (SELECT doc_id, count(*) AS n FROM ordered GROUP BY doc_id),
            fold AS (
                SELECT doc_id, 0 AS i, 0 AS cur, 0 AS flushed FROM base
                UNION ALL
                SELECT f.doc_id, f.i + 1,
                       CASE WHEN f.cur + o.slen > 120 THEN o.slen ELSE f.cur + o.slen END,
                       f.flushed + CASE WHEN f.cur + o.slen > 120 THEN 1 ELSE 0 END
                FROM fold f JOIN ordered o ON o.doc_id = f.doc_id AND o.i = f.i + 1),
            final AS (
                SELECT f.doc_id AS doc_id, f.flushed + 1 AS n_segments
                FROM fold f JOIN nsent s ON s.doc_id = f.doc_id AND f.i = s.n)
            SELECT b.doc_id AS doc_id,
                   CAST(coalesce(fi.n_segments, 1) AS BIGINT) AS n_segments,
                   CAST(length(b.text) AS BIGINT) AS total_chars
            FROM base b LEFT JOIN final fi ON fi.doc_id = b.doc_id
            ORDER BY doc_id
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS digest
            FROM documents ORDER BY doc_id
        """,
        "j3_theta_contains": """
            SELECT needle, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents, (VALUES ('table'), ('vector'), ('data')) t(needle)
            WHERE instr(lower(text), needle) > 0
            GROUP BY needle ORDER BY needle
        """,
        "a1_status_map": """
            SELECT o_orderpriority,
                   string_agg(o_orderstatus || ':' || n, ',' ORDER BY o_orderstatus)
                       AS status_map
            FROM (SELECT o_orderpriority, o_orderstatus, count(*) AS n
                  FROM orders GROUP BY 1, 2) t
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "cube_matrix": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(qday, -1) AS qday,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM (SELECT event_type,
                         CAST(floor(extract(hour FROM ts) / 6) AS BIGINT) AS qday,
                         value
                  FROM events) t
            GROUP BY CUBE (event_type, qday)
            ORDER BY 1, 2
        """,
        "scalar_funcs": """
            SELECT doc_id,
                   printf('input/%s/%d.txt', source, doc_id) AS path,
                   split_part(printf('input/%s/%d.txt', source, doc_id), '/', 3)
                       AS basename,
                   split_part(split_part(printf('input/%s/%d.txt', source, doc_id),
                       '/', 3), '.', 1) AS stem,
                   regexp_replace(printf('input/%s/%d.txt', source, doc_id),
                       '\\.txt$', '') AS no_ext,
                   lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded,
                   substr(upper(source), 1, 3) AS src3,
                   round(n_chars / 347.0 * 100, 2) AS pct,
                   replace(replace('input%2F' || source || '%2F' ||
                       CAST(doc_id AS VARCHAR) || '+doc.txt', '%2F', '/'),
                       '+', ' ') AS decoded_key
            FROM documents WHERE doc_id < 500 ORDER BY doc_id
        """,
        # sequence-packing placement: bucket via the portable sha256
        # digit hash, token counts via the shared BPE regex, offsets via
        # a window cumsum — the whole concat-and-chunk layout re-derived
        # independently in SQL
        "pack_placement": r"""
            WITH placed AS (
                SELECT doc_id,
                       ((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
                      + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
                      + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
                      + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)
                       ) % 16 AS bucket,
                       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens
                FROM (SELECT doc_id, text, sha256(CAST(doc_id AS VARCHAR)) AS h
                      FROM documents)),
            cum AS (
                SELECT doc_id, bucket, n_tokens,
                       CAST(sum(n_tokens + 1) OVER (
                           PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
                FROM placed)
            SELECT doc_id, bucket, n_tokens,
                   cum_end - n_tokens - 1 AS tok_start,
                   (cum_end - n_tokens - 1) // 512 AS seq_start,
                   (cum_end - 1) // 512 AS seq_end
            FROM cum ORDER BY doc_id
        """,
        "json_props": """
            SELECT event_id, event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
            ORDER BY event_id
        """,
        "repeated_span": _REPEATED_SPAN_SQL,
        "simhash": _NGRAM_TRUTH_SQL,
        "llm_curation": _LLM_CURATION_SQL,
    })
    # the planted-PII literal is interpolated from the SAME constant the
    # Spark queries append (placeholder avoids f-stringifying SQL full
    # of regex braces); editing one side can no longer silently flip the
    # a3 value check into a guaranteed mismatch
    return {k: v.replace("__PLANT_A__", _PLANT_A) for k, v in out.items()}
