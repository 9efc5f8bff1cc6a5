"""Connected-components duplicate clustering — the step AFTER pair
generation in corpus-level dedup.

MinHash-LSH / SimHash (operators/dedup.py) emit near-duplicate PAIRS;
a curation pipeline must then group pairs into CLUSTERS and keep one
representative per cluster (dropping a doc once per pair would drop
both sides of every dup edge).  The reference's analog is the
processed_boxes set that collapses repeated detections into one action
(reference backend/src/lambda/redact.py:169-193) — here lifted to the
corpus level as a graph problem.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), expressed
entirely in DataFrame ops:

  large-star  every node points its LARGER neighbors at the minimum
              of its neighborhood (including itself);
  small-star  every node points its not-larger neighbors at that
              minimum.

Each round is a groupBy + join (two shuffles on the node id); the edge
set converges to a star forest — each node linked directly to its
component's minimum id — in O(log^2 n) rounds (observed: 2-4 rounds on
dup graphs, whose clusters are near-cliques with tiny diameter).  This
beats naive label propagation (O(diameter) rounds) on pathological
chain graphs and never materializes a component in one task, so a
100 TB edge set with a billion-node component still partitions evenly.

Driver-side work per round is a single `count()` (the convergence
check); `localCheckpoint` truncates the lineage so round k's plan does
not replay rounds 1..k-1. Every step orders ids with least/greatest/min,
so any orderable id type works as is: the labels keep the input's type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.sources.tables import local_frame


def _require_same_id_type(a: DataFrame, col_a: str, b: DataFrame, col_b: str) -> None:
    """Raise on id columns of different types. The labels keep the
    input's type and order (string ids compare as strings), so two
    columns that disagree have no common minimum to label with."""
    ta, tb = a.schema[col_a].dataType, b.schema[col_b].dataType
    if ta != tb:
        raise ValueError(
            f"id columns must share one type; got {col_a} "
            f"{ta.simpleString()} and {col_b} {tb.simpleString()}"
        )


def _both_ways(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """(u, v) -> every edge in both orientations, from ONE read of
    `edges` (a union of the two orientations would run its plan twice)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(u).alias("u"), F.col(v).alias("v")),
                F.struct(F.col(v).alias("u"), F.col(u).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) symmetric edge set -> for each u, link every neighbor v>u
    to m = min(N(u) ∪ {u})."""
    m = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        edges.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge large->small, then link each node's not-larger
    neighbors (and itself) to the minimum of that set."""
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    return (
        e.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m.select("u", "m"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_components(spark, edges_pdf, id_type: str):
    """Union-find on a collected edge frame — the small-graph fast path.

    Takes a two-column pandas frame (u, v) from toPandas(): Arrow ships
    the edges as two columns instead of per-edge Python Row objects
    (~100+ B each at the 1M-edge threshold). Python's min over str is
    code-point order, which is Spark's UTF-8 byte order, so both paths
    pick the same minimum for string ids too."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges_pdf["u"].tolist(), edges_pdf["v"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(n, find(n)) for n in parent]
    return local_frame(spark, rows, f"id {id_type}, component_id {id_type}")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Components of the undirected graph given as a pair list.

    Returns (id, component_id) for every node that appears in `pairs`,
    where component_id is the minimum node id in the component, in the
    ids' own type and order: string ids (conversation ids, UUIDs) label
    with their string minimum. `src` and `dst` of different types raise
    ValueError. Isolated docs (no pair) are absent — callers left-join
    and coalesce to the doc's own id (see `dedup_representatives`).

    Adaptive strategy, same shape as Catalyst's broadcast-join choice:
    an edge set at or below `small_graph_threshold` (≤ ~16 MB of long
    ids collected — near-dup pair lists are tiny relative to their
    corpus) is solved driver-side with union-find in one collect; larger graphs run the
    distributed alternating-star rounds. Both paths produce identical
    labels (pinned by tests). Pass small_graph_threshold=0 to force the
    distributed path.

    `max_iter` bounds the distributed rounds; the alternation converges
    in O(log^2 n), and hitting the bound raises rather than returning a
    half-contracted graph.

    checkpoint_dir: each round's lineage truncation uses executor-local
    localCheckpoint by default — lose an executor mid-round on a real
    cluster and the truncated frame is unrecoverable. A durable run
    passes a shared-storage directory: round frames spill to parquet
    there instead (one write+read of the contracting edge set per
    round), so the star rounds survive executor loss — the same
    contract dedup_survivor_convs documents for its shingle frame.
    """
    _require_same_id_type(pairs, src, pairs, dst)

    seq = iter(range(10_000))

    def mat(frame: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return frame.localCheckpoint(eager=True)
        path = f"{checkpoint_dir.rstrip('/')}/cc_{next(seq)}"
        frame.write.mode("overwrite").parquet(path)
        return frame.sparkSession.read.parquet(path)

    # symmetric closure once up front; the star steps keep it oriented
    edges = mat(
        _both_ways(pairs, src, dst).filter(F.col("u") != F.col("v")).distinct()
    )

    if small_graph_threshold > 0:
        # the checkpoint above already materialized the edge set, so
        # this count is metadata-cheap; the collect is bounded by the
        # threshold check
        if edges.count() <= 2 * small_graph_threshold:
            return _driver_components(
                edges.sparkSession,
                edges.filter(F.col("u") < F.col("v")).toPandas(),
                pairs.schema[src].dataType.simpleString(),
            )

    prev_sig = None
    for _ in range(max_iter):
        nxt = mat(_small_star(_both_ways(_large_star(edges))))
        # converged when the (canonical u>v) star forest stops changing.
        # One partial-agg job computes an order-free set signature —
        # count + bit_xor of a 64-bit row hash (xor: commutative,
        # overflow-free under ANSI mode, exact on the distinct edge
        # set); the rounds contract monotonically toward the fixed
        # point, so signature equality across consecutive rounds means
        # set equality short of a 2^-64 xor collision. (Replaces two
        # exceptAll anti-join probes — half the jobs per round.)
        sig = tuple(
            nxt.agg(
                F.count("*"), F.expr("bit_xor(xxhash64(u, v))")
            ).first()
        )
        if sig == prev_sig:
            edges = nxt
            break
        prev_sig = sig
        edges = mat(_both_ways(nxt))
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # star forest: (node -> root) plus the roots themselves
    links = edges.filter(F.col("u") > F.col("v"))
    roots = links.select(F.col("v").alias("u"), F.col("v"))
    return (
        links.union(roots)
        .distinct()
        .select(F.col("u").alias("id"), F.col("v").alias("component_id"))
    )


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Annotate every doc with its duplicate-cluster id and a canonical
    `is_rep` flag (representative = minimum doc id in the cluster;
    isolated docs represent themselves). `docs[id_col]` and the pair
    ids must share one type, else ValueError.

    The downstream corpus is `.filter("is_rep")` — exactly one survivor
    per near-duplicate cluster.  The join against the (tiny relative to
    the corpus) component map broadcasts when it fits; the docs table is
    never shuffled.
    """
    _require_same_id_type(docs, id_col, pairs, src)
    comp = connected_components(pairs, src=src, dst=dst)
    out = docs.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "component_id", F.coalesce(F.col("component_id"), F.col(id_col))
    )
    return out.withColumn("is_rep", F.col("component_id") == F.col(id_col))
