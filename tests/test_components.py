"""Connected-components clustering (operators/components.py) vs a
brute-force union-find oracle, plus representative-selection semantics."""

import random

import pytest
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.operators.components import (
    connected_components,
    dedup_representatives,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _spark_components(spark, edges, threshold=1_000_000):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = connected_components(df, small_graph_threshold=threshold).collect()
    return {r["id"]: r["component_id"] for r in got}


# threshold=0 forces the distributed alternating-star path; the default
# takes the driver-side union-find fast path — both must agree with the
# brute-force oracle on every graph shape.
@pytest.mark.parametrize("threshold", [0, 1_000_000])
@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2)],
        [(1, 2), (2, 3), (3, 1)],            # triangle
        [(i, i + 1) for i in range(1, 40)],  # long chain (worst diameter)
        [(1, 2), (3, 4), (5, 6), (2, 3)],    # merge two clusters
        [(10, 1), (10, 2), (10, 3), (20, 21), (22, 21)],
    ],
)
def test_matches_union_find_fixed(spark, edges, threshold):
    assert _spark_components(spark, edges, threshold) == _uf_components(edges)


@pytest.mark.parametrize("threshold", [0, 1_000_000])
def test_matches_union_find_random(spark, threshold):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(40)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _spark_components(spark, edges, threshold) == _uf_components(edges), trial


@pytest.mark.parametrize("threshold", [0, 1_000_000])
def test_duplicate_and_reversed_pairs_are_harmless(spark, threshold):
    edges = [(1, 2), (2, 1), (1, 2), (2, 3)]
    assert _spark_components(spark, edges, threshold) == {1: 1, 2: 1, 3: 1}


def test_representatives_one_survivor_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    out = dedup_representatives(docs, pairs).collect()
    comp = {r["doc_id"]: r["component_id"] for r in out}
    assert comp == {0: 0, 3: 0, 5: 0, 1: 1, 2: 1, 4: 4, 6: 6, 7: 7}
    reps = sorted(r["doc_id"] for r in out if r["is_rep"])
    assert reps == [0, 1, 4, 6, 7]
    # exactly one representative per component
    per_comp = {}
    for r in out:
        per_comp.setdefault(r["component_id"], 0)
        per_comp[r["component_id"]] += r["is_rep"]
    assert set(per_comp.values()) == {1}


def test_nonconvergence_guard(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=0, small_graph_threshold=0)


def test_semantic_dedup_composition(spark):
    """SemDeDup-shape pipeline: embedding cosine pairs -> components ->
    one representative per semantic cluster. Edges come from an exact
    cosine pair stage, as in the oracle-checked semdedup query."""
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.operators.similarity import (
        cosine_similarity_col,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 200)
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_similarity_col(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= 0.35)
        .select("id_a", "id_b")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"))
    out = dedup_representatives(docs, pairs).collect()
    edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    want = _uf_components(edges)
    for r in out:
        assert r["component_id"] == want.get(r["doc_id"], r["doc_id"])
        assert r["is_rep"] == (r["component_id"] == r["doc_id"])
    kept = [r for r in out if r["is_rep"]]
    assert 0 < len(kept) <= len(out)


def test_distributed_path_on_deep_graph_matches_union_find(spark):
    """VERDICT round-2 item 8: the driver's dup_components oracle row
    exercises the union-find fast path at fixture size; this forces the
    DISTRIBUTED alternating-star path (small_graph_threshold=0) on a
    graph that needs multiple contraction rounds — a 4096-node chain
    (diameter 4095, the worst case for label propagation) plus two
    cliques and isolated pairs — and pins label equality against the
    union-find path on the identical edge list."""
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(4096)]                    # chain
    edges += [(10_000 + a, 10_000 + b) for a in range(12) for b in range(a)]
    edges += [(20_000, 20_001), (30_000, 30_001)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(16)

    dist = connected_components(df, small_graph_threshold=0)
    fast = connected_components(df, small_graph_threshold=10**9)
    d = {r.id: r.component_id for r in dist.collect()}
    f = {r.id: r.component_id for r in fast.collect()}
    assert d == f
    # chain collapses to min id 0; cliques/pairs to their minima
    assert d[4096] == 0 and d[10_011] == 10_000 and d[30_001] == 30_000


def test_non_integral_ids_rejected(spark):
    """String ids (e.g. UUIDs) must raise, not silently cast to NULL —
    cast('long') on every row would drop all edges and .filter('is_rep')
    would return an EMPTY corpus (round-5 review finding). Callers map
    string ids to numerics first (plans/curate.py pattern)."""
    import pytest

    from pii_redaction_data_pipeline_spark.operators.components import (
        connected_components,
        dedup_representatives,
    )

    pairs = spark.createDataFrame(
        [("a-1", "a-2")], "id_a string, id_b string"
    )
    with pytest.raises(ValueError, match="integral id"):
        connected_components(pairs)
    docs = spark.createDataFrame([("a-1", "t")], "doc_id string, text string")
    npairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="integral id"):
        dedup_representatives(docs, npairs)
