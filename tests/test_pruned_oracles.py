"""The queries pruned from the 50-entry driver contract (see
__spark_entry__.queries() docstring) stay value-checked here: each runs
on Spark and on DuckDB over the same parquet tables and must match on
sorted values, exactly like the driver's correctness gate. The
parametrization derives from PRUNED_QUERIES, so a newly pruned query is
covered automatically (or fails loudly if its oracle is missing). The
n-gram queries are also checked on a corpus with empty documents."""

import os
import sys

import duckdb
import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _canon(df):
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _assert_same(sdf, ddf):
    assert len(sdf) == len(ddf)
    assert list(sdf.columns) == list(ddf.columns)
    for c in sdf.columns:
        a, b = sdf[c], ddf[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            assert np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True), c
        else:
            assert (a.astype(object) == b.astype(object)).all(), c


def _pruned_names():
    import __spark_entry__ as E

    missing = sorted(set(E.PRUNED_QUERIES) - set(E.PRUNED_ORACLES))
    assert not missing, f"pruned queries without oracle SQL: {missing}"
    return sorted(E.PRUNED_QUERIES)


@pytest.mark.parametrize("name", _pruned_names())
def test_pruned_query_matches_oracle(name, spark, ducks):
    import __spark_entry__ as E

    sdf = _canon(E.PRUNED_QUERIES[name](spark, SF_DIR).toPandas())
    ddf = _canon(ducks.execute(E.PRUNED_ORACLES[name]).fetchdf())
    _assert_same(sdf, ddf)


@pytest.mark.parametrize(
    "name", ["ngram_jaccard", "minhash_lsh", "simhash", "dup_components"]
)
def test_ngram_queries_match_oracle_on_empty_documents(name, spark, tmp_path):
    """Two empty documents under the doc_id < 200 cap share the empty
    gram. Each n-gram query and its oracle must agree on whether that
    pairs them: ngram_jaccard_pairs (behind ngram_jaccard and simhash)
    never pairs on it, minhash_lsh_pairs (behind minhash_lsh and
    dup_components) pairs them at jaccard 1.0."""
    import __spark_entry__ as E

    docs = f"{tmp_path}/documents.parquet"
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN doc_id IN (198, 199) THEN '' "
        f"ELSE text END AS text) FROM '{SF_DIR}/documents.parquet') "
        f"TO '{docs}' (FORMAT parquet)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    sdf = _canon(E.queries()[name](spark, str(tmp_path)).toPandas())
    ddf = _canon(con.execute(E.oracle_sql()[name]).fetchdf())
    con.close()
    _assert_same(sdf, ddf)


def test_documents_oracle_rederivation_holds_at_other_sf(spark, ducks):
    """The flagship's VALUES oracle is an independent scalar re-derivation
    parameterized by corpus dir; the driver compares at sf0.01. Running
    the same comparison at sf0.001 (a different corpus) guards against
    the oracle accidentally overfitting one input — any divergence
    between the scalar re-derivation and the vectorized/distributed
    pipeline shows up as a value mismatch here."""
    import __spark_entry__ as E

    sdf = _canon(E.queries()["pipeline_documents"](spark, SF_DIR).toPandas())
    ddf = _canon(ducks.execute(E._pipeline_documents_oracle(SF_DIR)).fetchdf())
    assert len(sdf) == len(ddf) > 0
    assert list(sdf.columns) == list(ddf.columns)
    for c in sdf.columns:
        assert (
            sdf[c].astype(object).where(sdf[c].notna(), None)
            == ddf[c].astype(object).where(ddf[c].notna(), None)
        ).all(), c
