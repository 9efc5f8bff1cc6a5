"""The driver contract's registry: exactly the 50 queries the driver's
correctness harness has rows for, each with oracle SQL. Also value
checks of registered queries on inputs the harness does not use: the
n-gram queries on a corpus with empty documents, and the
pipeline_documents oracle at a second corpus scale."""

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


def test_registry_is_the_50_driver_rows():
    """The harness checks the first 50 entries, so a 51st would run
    unchecked; every entry needs oracle SQL and no oracle may be an
    orphan. The four flagship queries registered last must fall inside
    the 50, and no second (pruned) registry may live beside this one."""
    import __spark_entry__ as E

    q = E.queries()
    assert len(q) == 50
    assert set(E.oracle_sql()) == set(q)
    assert {"ppl_trained", "repeated_span", "simhash", "llm_curation"} <= set(
        list(q)[:50]
    )
    assert not [n for n in vars(E) if n.startswith("PRUNED")]


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
