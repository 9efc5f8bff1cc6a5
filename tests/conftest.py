import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pii_redaction_data_pipeline_spark import get_spark

    s = get_spark(app_name="tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny(tmp_path_factory):
    """(transcripts_path, labels_path) for the tiny fixture scale."""
    from pii_redaction_data_pipeline_spark.datagen import write_parquet

    d = tmp_path_factory.mktemp("tiny")
    return write_parquet("tiny", str(d))


@pytest.fixture(scope="session")
def tiny_annotated(spark, tiny, tmp_path_factory):
    """Run the full pipeline once; share the written output across tests."""
    from pii_redaction_data_pipeline_spark.plans.pipeline import run_pipeline

    d = tmp_path_factory.mktemp("out")
    out = str(d / "annotated")
    lin = str(d / "lineage")
    run_pipeline(spark, tiny[0], out, lin, run_id="test-run")
    return out, lin
