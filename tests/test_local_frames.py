"""Frames built on the driver start no Python worker.

`spark.createDataFrame(list)` plans `parallelize` plus a Python `map`: a
PythonRDD whose every task pays the fixed cost of a Python task (SCALE.md,
"The cost of a Python task"), although no Python computes anything. The
package builds every driver-side frame through `sources.tables.local_frame`
instead, which ships the rows as one Arrow table and plans a
`LocalTableScan`. Outside UDFs, no package code starts a Python task.
"""

import ast
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pii_redaction_data_pipeline_spark.operators.components import (
    _driver_components,
)
from pii_redaction_data_pipeline_spark.plans.pipeline import (
    annotated_run_rows,
    lineage_metrics,
)
from pii_redaction_data_pipeline_spark.sources.lineage import (
    LINEAGE_SCHEMA,
    LineageStore,
    stage_row,
)

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pii_redaction_data_pipeline_spark",
)


def python_rdd_in(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def fields(schema: T.StructType) -> list:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


@pytest.fixture(scope="module")
def run_rows(spark, tiny_annotated):
    return annotated_run_rows(spark, tiny_annotated[0], "test-run")


def lineage_frame(spark, tmp_path, rows):
    """The frame `LineageStore.append` writes for `rows`."""
    return LineageStore(spark, str(tmp_path / "lineage"))._frame(rows)


FRAMES = {
    "lineage_metrics": lambda spark, run_rows, tmp_path: lineage_frame(
        spark, tmp_path, lineage_metrics(run_rows, "test-run", list(range(16)))
    ),
    "missing_store_read": lambda spark, run_rows, tmp_path: LineageStore(
        spark, str(tmp_path / "absent")
    ).read(),
    "stage_mark": lambda spark, run_rows, tmp_path: lineage_frame(
        spark, tmp_path, [stage_row("r", "conv_dedup", 7)]
    ),
    "components_string": lambda spark, run_rows, tmp_path: _driver_components(
        spark, pd.DataFrame({"u": ["a", "a", "c"], "v": ["b", "c", "d"]}), "string"
    ),
    "components_long": lambda spark, run_rows, tmp_path: _driver_components(
        spark, pd.DataFrame({"u": [1, 1, 5], "v": [2, 3, 6]}), "bigint"
    ),
}


@pytest.mark.parametrize("name", list(FRAMES))
def test_driver_frame_has_no_python_stage(spark, run_rows, tmp_path, name):
    df = FRAMES[name](spark, run_rows, tmp_path)
    assert not python_rdd_in(df), df._jdf.queryExecution().toRdd().toDebugString()
    df.collect()  # and it runs


def test_driver_components_values(spark):
    got = _driver_components(
        spark, pd.DataFrame({"u": ["b", "c", "x"], "v": ["a", "b", "y"]}), "string"
    )
    assert fields(got.schema) == [("id", "string"), ("component_id", "string")]
    assert sorted(map(tuple, got.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")
    ]
    got = _driver_components(
        spark, pd.DataFrame({"u": [3, 9], "v": [2**40, 3]}), "bigint"
    )
    assert fields(got.schema) == [("id", "bigint"), ("component_id", "bigint")]
    assert sorted(map(tuple, got.collect())) == [(3, 3), (9, 3), (2**40, 3)]


def test_lineage_metrics_of_no_buckets_is_empty(spark, run_rows, tmp_path):
    """The fail_after_buckets=0 path: no buckets, no rows, lineage schema."""
    rows = lineage_metrics(run_rows.filter(F.lit(False)), "test-run", buckets=[])
    assert rows == []
    out = lineage_frame(spark, tmp_path, rows)
    assert fields(out.schema) == fields(LINEAGE_SCHEMA)
    assert out.collect() == []


def test_missing_store_reads_empty_lineage_schema(spark, tmp_path):
    df = LineageStore(spark, str(tmp_path / "absent")).read()
    assert df.schema == LINEAGE_SCHEMA
    assert df.collect() == []


def test_stage_mark_null_maps_round_trip(spark, tmp_path):
    store = LineageStore(spark, str(tmp_path / "lineage"))
    mark = stage_row("r", "sample", 42)
    store.append([mark])
    (row,) = store.read().collect()
    assert tuple(row) == mark
    assert row.partition_id == "stage:sample"
    assert (row.rows_in, row.rows_out) == (42, 42)
    assert row.drop_reason_counts is None and row.scrub_counts is None


def test_no_create_dataframe_outside_local_frame():
    """Source guard: a new list-built frame would bring the Python stage
    back unnoticed, so `createDataFrame` may be called only inside
    `sources/tables.local_frame`."""
    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            allowed = set()
            if os.path.relpath(path, PACKAGE) == os.path.join("sources", "tables.py"):
                for node in tree.body:
                    if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed
                ):
                    offenders.append(f"{os.path.relpath(path, PACKAGE)}:{node.lineno}")
    assert offenders == [], offenders
