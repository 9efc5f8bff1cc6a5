import pyarrow as pa
import pytest

from perfbench import gate
from pii_redaction_data_pipeline_spark import datagen


@pytest.fixture(scope="module")
def labels():
    _, ldf = datagen.generate("tiny")
    ldf = ldf.copy()
    ldf["scrub_counts"] = ldf["scrub_counts"].map(
        lambda d: list(d.items()) if d is not None else None
    )
    schema = pa.schema([
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("keep", pa.bool_()),
        ("drop_reasons", pa.list_(pa.string())),
        ("scrubbed_text", pa.string()),
        ("scrub_counts", pa.map_(pa.string(), pa.int32())),
    ])
    return pa.Table.from_pandas(ldf, schema=schema, preserve_index=False)


def _with_column(table, name, values):
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def test_identical_output_has_no_mismatch(labels):
    assert gate.label_mismatches(labels, labels) == 0
    # row order does not matter
    assert gate.label_mismatches(labels.take(list(reversed(range(labels.num_rows)))), labels) == 0


def test_injected_label_flip_is_caught(labels):
    keep = labels.column("keep").to_pylist()
    keep[7] = not keep[7]
    assert gate.label_mismatches(_with_column(labels, "keep", keep), labels) == 1


def test_scrub_counts_compare_as_sorted_entries(labels):
    counts = labels.column("scrub_counts").to_pylist()
    i = next(k for k, c in enumerate(counts) if c and len(c) > 1)
    reordered = list(counts)
    reordered[i] = list(reversed(counts[i]))
    assert gate.label_mismatches(_with_column(labels, "scrub_counts", reordered), labels) == 0
    changed = list(counts)
    changed[i] = [(k, v + 1) for k, v in counts[i]]
    assert gate.label_mismatches(_with_column(labels, "scrub_counts", changed), labels) == 1


def test_missing_and_repeated_turns_are_caught(labels):
    assert gate.label_mismatches(labels.slice(1), labels) == 1
    assert gate.label_mismatches(pa.concat_tables([labels, labels.slice(0, 2)]), labels) == 2


def test_dedup_gate_expects_exactly_the_planted_clones():
    kept = {"conv-a", "conv-a-dup", "conv-b", "conv-c-dup"}  # conv-c failed its verdict
    assert gate.expected_dedup_drops(kept) == {"conv-a-dup"}
    assert gate.dedup_mismatches(kept, kept - {"conv-a-dup"}) == 0
    assert gate.dedup_mismatches(kept, kept) == 1  # clone kept
    assert gate.dedup_mismatches(kept, kept - {"conv-a-dup", "conv-b"}) == 1  # original lost
