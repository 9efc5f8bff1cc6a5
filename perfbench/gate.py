"""Correctness gate: outputs against datagen's golden labels.

Runs outside every timed span. Comparison is exact on the four golden
columns; map columns compare as sorted entries (key order in a parquet
map is not meaningful).
"""

from __future__ import annotations

import functools
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

LABEL_COLS = ("keep", "drop_reasons", "scrubbed_text", "scrub_counts")


def _canon(value):
    if isinstance(value, list):
        # map columns read back as lists of (key, value) tuples
        return tuple(sorted(value)) if value and isinstance(value[0], tuple) else tuple(value)
    return value


def _by_turn(table) -> dict[tuple[str, int], tuple]:
    cols = [table.column(c).to_pylist() for c in ("conv_id", "turn_idx") + LABEL_COLS]
    return {
        (row[0], row[1]): tuple(_canon(v) for v in row[2:]) for row in zip(*cols)
    }


def label_mismatches(output_table, labels_table) -> int:
    """Turns whose golden columns differ, plus turns present on only one
    side (a turn written twice also counts)."""
    return _mismatches(output_table, _by_turn(labels_table))


@functools.lru_cache(maxsize=4)
def _labels_by_turn(labels_path: str) -> dict[tuple[str, int], tuple]:
    # a run checks every call against the same labels
    return _by_turn(pq.read_table(labels_path, columns=["conv_id", "turn_idx", *LABEL_COLS]))


def _mismatches(output_table, exp: dict[tuple[str, int], tuple]) -> int:
    out = _by_turn(output_table)
    dup = output_table.num_rows - len(out)
    return dup + sum(1 for k in out.keys() | exp.keys() if out.get(k) != exp.get(k))


def parquet_files(path: str) -> list[Path]:
    """Every parquet file under `path` (or `path` itself). Listed
    explicitly: the streaming sink's ``_batch_id=N`` partition
    directories are hidden from pyarrow's dataset discovery by their
    leading underscore."""
    p = Path(path)
    return [p] if p.is_file() else sorted(p.rglob("*.parquet"))


def read_parquet_dir(path: str, columns: list[str]):
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in parquet_files(path))


def check_annotated(output_path: str, labels_path: str) -> int:
    return _mismatches(
        read_parquet_dir(output_path, ["conv_id", "turn_idx", *LABEL_COLS]),
        _labels_by_turn(labels_path),
    )


def expected_dedup_drops(kept_convs: set[str]) -> set[str]:
    """The planted clones dedup must drop: every ``-dup`` conversation
    whose original also passed the conversation verdict (the
    representative of a cluster is its minimum conv_id, the original)."""
    return {c for c in kept_convs if c.endswith("-dup") and c[: -len("-dup")] in kept_convs}


def dedup_mismatches(kept_convs: set[str], survivors: set[str]) -> int:
    return len((kept_convs - survivors) ^ expected_dedup_drops(kept_convs))
