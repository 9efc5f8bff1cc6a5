"""Seeded, cached benchmark inputs built from ``datagen.SCALES["bench"]``.

Every input is the bench scale with fewer conversations and the
benchmark's seed (``dataclasses.replace``), so the golden labels come
from the same generator the test suite trusts. Generation is
single-threaded, so each (input, seed) pair is written once under
``perfbench/.cache`` and reused by later runs.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path
from unittest import mock

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pii_redaction_data_pipeline_spark import datagen

# Sized so that a fresh JVM, one cold call and the timed calls fit the
# run budget on a 4-vCPU host (README: "Sizing"). Conversations are a
# tenth of bench's 940-turn mean so the turn count of an input varies
# little from seed to seed (about 2%).
SCALES = {
    # uniform conversations, no skew, no clones: ~25k turns
    "annotate_batch": dict(n_convs=250, mean_turns=100, skew_convs=0, dup_conv_every=0),
    # ~12k turns, split into STREAM_FILES whole-conversation files
    "stream_microbatch": dict(n_convs=120, mean_turns=100, skew_convs=0, dup_conv_every=0),
    # traced run only: short conversations with a near-duplicate clone
    # of every third one, the planted truth for conversation dedup
    "curate_probe": dict(n_convs=30, mean_turns=60, skew_convs=0, dup_conv_every=3),
}
STREAM_FILES = 3
# the warm-up call of annotate_batch reads one of this many
# whole-conversation slices of its input (~4k turns, as a stream file)
WARMUP_SLICES = 6
# bumped whenever what a cache entry holds changes
LAYOUT = 3


@dataclass(frozen=True)
class Inputs:
    transcripts: str  # parquet file, or a directory of parquet files
    warmup: str  # what the warm-up call reads
    labels: str
    rows: int
    bytes: int
    datagen_s: float  # recorded when the cache entry was generated
    cached: bool


def _generate(name: str, seed: int, out_dir: Path) -> None:
    if name == "tiny":
        datagen.write_parquet("tiny", str(out_dir))
        return
    scale = dataclasses.replace(datagen.SCALES["bench"], name=name, seed=seed, **SCALES[name])
    with mock.patch.dict(datagen.SCALES, {name: scale}):
        datagen.write_parquet(name, str(out_dir))


def split_by_conversation(transcripts: str, out_dir: Path, n_files: int) -> None:
    """Write the rows as `n_files` parquet files of whole conversations,
    balanced by turn count (largest conversation to the lightest file)."""
    table = pq.read_table(transcripts)
    sizes: dict[str, int] = {}
    for conv in table.column("conv_id").to_pylist():
        sizes[conv] = sizes.get(conv, 0) + 1
    loads = [0] * n_files
    owner: dict[str, int] = {}
    for conv in sorted(sizes, key=lambda c: (-sizes[c], c)):
        k = loads.index(min(loads))
        owner[conv] = k
        loads[k] += sizes[conv]
    files = pa.array([owner[c] for c in table.column("conv_id").to_pylist()], pa.int32())
    out_dir.mkdir(parents=True)
    for k in range(n_files):
        pq.write_table(
            table.filter(pc.equal(files, k)), out_dir / f"part-{k:04d}.parquet"
        )


def _size(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def prepare(name: str, seed: int, cache_dir: Path) -> Inputs:
    """Generate (or reuse) the input `name` for `seed`. For
    stream_microbatch, `transcripts` is the directory of split files."""
    key = "tiny" if name == "tiny" else f"{name}-v{LAYOUT}-seed{seed}"
    final = cache_dir / key
    cached = (final / "DONE").exists()
    if not cached:
        tmp = cache_dir / f".{key}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        _generate(name, seed, tmp)
        if name == "stream_microbatch":
            split_by_conversation(
                str(tmp / "transcripts.parquet"), tmp / "stream", STREAM_FILES
            )
            # the warm-up drain reads one of the files
            (tmp / "warmup").mkdir()
            shutil.copy(tmp / "stream" / "part-0000.parquet", tmp / "warmup")
        elif name == "annotate_batch":
            # a cold call costs the same on a slice as on the whole input
            split_by_conversation(
                str(tmp / "transcripts.parquet"), tmp / "slices", WARMUP_SLICES
            )
            os.replace(tmp / "slices" / "part-0000.parquet", tmp / "warmup.parquet")
            shutil.rmtree(tmp / "slices")
        (tmp / "DONE").write_text(f"{time.perf_counter() - t0:.3f}\n")
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    stream = name == "stream_microbatch"
    src = final / ("stream" if stream else "transcripts.parquet")
    warmup = {"stream_microbatch": final / "warmup", "annotate_batch": final / "warmup.parquet"}
    return Inputs(
        transcripts=str(src),
        warmup=str(warmup.get(name, src)),
        labels=str(final / "expected_labels.parquet"),
        rows=pq.read_metadata(final / "transcripts.parquet").num_rows,
        bytes=_size(src),
        datagen_s=float((final / "DONE").read_text()),
        cached=cached,
    )
