"""The parser against a small captured event log: run_pipeline on datagen's
tiny scale (spans 0-7), a conv_id exchange + window job (span 8) and a
two-batch streaming drain, with each event trimmed to the fields the
parser reads."""

from pathlib import Path

import pytest

from perfbench import eventlog

LOG = Path(__file__).parent / "data" / "eventlog_sample.jsonl"


@pytest.fixture(scope="module")
def groups():
    return eventlog.read(str(LOG))


def test_jobs_are_attributed_to_their_group(groups):
    jobs = {g: c.jobs for g, c in groups.items()}
    assert jobs == {
        "sample/0": 1, "sample/1": 1, "sample/3": 1, "sample/5": 3, "sample/7": 3,
        "sample/8": 3, "stream-query": 8,
    }
    pipeline = eventlog.combined(groups, [f"sample/{i}" for i in range(8)])
    assert pipeline.jobs == 9


def test_task_counters_sum_per_group(groups):
    write = groups["sample/5"]
    assert write.shuffle_bytes_written == 139666
    assert write.output_bytes == 199903
    assert write.python_bytes_sent == 87160
    assert write.python_bytes_returned == 118576
    assert write.disk_bytes_spilled == 0
    assert groups["sample/7"].output_bytes == 14522
    assert groups["sample/1"].python_bytes_sent == 0


def test_streaming_jobs_and_batches(groups):
    stream = groups["stream-query"]
    assert stream.stream_batches == {"0", "1"}
    assert stream.jobs / len(stream.stream_batches) == 4
    assert stream.python_bytes_sent == 88552


def test_window_task_skew_reads_only_shuffle_reading_stages(groups):
    # the one stage that read the shuffle ran 8 tasks: 37, 40, 43, 57,
    # 218, 218, 221, 226 ms (two map stages of one task each are ignored)
    assert eventlog.shuffle_read_task_skew(groups["sample/8"]) == pytest.approx(226 / 137.5)
    assert eventlog.shuffle_read_task_skew(groups["sample/1"]) == 0.0


def test_combined_ignores_missing_groups(groups):
    assert eventlog.combined(groups, ["absent"]).jobs == 0
