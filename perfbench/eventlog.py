"""Counts from Spark's JSON event log (uncompressed, non-rolling).

Jobs are attributed to their ``spark.jobGroup.id`` property (the
tracer's span tag; a streaming query tags its jobs with its run id),
stages to the first job that lists them, and tasks to their stage.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupCounts:
    jobs: int = 0
    stream_batches: set = field(default_factory=set)
    shuffle_bytes_written: int = 0
    disk_bytes_spilled: int = 0
    output_bytes: int = 0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0
    # stage id -> executor run time (ms) of each finished task
    task_ms: dict = field(default_factory=lambda: defaultdict(list))
    # stage id -> shuffle records the stage's tasks read
    shuffle_records_read: dict = field(default_factory=lambda: defaultdict(int))

    def merge(self, other: "GroupCounts") -> None:
        self.jobs += other.jobs
        self.stream_batches |= other.stream_batches
        self.shuffle_bytes_written += other.shuffle_bytes_written
        self.disk_bytes_spilled += other.disk_bytes_spilled
        self.output_bytes += other.output_bytes
        self.python_bytes_sent += other.python_bytes_sent
        self.python_bytes_returned += other.python_bytes_returned
        for k, v in other.task_ms.items():
            self.task_ms[k].extend(v)
        for k, v in other.shuffle_records_read.items():
            self.shuffle_records_read[k] += v


def summarize(lines) -> dict[str | None, GroupCounts]:
    """Per job group counts from event-log JSON lines."""
    groups: dict[str | None, GroupCounts] = defaultdict(GroupCounts)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            g = groups[props.get("spark.jobGroup.id")]
            g.jobs += 1
            if "streaming.sql.batchId" in props:
                g.stream_batches.add(props["streaming.sql.batchId"])
            for sid in event["Stage IDs"]:
                stage_group.setdefault(sid, props.get("spark.jobGroup.id"))
        elif kind == "SparkListenerTaskEnd":
            metrics = event.get("Task Metrics")
            if metrics is None:
                continue
            sid = event["Stage ID"]
            g = groups[stage_group.get(sid)]
            g.task_ms[sid].append(metrics["Executor Run Time"])
            g.shuffle_records_read[sid] += metrics["Shuffle Read Metrics"]["Total Records Read"]
            g.shuffle_bytes_written += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            g.disk_bytes_spilled += metrics["Disk Bytes Spilled"]
            g.output_bytes += metrics["Output Metrics"]["Bytes Written"]
            for acc in event["Task Info"].get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    g.python_bytes_sent += int(acc["Update"])
                elif acc.get("Name") == PY_RETURNED:
                    g.python_bytes_returned += int(acc["Update"])
    return groups


def read(path: str) -> dict[str | None, GroupCounts]:
    with open(path) as f:
        return summarize(f)


def combined(groups: dict, keys) -> GroupCounts:
    out = GroupCounts()
    for k in keys:
        if k in groups:
            out.merge(groups[k])
    return out


def shuffle_read_task_skew(counts: GroupCounts) -> float:
    """Longest task / median task over the stages that read a shuffle."""
    import statistics

    ms = [t for sid, ts in counts.task_ms.items() if counts.shuffle_records_read[sid] for t in ts]
    if not ms:
        return 0.0  # no stage read a shuffle
    return max(ms) / max(statistics.median(ms), 1)
