"""The benchmark's workloads: one closed-loop call each, through the
package's public entry points.

annotate_batch     run_pipeline over one parquet table (default config).
stream_microbatch  run_streaming_pipeline draining whole-conversation
                   files with availableNow and one file per trigger.
"""

from __future__ import annotations

import time
from pathlib import Path

from pii_redaction_data_pipeline_spark.plans.pipeline import run_pipeline
from pii_redaction_data_pipeline_spark.streaming.ingest import run_streaming_pipeline

from perfbench import gate
from perfbench.inputs import Inputs


def written_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class AnnotateBatch:
    name = "annotate_batch"
    # the wall of a JVM's first warm calls on a 4-vCPU host
    nominal_call_s = 10.0

    def call(self, spark, inp: Inputs, out: Path, source: str | None = None) -> list[float]:
        """One run_pipeline; -> [wall] (the call is its own batch)."""
        t0 = time.perf_counter()
        run_pipeline(
            spark, source or inp.transcripts, str(out / "annotated"), str(out / "lineage")
        )
        return [time.perf_counter() - t0]

    def mismatches(self, inp: Inputs, out: Path) -> int:
        return gate.check_annotated(str(out / "annotated"), inp.labels)


class StreamMicrobatch:
    name = "stream_microbatch"
    nominal_call_s = 11.0

    def start(self, spark, source: str, out: Path):
        return run_streaming_pipeline(
            spark, source, str(out / "annotated"), str(out / "checkpoint"),
            max_files_per_trigger=1,
        )

    @staticmethod
    def batches(query) -> list:
        return [p for p in query.recentProgress if p.numInputRows > 0]

    def call(self, spark, inp: Inputs, out: Path, source: str | None = None) -> list[float]:
        """One availableNow drain; -> each micro-batch's
        triggerExecution wall."""
        query = self.start(spark, source or inp.transcripts, out)
        query.awaitTermination()
        return [p.durationMs["triggerExecution"] / 1000 for p in self.batches(query)]

    def mismatches(self, inp: Inputs, out: Path) -> int:
        return gate.check_annotated(str(out / "annotated"), inp.labels)


WORKLOADS = {w.name: w for w in (AnnotateBatch(), StreamMicrobatch())}
