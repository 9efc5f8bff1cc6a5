"""Benchmark entry point.

    python3 perfbench/run.py --workload annotate_batch --seed 11 --seconds 8 --trace 0

Run from the repository root. One driver process runs everything at
``local[nproc]``; every call is a closed loop (the next starts after
the previous returns). Prints one JSON line of run information, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exits non-zero without a result when the package
source is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_DIR = Path(__file__).resolve().parent
PACKAGE = "pii_redaction_data_pipeline_spark"
WORKLOAD_NAMES = ("annotate_batch", "stream_microbatch")
# no call starts when the run could no longer end within 180 s
DEADLINE_S = 150.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=11)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep the JVM, Spark's scratch space and the Python workers inside
    the checkout, and let the workers import the package from source."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def timed_calls(wl, seconds: float) -> int:
    """How many calls a run times: as many as fit in `seconds` at the
    workload's nominal call wall. The count is fixed rather than timed
    because the JVM keeps compiling for many calls, each faster than the
    last; a time limit would time later, faster calls on a faster host
    or program."""
    return max(1, int(seconds // wl.nominal_call_s))


def timed_run(wl, inp, work: Path, seconds: float, t_start: float):
    """Set up, warm up with one call on a small input, then make
    timed_calls() calls back to back. -> (metrics, info, attempted, failed)."""
    from perfbench import sparkproc
    from perfbench.stats import summarize
    from perfbench.workloads import written_bytes

    t0 = time.perf_counter()
    spark = sparkproc.start()
    env = sparkproc.environment(spark)
    wl.call(spark, inp, work / "warmup", inp.warmup)
    setup_s = time.perf_counter() - t0

    walls: list[float] = []
    batches: list[float] = []
    out_bytes: list[int] = []
    failed = 0
    n_calls = timed_calls(wl, seconds)
    while not walls or (
        len(walls) < n_calls
        and time.perf_counter() - t_start + 2 * max(walls) < DEADLINE_S
    ):
        out = work / f"call{len(walls)}"
        t = time.perf_counter()
        try:
            batches.extend(wl.call(spark, inp, out))
            walls.append(time.perf_counter() - t)
            ok = wl.mismatches(inp, out) == 0
        except Exception:  # a failed call is counted, and the loop goes on
            walls.append(time.perf_counter() - t)
            traceback.print_exc()
            ok = False
        failed += not ok
        out_bytes.append(written_bytes(out))
        shutil.rmtree(out, ignore_errors=True)
    rss = sparkproc.peak_rss_mb(spark)
    sparkproc.stop(spark)

    metrics = {
        "turns_per_s": (inp.rows / statistics.median(walls), "turns/s"),
        "batch_p50_s": (statistics.median(batches or walls), "s"),
        "setup_s": (setup_s, "s"),
        "output_bytes_per_input_byte": (statistics.median(out_bytes) / inp.bytes, "ratio"),
    }
    info = {
        **env,
        "call_wall_s": summarize(walls),
        "call_walls_s": walls,
        "batch_s": summarize(batches or walls),
        "failed_frac": failed / len(walls),
        "peak_rss_mb": rss,
    }
    return metrics, info, len(walls), failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"run.py: no {PACKAGE} source beside {BENCH_DIR}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    work = BENCH_DIR / ".work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    isolate(work)
    try:
        from perfbench import inputs
        from perfbench.workloads import WORKLOADS

        wl = WORKLOADS[args.workload]
        inp = inputs.prepare(args.workload, args.seed, BENCH_DIR / ".cache")
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "input_turns": inp.rows,
            "input_bytes": inp.bytes,
            "datagen_s": inp.datagen_s,
            "datagen_cached": inp.cached,
        }
        if args.trace:
            from perfbench.probes import traced_run

            metrics, more, tracer, checks = traced_run(
                wl, inp, args.seed, work, BENCH_DIR / ".cache"
            )
            attempted, failed = checks.attempted, checks.failed
            trace_dir = BENCH_DIR / ".work" / "traces"
            trace_dir.mkdir(exist_ok=True)
            trace_file = trace_dir / f"{args.workload}-seed{args.seed}.jsonl"
            tracer.dump(trace_file)
            more["spans_file"] = str(trace_file.relative_to(ROOT))
        else:
            metrics, more, attempted, failed = timed_run(
                wl, inp, work, args.seconds, t_start
            )
        info.update(more)
        info["run_wall_s"] = time.perf_counter() - t_start
        print(json.dumps(info))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
