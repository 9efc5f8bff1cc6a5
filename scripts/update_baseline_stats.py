"""Regenerate BASELINE.md's measured-stats block from artifacts, so the
claims can't drift from what was actually measured (round-1 review found
hand-maintained counts stale).

Usage: python scripts/update_baseline_stats.py [bench_json_path]
  bench_json_path: a file whose last line is bench.py's JSON output
                   (default: .bench_cache/last_bench.json if present).

Reads: the bench JSON (pipeline median + per-run walls), pytest's
collected-test count, and the driver rows of the newest
CORRECTNESS_r*.json (row count, and how many matched their oracle).
Rewrites the <!-- stats:begin --> .. <!-- stats:end --> block in place.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    bench_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, ".bench_cache", "last_bench.json")
    )
    bench = None
    if os.path.exists(bench_path):
        lines = [l for l in open(bench_path) if l.strip().startswith("{")]
        if lines:
            bench = json.loads(lines[-1])
    if bench is None or bench.get("sf") != 0.1:
        # the headline claim is the sf0.1 bench scale; a verify/dev run at
        # another sf may have overwritten last_bench.json (or none ran in
        # this checkout) — fall back to the newest sf0.1 record in the run
        # history
        bh = os.path.join(REPO, "BENCH", "bench_history.jsonl")
        if os.path.exists(bh):
            for l in open(bh):
                try:
                    r = json.loads(l)
                except json.JSONDecodeError:
                    continue
                if r.get("sf") == 0.1 and "pipeline" in r:
                    bench = r

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        capture_output=True, text=True, cwd=REPO,
    )
    m = re.search(r"(\d+) tests collected", out.stdout)
    n_tests = int(m.group(1)) if m else None

    corr_path = max(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda f: int(re.search(r"_r(\d+)\.json$", f).group(1)),
    )
    with open(corr_path) as f:
        rows = json.load(f).values()
    n_rows = len(rows)
    n_match = sum(
        all(r.get(k) for k in ("rows_match", "schema_match", "hash_match"))
        for r in rows
    )

    lines = ["<!-- stats:begin -->"]
    if bench and "pipeline" in bench:
        p = bench["pipeline"]
        ctrl = p.get("control_work_per_sec")
        label = p.get("scale", f"sf{bench.get('sf')}")
        lines.append(
            f"- Pipeline throughput, `bench.py` protocol (warm session,"
            f" MEDIAN of >=3 timed\n  runs, all walls printed"
            f" in the JSON): **{p['turns_per_sec']:,.0f}"
            f" turns/sec** at `local[{bench.get('cpus')}]`\n  on the"
            f" {p['turns'] / 1e6:.1f}M-turn `{label}` table —"
            f" walls {p.get('runs_wall_sec')} s\n"
            f"  (best {p.get('best_turns_per_sec', 0):,.0f} turns/sec),"
            f" measured {bench.get('measured_at') or time.strftime('%Y-%m-%d %H:%M')}"
            f" (block regenerated {time.strftime('%Y-%m-%d %H:%M')})."
            + (
                f"\n  Same-moment hardware control {ctrl} work-units/sec —"
                f" this VM's deliverable\n  parallelism oscillates up to 6x on"
                f" a minutes timescale; a driver-measured\n  median below this"
                f" figure with a proportionally low control number is a\n"
                f"  throttled window, not an engine regression."
                if ctrl
                else ""
            )
        )
        pb = bench.get("pipeline_bench")
        if pb and pb is not p and pb.get("wall_sec") != p.get("wall_sec"):
            lines.append(
                f"- Cross-round comparability block (the 2M-turn sf0.1 table"
                f" BENCH_r2/r3 timed):\n  **{pb['turns_per_sec']:,.0f}"
                f" turns/sec** median, walls {pb.get('runs_wall_sec')} s"
                f" (warm-up\n  {pb.get('warmup_wall_sec')} s). The headline"
                f" above runs ~4x larger so the session-fixed\n  per-job tail"
                f" (2-4 s) is ~1% of wall instead of 15-25%."
            )
    bh = os.path.join(REPO, "BENCH", "bench_history.jsonl")
    if os.path.exists(bh):
        meds = []
        for l in open(bh):
            try:
                r = json.loads(l)
                if r.get("sf") != 0.1:  # spread is for the sf0.1 bench scale
                    continue
                # prefer the 2M-turn block (post-round-4 runs headline the
                # bench4x scale in "pipeline"; the spread series must stay
                # one scale)
                blk = r.get("pipeline_bench") or r["pipeline"]
                meds.append((blk["turns_per_sec"], r.get("measured_at")))
            except (KeyError, json.JSONDecodeError):
                continue
        if len(meds) >= 2:
            vals = sorted(v for v, _ in meds)
            lines.append(
                f"- Cross-window spread: {len(meds)} full `bench.py` runs recorded"
                f" (`BENCH/bench_history.jsonl`);\n  per-run medians"
                f" {vals[0]:,.0f}-{vals[-1]:,.0f} turns/sec, median-of-runs"
                f" **{vals[(len(vals) - 1) // 2]:,.0f} turns/sec** —\n"
                f"  the spread is the VM's minute-scale throttle, measured in"
                f" place by the control\n  fields inside each run's JSON."
            )
    lines.append(
        f"- Correctness: exact keep/drop + scrubbed-text equality on golden\n"
        f"  fixtures; **{n_tests} pytest tests collected**; **{n_match} of the"
        f" {n_rows} driver rows\n  matched their DuckDB oracle** (rows, schema"
        f" and hash) in `{os.path.basename(corr_path)}`."
    )
    lines.append("<!-- stats:end -->")
    block = "\n".join(lines)

    path = os.path.join(REPO, "BASELINE.md")
    src = open(path).read()
    src = re.sub(
        r"<!-- stats:begin -->.*?<!-- stats:end -->", block, src, flags=re.S
    )
    open(path, "w").write(src)
    print(f"updated {path}: tests={n_tests} driver_rows={n_rows} matched={n_match}")


if __name__ == "__main__":
    main()
