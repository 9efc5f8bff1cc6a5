"""End-to-end and per-layer benchmark of the quality-filter engine.

Run it from the repository root: ``python3 perfbench/run.py --workload
annotate_batch --seed 11 --seconds 8 --trace 0``. See README.md.
"""
