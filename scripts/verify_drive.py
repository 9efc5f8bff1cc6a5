"""End-to-end verify drive (the .claude/skills/verify recipe, runnable):
crash/resume, exact golden equality, lineage coverage, driver entry.

Usage: python scripts/verify_drive.py
"""

import os
import sys
import tempfile

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))
from pii_redaction_data_pipeline_spark import get_spark
from pii_redaction_data_pipeline_spark.datagen import write_parquet
from pii_redaction_data_pipeline_spark.plans.pipeline import run_pipeline
from pyspark.sql import functions as F

spark = get_spark()
d = tempfile.mkdtemp()
tp, lp = write_parquet("tiny", d)
out, lin = os.path.join(d, "annotated"), os.path.join(d, "lineage")

# crash/resume probe
try:
    run_pipeline(spark, tp, out, lin, run_id="v", fail_after_buckets=5)
    raise SystemExit("expected injected failure")
except RuntimeError as e:
    print("injected failure ok:", e)
r2 = run_pipeline(spark, tp, out, lin, run_id="v")
assert r2["resumed"] is True, r2
r3 = run_pipeline(spark, tp, out, lin, run_id="v")
assert r3["processed_buckets"] == [], r3
print("resume ok:", r2["processed_buckets"][:4], "... then no-op")

ann = spark.read.parquet(out)
exp = spark.read.parquet(lp)
j = ann.alias("a").join(exp.alias("e"), ["conv_id", "turn_idx"], "full")
bad_keep = j.filter(~F.col("a.keep").eqNullSafe(F.col("e.keep"))).count()
bad_scrub = j.filter(
    F.col("a.keep") & ~F.col("a.scrubbed_text").eqNullSafe(F.col("e.scrubbed_text"))
).count()
bad_reasons = j.filter(
    ~F.array_sort(F.col("a.drop_reasons")).eqNullSafe(F.array_sort(F.col("e.drop_reasons")))
).count()
bad_counts = j.filter(
    ~F.array_sort(F.map_entries(F.col("a.scrub_counts"))).eqNullSafe(
        F.array_sort(F.map_entries(F.col("e.scrub_counts")))
    )
).count()
print("golden: keep diffs", bad_keep, "scrub diffs", bad_scrub,
      "reason diffs", bad_reasons, "count diffs", bad_counts)
assert bad_keep == bad_scrub == bad_reasons == bad_counts == 0

# lineage covers empty buckets too
lineage = spark.read.parquet(lin)
nb = lineage.select("partition_id").distinct().count()
print("lineage buckets:", nb)
assert nb == 16, nb

# driver entry
import __spark_entry__ as E

n = E.entry(spark).count()
print("entry rows:", n)
assert n > 0
spark.stop()
print("VERIFY DRIVE OK")
