"""The crash-and-resume path, checked end to end.

A fresh manifest has every other crawl hour already marked complete,
as if an earlier run had crashed half way. ``run_resumable`` must then
validate exactly the other hours, agree with an uninterrupted run on
every (partition, column, check) it reports, leave 168 manifest
records, and return ``None`` when called again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_check_spark.plans.manifest import Manifest
from data_check_spark.runner import default_pages_suite

# the partition space: every crawl hour of the synth tables' 7 days
HOURS = [f"2025-06-{d:02d} {h:02d}" for d in range(1, 8) for h in range(24)]


def check_resume(spark: SparkSession, pages: str, out: str) -> list[str]:
    """Problems found on the resume path over the parquet at ``pages``
    (empty = correct). Every hour must hold at least one row."""
    suite = default_pages_suite(with_drift=False)
    df = spark.read.parquet(pages).withColumn(
        "warc_hour", F.date_format("warc_ts", "yyyy-MM-dd HH")
    )
    manifest = Manifest(os.path.join(out, "manifest"))
    for hour in HOURS[::2]:
        manifest.mark_complete(hour, "crashed-run")
    audit = os.path.join(out, "audit")

    res = suite.run_resumable(spark, df, "warc_hour", manifest, audit_path=audit)
    resumed = [tuple(r) for r in res.verdicts.collect()]
    res.unpersist()
    again = suite.run_resumable(spark, df, "warc_hour", manifest, audit_path=audit)
    full_res = suite.run(spark, df, "warc_hour")
    full = {tuple(r[:3]): tuple(r) for r in full_res.verdicts.collect()}
    full_res.unpersist()

    problems = []
    if again is not None:
        problems.append("second run_resumable call did not return None")
    records = len(manifest.completed())
    if records != len(HOURS):
        problems.append(f"manifest holds {records} records, expected {len(HOURS)}")
    parts = {r[0] for r in resumed}
    if parts != set(HOURS[1::2]):
        problems.append(
            f"resumed partitions differ from the pending hours: "
            f"{sorted(parts ^ set(HOURS[1::2]))[:5]}"
        )
    for row in resumed:
        if full.get(row[:3]) != row:
            problems.append(f"resumed {row} != full run {full.get(row[:3])}")
    return problems
