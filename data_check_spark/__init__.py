"""data_check_spark — a PySpark-native schema + constraint validation engine.

Capability-equivalent rebuild of aballiet/data-check (a BigQuery
data-diff tool, see /root/reference) re-expressed Spark-first:
declarative check suites (schema diff, per-column stats, PK
uniqueness, PK overlap census, referential integrity, per-column
match ratios, row-level diff, distribution drift) compiled to
DataFrame expressions so Catalyst/AQE pick the physical plan.

Designed for 100 TB-scale tables of Common-Crawl-style web pages
(url, warc_ts, html, text, lang): explicit key-hash repartitioning,
key checks that shuffle 8-byte key hashes instead of keys, broadcast
joins for dimension snapshots, binary columns projected away before
shuffles, and a checkpoint manifest for resumable runs.
"""

__version__ = "0.1.0"

from data_check_spark.session import get_spark  # noqa: F401
