"""Heavy hitters — exact top-k keys by count, globally or per group.

The diagnostic half of the skew story: the engine's keyed operators
(uniqueness salting, AQE skew joins) *defend*
against hot keys; this operator *reports* them — "which domains carry
the most pages", "which users fire the most events" — so a pipeline
owner can see the skew the defenses are absorbing.

Scale design (10^12 rows):

* Phase 1 — ``groupBy(group, key).count()``: map-side partial
  aggregation collapses each task's contribution to one row per
  (group, key), so even a key holding 10% of all rows arrives at its
  reducer as (#map tasks) partial rows, not 10^11 rows. The shuffle
  carries the AGGREGATED frame: |distinct (group, key)| rows.
* Phase 2 — top-k selection over that aggregate: per group, a window
  ``row_number() OVER (PARTITION BY group ORDER BY n DESC, key)``
  sorts only distinct keys within each group (never raw rows) and
  keeps k. With no ``group``, orderBy+limit plans
  TakeOrderedAndProject (per-partition k-row heaps, driver merge of
  #partitions × k rows) — an empty-partitionBy window would move the
  whole distinct-key domain to one task for a full sort instead.
* Deterministic: ties broken by key ascending, so the returned set
  and its ranks are identical at any parallelism (and re-derivable
  by any engine — the DuckDB oracle runs the same window).
* Honest limit: EXACT top-k requires the full distinct-key aggregate.
  If the key domain itself is enormous (raw urls at 10^12 rows),
  aggregate a coarser key (domain, url prefix) or sample first; a
  sketch tier (count-min / Misra-Gries) is deliberately not built —
  the exact aggregate is one shuffle of 16-byte-ish rows and the
  sketch's error bounds complicate the verdict semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame,
    key: str | Column,
    k: int = 10,
    group: str | Column | None = None,
) -> DataFrame:
    """Top-``k`` values of ``key`` by row count, per ``group`` (or
    globally when ``group`` is None). Returns (group?, key_value, n,
    rank) with rank 1..k, ties broken by key value ascending."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    kcol = F.col(key) if isinstance(key, str) else key
    cols, keys = [kcol.alias("key_value")], ["key_value"]
    if group is not None:
        gcol = F.col(group) if isinstance(group, str) else group
        cols.insert(0, gcol.alias("group"))
        keys.insert(0, "group")
    counts = df.select(*cols).groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    order_cols = [F.desc("n"), F.col("key_value")]
    if group is None:
        # orderBy+limit plans TakeOrderedAndProject (per-partition
        # k-row heaps, driver merge of #partitions × k rows); an empty
        # partitionBy window would instead move EVERY distinct key to
        # one task for a full sort. rank is derived on the k survivors
        # — that window's single partition holds k rows, not the domain
        topk = counts.orderBy(*order_cols).limit(k)
        w = Window.orderBy(*order_cols)
        return topk.withColumn("rank", F.row_number().over(w)).orderBy("rank")
    w = Window.partitionBy("group").orderBy(*order_cols)
    out = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return out.orderBy("group", "rank")
