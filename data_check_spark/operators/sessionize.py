"""Gap-based sessionization: assign every event a per-key session
sequence number, where a new session starts whenever the gap to the
key's previous event exceeds ``gap_seconds``.

The classic distributed rendering (one shuffle, two running window
passes — no stateful UDF needed in batch):

1. hash-partition on the key, in-partition sort by (ts, tiebreak);
2. ``lag(ts)`` gives the previous event's time; the boundary flag is
   ``gap > gap_seconds`` computed on INTEGER epoch microseconds so
   the threshold comparison is engine-exact (no float rounding at
   the boundary);
3. a running ``sum(flag)`` turns boundary flags into 1-based session
   sequence numbers.

Cost: ONE shuffle of (key, ts, tiebreak, row) + an in-partition sort;
both window functions are running aggregates over the same window
frame, so Catalyst evaluates them in a single Window operator — the
same plan shape as the as-of join. A hot key lands on one task like
any per-key window; events streams are keyed by user/device, whose
cardinality grows with data size, so partitions stay balanced at
scale.

Exact-timestamp ties within a key cannot flip session assignment (the
gap between equal timestamps is 0 regardless of order), but a
``tiebreak_col`` still makes the SORT total so downstream per-session
ordinals are reproducible at any parallelism.

The reference engine has no sessionization (single-key equality
checks only, /root/reference/data_check/processors/bigquery.py);
beyond-reference training-pipeline layer (conversation/session
grouping of event and interaction logs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
    *,
    tiebreak_col: str | None = None,
    out_col: str = "session_seq",
) -> DataFrame:
    """Return ``df`` with ``out_col`` appended: the 1-based session
    index of each row within its key (ordered by ``ts_col``, then
    ``tiebreak_col``). NULL timestamps are rejected — the job fails
    on the first one (a NULL would sort first and increment the
    running boundary sum, shifting every real session index for its
    key); filter them out first."""
    if gap_seconds <= 0:
        raise ValueError("gap_seconds must be positive")
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    us = F.when(
        F.col(ts_col).isNull(),
        F.raise_error(
            F.lit(f"sessionize: NULL {ts_col} — filter NULL timestamps first")
        ).cast("long"),
    ).otherwise(F.unix_micros(F.col(ts_col).cast("timestamp")))
    gap_us = int(round(gap_seconds * 1_000_000))
    prev = F.lag(us).over(w)
    boundary = F.when(
        prev.isNull() | ((us - prev) > F.lit(gap_us)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(out_col, F.sum(boundary).over(run).cast("int"))
