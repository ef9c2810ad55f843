"""Inline validation via ``DataFrame.observe`` — zero-extra-scan verdicts.

The batch :class:`~data_check_spark.plans.suite.CheckSuite` costs one
fused scan of the table. This module removes even that one: Spark's
CollectMetrics node (``DataFrame.observe``) accumulates aggregate
expressions ON THE SIDE of whatever action the caller was already
running — typically the write that materializes the table version
being validated. At 10^12 documents that means validation reads ZERO
extra bytes: the metrics ride the write job's own scan with per-task
partial aggregation (CollectMetrics is accumulator-backed — it adds
no shuffle, no extra stage, and no second pass to the plan).

Scope contract
--------------
CollectMetrics is a GLOBAL aggregate (one metrics row per action), so
verdicts come out ``partition='*'`` — the inline path is the global
fast gate, mirroring the batch suite's global drift/profile verdicts.
Per-partition verdict rows still need the batch suite's
``groupBy(partition)`` pass. Check kinds that reduce to one global
aggregate ride along:

* :class:`StatsCheck` — every threshold metric the fused batch pass
  computes (null rate, row count, min/max, HLL distinct, mean/stddev,
  avg_tokens/avg_bytes, approx-percentile p50/p90/p99) is an
  aggregate expression, so the SAME ``_metric_struct`` the batch scan
  uses compiles directly into the observation. Identical metric
  semantics by construction, not by re-implementation.
* :class:`ExprCheck` — one ``count_if`` of the fail-closed violation
  predicate (FALSE-or-NULL rows violate) plus one shared row count,
  exactly the batch suite's fused ``_xn``/``_x_{name}`` aggregates.

Kinds that need a shuffle (uniqueness, functional dependency,
referential, drift-vs-reference, near-dup…) cannot be expressed as
CollectMetrics aggregates; the constructor rejects them loudly rather
than silently skipping a declared check.

Streaming twin: ``attach`` with ``streaming=True`` uses a NAMED
observation (``df.observe("data_check", …)``), whose metrics surface
in every ``StreamingQueryProgress.observedMetrics`` epoch;
``verdicts`` accepts that plain dict, so a streaming job gets the
same verdict rows per micro-batch with the same zero-extra-scan
property.

ref parity: the reference validates after the table lands — a second
full read of data it just wrote (data_processor.py run loop). Riding
the write is the Spark-native upgrade: same verdict-row contract
at write time, for free.
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_check_spark.operators.stats import (
    _metric_struct,
    _needed_metrics,
    stats_verdict_rows,
    verdict_frame,
)
from data_check_spark.plans.checks import _gate


@dataclass
class ObservedSuite:
    """Compile a CheckSuite's aggregate-expressible checks into one
    ``df.observe`` call; turn the observed metrics back into the
    batch suite's verdict rows.

    Usage (batch)::

        osuite = ObservedSuite(suite)
        df, obs = osuite.attach(df)
        df.write.parquet(path)              # the user's OWN action
        verdicts = osuite.verdicts(spark, obs)   # zero extra scans

    Usage (streaming)::

        df = osuite.attach(df, streaming=True)
        ... start the query ...
        verdicts = osuite.verdicts(
            spark, query.lastProgress["observedMetrics"][osuite.name])
    """
    suite: "object"  # CheckSuite (duck-typed: .checks)
    name: str = "data_check"
    _thresholds: dict = field(init=False, default_factory=dict)
    _expr_checks: list = field(init=False, default_factory=list)
    _col_approx: dict = field(init=False, default_factory=dict)

    def __post_init__(self) -> None:
        # each check kind says whether and how it rides an observation
        # (Check.observe): stats thresholds and expr predicates do,
        # kinds needing a shuffle raise
        for chk in self.suite.checks:
            chk.observe(self)
        if not self._thresholds and not self._expr_checks:
            raise ValueError("no observable checks in suite")

    # ------------------------------------------------------------------
    def _metric_exprs(self, df: DataFrame) -> list[Column]:
        types = {f.name: f.dataType for f in df.schema.fields}
        missing = [c for c in self._thresholds if c not in types]
        if missing:
            raise ValueError(f"thresholded columns not in frame: {missing}")
        exprs: list[Column] = []
        if self._thresholds:
            structs = [
                # the SAME struct the batch fused pass aggregates —
                # trimmed to the metrics this column's thresholds need
                _metric_struct(
                    c, types[c], self._col_approx[c], _needed_metrics(th)
                )
                for c, th in self._thresholds.items()
            ]
            exprs.append(F.array(*structs).alias("_m"))
        if self._expr_checks:
            exprs.append(F.count(F.lit(1)).alias("_xn"))
            exprs.extend(
                F.count_if(c.violated()).alias(f"_x_{c.name}") for c in self._expr_checks
            )
        return exprs

    def attach(
        self, df: DataFrame, streaming: bool = False
    ) -> tuple[DataFrame, Observation] | DataFrame:
        """Return ``df`` with the suite's metrics attached as a
        CollectMetrics node. Batch: ``(df, Observation)`` — read the
        observation after the caller's first action on ``df``.
        Streaming: just ``df`` (named observation; metrics arrive in
        every ``StreamingQueryProgress.observedMetrics[self.name]``).
        """
        exprs = self._metric_exprs(df)
        if streaming:
            return df.observe(self.name, *exprs)
        obs = Observation(self.name)
        return df.observe(obs, *exprs), obs

    # ------------------------------------------------------------------
    def verdicts(self, spark: SparkSession, metrics) -> DataFrame:
        """Verdict rows (the batch suite's verdict schema,
        ``partition='*'``) from an ``Observation`` or a plain
        observed-metrics dict.

        Pure driver math over the handful of observed values, returned
        as one local relation. Stats thresholds reuse the batch
        ``stats_verdict_rows`` (identical pass/fail semantics,
        including fail-closed NULL handling and the
        ``column='*'``/``check='all'`` summary row); expr verdicts
        mirror the batch suite's ratio rows.
        """
        if isinstance(metrics, Observation):
            metrics = metrics.get
        rows: list[tuple] = []
        if self._thresholds:
            structs = [m.asDict() if hasattr(m, "asDict") else dict(m) for m in metrics["_m"]]
            rows += stats_verdict_rows([{"partition": "*", "_m": structs}], self._thresholds)
        for chk in self._expr_checks:
            n = metrics["_xn"]
            ratio = metrics[f"_x_{chk.name}"] / n if n else None
            rows.append(_gate("*", chk.name, "expr", ratio, chk.max_violation_ratio))
        return verdict_frame(spark, rows)
