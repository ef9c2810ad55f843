"""Constraint suggestion — profile a table ONCE and propose the check
suite a new user should start from (the deequ ConstraintSuggestion
family, re-expressed over this engine's fused stats pass).

The reference has no equivalent: its user supplies the checks (table
names / custom SQL, ``/root/reference/data_check/models/table.py``).
A validation engine pointed at a 10^12-row table nobody has profiled
yet needs the inverse direction — derive the gates FROM the data, then
let the user tighten them. The loop this module closes:

    suggest_constraints(df)  ->  suggested rows (column, kind, param,
                                 value) you can review/store
    suggested_suite(df)      ->  a runnable CheckSuite built from them

Self-consistency contract (pytest-enforced): in exact mode
(``approx=False``) the suggested suite PASSES on the table it was
derived from — suggestions are facts about the data plus slack, never
aspirations. Under HLL (``approx=True``, the 100 TB default) the
uniqueness rule is a candidate-key HEURISTIC (estimate >= 0.95
distinctness); the suggested UniquenessCheck re-verifies exactly, so a
mis-suggested key fails loudly on first run instead of gating wrong.

Rules (each row of the output is one rule firing on one column):

  * ``stats / max_null_rate`` — every profiled column. A column with
    zero observed NULLs is locked complete (0.0); otherwise the gate is
    the observed rate with multiplicative slack + additive margin so
    ordinary sampling noise in future runs doesn't page anyone.
  * ``uniqueness / max_duplicate_keys`` — complete (zero-NULL) columns
    whose distinctness (n_distinct / n_nonnull) reaches
    ``unique_min_distinctness``.
    With ``approx=True`` the distinct count is an HLL estimate (~2%
    rsd), so the threshold resolves to 0.95 there vs exactly 1.0 in
    exact mode; the suggested check itself (UniquenessCheck) is always
    exact, so a false-positive suggestion fails loudly on first run
    rather than silently gating wrong.
  * ``profile / max_distinct`` — string columns that look categorical
    (2 <= n_distinct <= categorical_max_distinct): gate the vocabulary
    at ``ceil(n_distinct * distinct_headroom)`` so a lang column
    degrading to free text trips the suite.
  * ``table / min_rows`` — one row (column='*'): volume floor at
    ``floor(n_rows * min_rows_slack)``; an upstream crawl melting away
    should fail validation even when every surviving row is pristine.

Scale notes (100 TB): the profile is ONE ``column_stats`` pass —
a single scan + single HashAggregate with map-side partial
aggregation regardless of column count; ``approx=True`` (default)
keeps distinct counts as HLL sketches (no Expand, no second shuffle).
The rule evaluation then runs over the |columns|-row long frame —
driver-trivial by construction. Suggested values are rounded to
``round_to`` dp (cross-engine convention of operators/stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_check_spark.operators.stats import column_stats
from data_check_spark.plans.audit import latest_run, write_audit

_SUGGESTION_COLS = ("column", "check_kind", "param", "value", "observed", "rationale")


def suggest_constraints(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    partition_col: str | None = None,
    approx: bool = True,
    categorical_max_distinct: int = 100,
    null_slack: float = 1.25,
    null_margin: float = 0.001,
    distinct_headroom: float = 1.5,
    unique_min_distinctness: float | None = None,
    min_rows_slack: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Suggest check parameters from one fused profile of ``df``.

    Returns a long frame ``(column, check_kind, param, value,
    observed, rationale)`` sorted by (column, check_kind, param) —
    one row per rule firing. ``value`` is the suggested gate,
    ``observed`` the statistic it was derived from.

    ``partition_col`` aligns suggestion granularity with enforcement
    granularity: the suite's StatsCheck verdicts are PER PARTITION, so
    a null gate derived from the global rate fails on any partition
    running hotter than average, and a table-level row floor is
    meaningless per partition. With ``partition_col`` set, the null
    gate derives from the MAX per-partition null rate and the volume
    floor from the SMALLEST partition — the tightest gates the current
    data satisfies everywhere. Costs one extra count-only aggregation
    pass (counts only — no distinct sketches, no min/max over text).

    ``unique_min_distinctness=None`` resolves to 1.0 in exact mode
    and 0.95 under HLL (``approx=True``) — the estimator's ~2% rsd
    would otherwise hide genuinely-unique columns.
    """
    if unique_min_distinctness is None:
        unique_min_distinctness = 0.95 if approx else 1.0
    types = {f.name: f.dataType for f in df.schema.fields}
    cols = columns or list(types)
    stats = column_stats(df, cols, approx=approx)

    if partition_col is not None:
        per = df.groupBy(F.col(partition_col).alias("_part")).agg(
            F.count(F.lit(1)).alias("_pn"),
            *[
                F.count_if(F.col(c).isNull()).alias(f"_nn_{i}")
                for i, c in enumerate(cols)
            ],
        )
        reduced = per.agg(
            F.min("_pn").alias("_min_part_rows"),
            *[
                F.max(
                    F.try_divide(
                        F.col(f"_nn_{i}").cast("double"), F.col("_pn").cast("double")
                    )
                ).alias(f"_mr_{i}")
                for i in range(len(cols))
            ],
        )
        melted = reduced.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(f"_mr_{i}").alias("_part_null_rate"),
                        )
                        for i, c in enumerate(cols)
                    ]
                )
            ).alias("kv"),
            "_min_part_rows",
        ).select("kv.column", "kv._part_null_rate", "_min_part_rows")
        stats = stats.join(F.broadcast(melted), "column", "left")
        rate_for_gate = F.greatest(F.col("null_rate"), F.col("_part_null_rate"))
        rows_floor_src = F.col("_min_part_rows")
        volume_rationale = "per-partition floor at half the smallest partition"
    else:
        rate_for_gate = F.col("null_rate")
        rows_floor_src = F.col("n_rows")
        volume_rationale = "volume floor at half the observed rows"

    n_nonnull = (F.col("n_rows") - F.col("n_null")).cast("double")
    distinctness = F.try_divide(F.col("n_distinct").cast("double"), n_nonnull)

    null_gate = F.when(F.col("n_null") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.least(
                F.lit(1.0), rate_for_gate * F.lit(null_slack) + F.lit(null_margin)
            ),
            round_to,
        )
    )
    completeness = stats.select(
        "column",
        F.lit("stats").alias("check_kind"),
        F.lit("max_null_rate").alias("param"),
        null_gate.alias("value"),
        F.round(rate_for_gate, round_to).alias("observed"),
        F.when(
            F.col("n_null") == 0, F.lit("column is complete; lock it in")
        )
        .otherwise(F.lit("observed null rate with slack"))
        .alias("rationale"),
    )

    uniqueness = (
        stats.filter(
            F.col("n_distinct").isNotNull()
            & (n_nonnull > 0)
            & (F.col("n_null") == 0)  # a candidate key must be complete:
            # the suggested UniquenessCheck treats the NULL group as
            # duplicate keys, so a nullable column with distinct
            # non-null values would fail its own suggestion
            & (distinctness >= F.lit(unique_min_distinctness))
        )
        .select(
            "column",
            F.lit("uniqueness").alias("check_kind"),
            F.lit("max_duplicate_keys").alias("param"),
            F.lit(0.0).alias("value"),
            F.round(distinctness, round_to).alias("observed"),
            F.lit("values are distinct; candidate key").alias("rationale"),
        )
    )

    string_cols = [c for c in cols if isinstance(types[c], T.StringType)]
    categorical = (
        stats.filter(
            F.col("column").isin(string_cols)
            & F.col("n_distinct").between(2, categorical_max_distinct)
        )
        .select(
            "column",
            F.lit("profile").alias("check_kind"),
            F.lit("max_distinct").alias("param"),
            F.ceil(F.col("n_distinct") * F.lit(distinct_headroom))
            .cast("double")
            .alias("value"),
            F.col("n_distinct").cast("double").alias("observed"),
            F.lit("low-cardinality vocabulary; gate its growth").alias("rationale"),
        )
        if string_cols
        else None
    )

    volume = stats.limit(1).select(
        F.lit("*").alias("column"),
        F.lit("table").alias("check_kind"),
        F.lit("min_rows").alias("param"),
        F.floor(rows_floor_src * F.lit(min_rows_slack)).cast("double").alias("value"),
        rows_floor_src.cast("double").alias("observed"),
        F.lit(volume_rationale).alias("rationale"),
    )

    out = completeness.unionByName(uniqueness).unionByName(volume)
    if categorical is not None:
        out = out.unionByName(categorical)
    return out.orderBy("column", "check_kind", "param")


def persist_suggestions(
    suggestions: DataFrame,
    audit_path: str,
    run_id: str,
    fmt: str = "parquet",
) -> None:
    """Append a suggestion frame to ``{audit_path}/suggestions`` —
    the same stored-baseline pattern as drift profiles / schemas /
    digests, so onboarding decisions are reviewable and the next run
    can rebuild its suite from them without re-profiling."""
    write_audit(suggestions, f"{audit_path}/suggestions", run_id, "suggestion", fmt)


def suggestions_from_audit(spark: SparkSession, audit_path: str) -> DataFrame:
    """The LATEST stored suggestion set from
    ``{audit_path}/suggestions`` (the newest run, plans/audit.py
    ``latest_run``). Raises if nothing is stored."""
    path = f"{audit_path}/suggestions"
    return latest_run(spark.read.parquet(path), path).select(*_SUGGESTION_COLS)


def suite_from_suggestions(suggestions: DataFrame, *, approx: bool = True):
    """Assemble a runnable CheckSuite from a (possibly stored and
    human-edited) suggestion frame — the same assembly rules as
    ``suggested_suite`` but decoupled from profiling, so a reviewed
    ``{audit}/suggestions`` row set IS the suite definition. min_rows
    is honored whenever present (a stored/reviewed floor is assumed
    to be partition-scoped — the partition-aware suggestion is the
    one worth persisting)."""
    from data_check_spark.plans.suite import (
        CheckSuite,
        ProfileCheck,
        StatsCheck,
        UniquenessCheck,
    )

    rows = suggestions.select(*_SUGGESTION_COLS).collect()
    thresholds: dict[str, dict[str, float]] = {}
    checks: list = []
    min_rows: float | None = None
    for r in rows:
        if r["check_kind"] == "stats":
            thresholds.setdefault(r["column"], {})[r["param"]] = r["value"]
        elif r["check_kind"] == "uniqueness":
            checks.append(UniquenessCheck(key=r["column"]))
        elif r["check_kind"] == "profile" and r["param"] == "max_distinct":
            checks.append(ProfileCheck(r["column"], max_distinct=int(r["value"])))
        elif r["check_kind"] == "table" and r["param"] == "min_rows":
            min_rows = r["value"]
    if min_rows is not None and not thresholds:
        # min_rows rides a StatsCheck column entry; with zero stats
        # rows there is nothing to attach it to — refuse rather than
        # silently return a suite that doesn't enforce the stored floor
        raise ValueError(
            "suggestion frame carries min_rows but no stats rows to "
            "attach it to — keep at least one stats suggestion (e.g. a "
            "max_null_rate row) alongside the volume floor"
        )
    if min_rows is not None:
        thresholds[sorted(thresholds)[0]]["min_rows"] = min_rows
    if thresholds:
        checks.insert(0, StatsCheck(thresholds, approx=approx))
    return CheckSuite(checks)


def suggested_suite(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    partition_col: str | None = None,
    **kwargs,
):
    """Build a runnable CheckSuite from ``suggest_constraints``.

    Collects the suggestion frame (|columns| x |rules| rows — driver-
    trivial) and assembles: one StatsCheck carrying every max_null_rate
    gate, one UniquenessCheck per candidate key, one ProfileCheck per
    categorical vocabulary gate. The min_rows floor is attached (to the
    first suggested column — n_rows is column-independent) only when
    ``partition_col`` is given, because StatsCheck enforces min_rows
    PER PARTITION: only the partition-aware suggestion (floor = half
    the smallest partition) has matching semantics; the global
    table-level floor remains available in the suggestion frame for
    callers that gate volume elsewhere. Runs anywhere a hand-written
    suite runs (audit, resume, partition verdicts)."""
    sugg = suggest_constraints(df, columns, partition_col=partition_col, **kwargs)
    if partition_col is None:
        sugg = sugg.filter(
            ~((F.col("check_kind") == "table") & (F.col("param") == "min_rows"))
        )
    return suite_from_suggestions(sugg, approx=kwargs.get("approx", True))
