"""Per-column statistics — ONE fused aggregation pass over the table.

The key performance idea preserved from the reference: all per-column
metrics are computed in a single scan + single aggregation
(``/root/reference/data_check/processors/bigquery.py:207-224`` computes
2n+1 aggregates for n columns in one query). Here the fused pass is a
single ``df.agg(*exprs)`` — Catalyst plans one HashAggregate with
map-side partial aggregation, so the table is read exactly once no
matter how many columns/metrics are requested.

Output is LONG format (one row per column), which is what the
reference's client-side transpose produced anyway
(``data_processor.py:226-237``) — emitting it directly avoids the
transpose (SURVEY C1).

Scale notes (100 TB):
* metrics are all algebraic/sketchable → map-side combine means the
  shuffle carries one partial-state row per task, not data rows.
* ``approx=True`` (default) uses HyperLogLog ``approx_count_distinct``;
  exact distinct is only for small-scale oracle parity (it triggers an
  Expand, multiplying scan output by the number of distinct-aggs).
* binary columns (html) get only null-count metrics — they are never
  canonicalized or shuffled.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_check_spark.functions.canonical import canonical_string
from data_check_spark.session import local_frame

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


VERDICT_SCHEMA = (
    "partition string, column string, check string, "
    "metric double, threshold double, passed boolean"
)


def verdict_frame(spark, rows: list[tuple]) -> DataFrame:
    """Verdict rows as a local relation: collecting it runs no job."""
    return local_frame(spark, rows, VERDICT_SCHEMA)


ALL_METRICS = frozenset({"n_distinct", "min_max", "mean_stddev"})
# avg_tokens is opt-in even in ALL mode: it tokenizes the whole string
# column (one regex pass per row) — request it via a min_avg_tokens /
# max_avg_tokens threshold.


def _metric_struct(
    name: str, dtype: T.DataType, approx: bool, metrics: frozenset = ALL_METRICS
) -> Column:
    """STRUCT of metrics for one column (ref A6 pattern, long-form).

    ``metrics`` selects the EXPENSIVE aggregates to actually compute
    (n_rows/n_null/null_rate are always in): min/max over a long text
    column is memory-bandwidth-bound and HLL sketches cost CPU — a
    verdict pass that only thresholds null_rate should not pay for
    them (partition_stats_verdicts trims this per column)."""
    c = F.col(name)
    is_binary = isinstance(dtype, T.BinaryType)
    canon = None if is_binary else canonical_string(c, dtype)
    n = F.count(F.lit(1))
    n_null = F.count_if(c.isNull())
    null_lit = lambda t: F.lit(None).cast(t)  # noqa: E731
    if "n_distinct" in metrics and not is_binary:
        distinct = F.approx_count_distinct(canon) if approx else F.countDistinct(canon)
    else:
        distinct = null_lit("bigint")
    if "mean_stddev" in metrics and isinstance(dtype, _NUMERIC):
        mean = F.avg(c).cast("double")
        stddev = F.stddev(c).cast("double")
    else:
        mean, stddev = null_lit("double"), null_lit("double")
    want_minmax = "min_max" in metrics and not is_binary
    if "quantiles" in metrics and isinstance(dtype, _NUMERIC):
        # approx_percentile (KLL-ish sketch, accuracy 1e4) — the north
        # star's per-column quantile stat. One sketch per (partition,
        # column); the three element_at reads dedupe to a single
        # aggregate in the Aggregate node (semantically-equal agg
        # functions are planned once). Opt-in via a min_/max_ p50/p90/
        # p99 threshold, like avg_tokens — a verdict pass that doesn't
        # threshold quantiles shouldn't pay the sketch buffer.
        qarr = F.percentile_approx(
            c, F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000)
        )
        p50 = F.element_at(qarr, 1).cast("double")
        p90 = F.element_at(qarr, 2).cast("double")
        p99 = F.element_at(qarr, 3).cast("double")
    else:
        p50 = p90 = p99 = null_lit("double")
    if "avg_tokens" in metrics and isinstance(dtype, T.StringType):
        # Two-tier token counting. Measured per-row costs on ~800-char
        # pages at local[32] (scripts/profile_tokens.py @ 415cb3d + the
        # 20M A/B below): regexp_count(`\S+`) ≈ 27µs/row (Java regex NFA),
        # each chained replace() ≈ 10µs/row (it REBUILDS the string —
        # an earlier version normalized \t\n\r with 3 unconditional
        # replaces and cost +29 core-µs/row, +290 s on the 20M-page
        # local[2] suite), contains() ≈ sub-µs byte scan (no rebuild),
        # translate ≈ 70µs/row (boxed per-CHARACTER HashMap — never).
        # So: rows containing any \t/\n/\r — newline-separated
        # extracted web text, where space-counting collapses to ~1
        # token regardless of length — pay ONE exact regexp_count
        # pass; clean single-space rows keep the one-rebuild
        # spaces+1 fast path (which overcounts space RUNS by
        # run_len-1 — documented approximation for a threshold
        # metric; exact counting is functions/textstats.token_count).
        other_ws = (
            c.contains(F.lit("\t")) | c.contains(F.lit("\n")) | c.contains(F.lit("\r"))
        )
        trimmed = F.trim(c)
        n_sp = F.length(trimmed) - F.length(F.replace(trimmed, F.lit(" "), F.lit("")))
        clean_count = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(n_sp + F.lit(1))
        avg_tokens = F.avg(
            F.when(other_ws, F.regexp_count(c, F.lit(r"\S+"))).otherwise(clean_count)
        )
    else:
        avg_tokens = null_lit("double")
    if "avg_bytes" in metrics and isinstance(dtype, (T.BinaryType, T.StringType)):
        # content-mass gate for blob/text columns (e.g. html payloads
        # truncated by a bad fetcher): one octet_length per row, no
        # decode, no regex — the cheapest possible content check.
        avg_bytes = F.avg(F.octet_length(c)).cast("double")
    else:
        avg_bytes = null_lit("double")
    return F.struct(
        F.lit(name).alias("column"),
        n.alias("n_rows"),
        n_null.alias("n_null"),
        F.try_divide(n_null.cast("double"), n.cast("double")).alias("null_rate"),
        distinct.alias("n_distinct"),
        (F.min(canon) if want_minmax else null_lit("string")).alias("min_value"),
        (F.max(canon) if want_minmax else null_lit("string")).alias("max_value"),
        mean.alias("mean"),
        stddev.alias("stddev"),
        avg_tokens.cast("double").alias("avg_tokens"),
        avg_bytes.alias("avg_bytes"),
        p50.alias("p50"),
        p90.alias("p90"),
        p99.alias("p99"),
    )


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    approx: bool = True,
    include_quantiles: bool = False,
) -> DataFrame:
    """Long-format per-column stats: one row per column, one data pass.
    ``include_quantiles`` adds p50/p90/p99 per numeric column (one
    approx_percentile sketch each, same pass) — opt-in because the
    sketch buffer isn't free on columns nobody thresholds."""
    types = {f.name: f.dataType for f in df.schema.fields}
    cols = columns or list(types)
    metrics = ALL_METRICS | {"quantiles"} if include_quantiles else ALL_METRICS
    structs = [_metric_struct(c, types[c], approx, metrics) for c in cols]
    wide = df.agg(F.array(*structs).alias("m"))
    return wide.select(F.explode("m").alias("m")).select("m.*")


_QUANTILE_KEYS = tuple(
    f"{bound}_{q}" for q in ("p50", "p90", "p99") for bound in ("min", "max")
)


def _needed_metrics(th: dict[str, float]) -> frozenset:
    m = set()
    if "min_distinct" in th:
        m.add("n_distinct")
    if "min_avg_tokens" in th or "max_avg_tokens" in th:
        m.add("avg_tokens")
    if "min_avg_bytes" in th or "max_avg_bytes" in th:
        m.add("avg_bytes")
    if any(k in th for k in _QUANTILE_KEYS):
        m.add("quantiles")
    return frozenset(m)


def partition_stats_pass(
    df: DataFrame,
    partition_col: Column | str,
    thresholds: dict[str, dict[str, float]],
    approx: bool = True,
    numeric_hists: dict[str, tuple[Column | str, float, float, int]] | None = None,
    exact_distinct: tuple = (),
    expr_counts: dict[str, Column] | None = None,
    fingerprint_cols: list[str] | None = None,
) -> DataFrame:
    """THE fused scan: one ``groupBy(partition)`` computing every
    thresholded column's metrics AND (optionally) a fixed-width
    bucket-count array per numeric-drift spec — so a suite with stat
    thresholds on ``text`` and a text-length drift check decodes the
    (large) text column exactly ONCE instead of once per pass.

    ``expr_counts`` (suite ExprCheck support): {name: boolean Column}
    — each adds ONE more ``count_if`` aggregate (emitted as
    ``_x_<name>``, plus one shared ``_xn`` row count) to the same
    pass; arbitrary row-predicate checks therefore cost zero extra
    scans when stats are already being computed.

    Returns a SMALL frame (one row per partition): (partition,
    _m array<struct metrics> when any column is thresholded,
    _h_<kind> array<bigint> per hist, _xn/_x_<name> per expr
    predicate). Callers collect it and derive verdicts
    (stats_verdict_rows), drift profiles and the partition list from
    the rows without touching the table again.

    Bucket ids are projected as columns BEFORE the aggregation —
    count_if(bucket == i) across n_buckets aggregates must compare an
    int, not re-evaluate length(text) per bucket (HOF/CSE pitfall).
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    part = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    structs = [
        # columns in exact_distinct get their n_distinct from a
        # separate two-key aggregation (see exact_distinct_counts) —
        # emit NULL here so the caller can patch it in
        _metric_struct(
            c, types[c], approx,
            _needed_metrics(th) - ({"n_distinct"} if c in exact_distinct else set()),
        )
        for c, th in thresholds.items()
    ]
    numeric_hists = numeric_hists or {}
    base = df
    if numeric_hists:
        from data_check_spark.operators.drift import bucket_expr, bucket_keep

        bucket_cols = []
        for name, (c, lo, hi, nb) in numeric_hists.items():
            col = F.col(c) if isinstance(c, str) else c
            bucket_cols.append(
                F.when(bucket_keep(col), bucket_expr(col, lo, hi, nb)).alias(
                    f"_b_{name}"
                )
            )
        base = df.select("*", *bucket_cols)
    hist_aggs = []
    for name, (_, _, _, nb) in numeric_hists.items():
        bc = F.col(f"_b_{name}")
        hist_aggs.append(
            F.array(*[F.count_if(bc == i) for i in range(nb)]).alias(f"_h_{name}")
        )
    expr_aggs = []
    if expr_counts:
        expr_aggs.append(F.count(F.lit(1)).alias("_xn"))
        expr_aggs += [F.count_if(c).alias(f"_x_{n}") for n, c in expr_counts.items()]
    fp_aggs = []
    if fingerprint_cols:
        # suite FingerprintCheck support: per-partition content
        # lineage rides this pass — one projected md5 + three more
        # aggregates, zero extra scans (operators/fingerprint.py)
        from .fingerprint import lane_sum_aggs, row_hash

        base = base.select("*", row_hash(fingerprint_cols).alias("_fph"))
        fp_aggs = [F.count(F.lit(1)).alias("_fpn"), *lane_sum_aggs("_fph", "_fp")]
    metric_aggs = [F.array(*structs).alias("_m")] if structs else []
    return base.groupBy(part.alias("partition")).agg(
        *metric_aggs, *hist_aggs, *expr_aggs, *fp_aggs
    )


def exact_distinct_counts(
    df: DataFrame,
    partition_col: Column | str,
    columns: tuple,
) -> dict[tuple, int]:
    """Exact per-partition distinct counts for LOW-CARDINALITY columns
    in ONE Spark job: ``groupBy(partition).agg(count_distinct(...)
    per column)``. A single distinct aggregate plans as the same
    two-phase (partition, value) partial aggregation the old per-column
    loop built by hand (map-side combine → |values| x |partitions|
    partial rows); N>1 distinct columns plan one Expand(N) over the
    scan — still one job, vs N serialized jobs (each paying scan +
    scheduling latency) before. Values are canonicalized with
    ``canonical_string`` so the exact path counts the SAME domain the
    HLL path it replaces does (arrays → sorted-distinct join, binary →
    base64; a no-op for strings). count_distinct ignores NULLs — an
    all-NULL partition reports 0, matching approx_count_distinct.
    Returns {(partition, column): n_distinct}."""
    part = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [
        F.count_distinct(canonical_string(F.col(c), types[c])).alias(c) for c in columns
    ]
    rows = df.groupBy(part.alias("partition")).agg(*aggs).collect()
    out: dict[tuple, int] = {}
    for r in rows:
        for c in columns:
            out[(r["partition"], c)] = r[c]
    return out


def partition_stats_verdicts(
    df: DataFrame,
    partition_col: Column | str,
    thresholds: dict[str, dict[str, float]],
    approx: bool = True,
) -> DataFrame:
    """Per-partition pass/fail verdict rows (the north-rule spine).

    One ``groupBy(partition).agg(...)`` pass computes every column's
    metrics per partition (collected: one row per partition);
    thresholds turn metrics into verdicts driver-side
    (``stats_verdict_rows``). ``thresholds``: {column:
    {"max_null_rate": x, "min_distinct": k, "min_rows": r}} — missing
    keys are not checked.

    Output: one row per (partition, column, check) with columns
    (partition, column, check, metric, threshold, passed), plus one
    summary row per partition (column='*', check='all',
    metric=#failed, passed=all-passed). Deterministic at any
    parallelism: all values are exact-or-sketch aggregates of the
    partition's rows, independent of task layout.
    """
    threshold_rules(thresholds)
    rows = partition_stats_pass(df, partition_col, thresholds, approx).collect()
    return verdict_frame(
        df.sparkSession,
        stats_verdict_rows([r.asDict(recursive=True) for r in rows], thresholds),
    )


# threshold key -> (metric field, comparison); min_<q>/max_<q> for
# the p50/p90/p99 quantiles
_RULES = {
    "max_null_rate": ("null_rate", operator.le),
    "min_distinct": ("n_distinct", operator.ge),
    "min_avg_tokens": ("avg_tokens", operator.ge),
    "max_avg_tokens": ("avg_tokens", operator.le),
    "min_avg_bytes": ("avg_bytes", operator.ge),
    "max_avg_bytes": ("avg_bytes", operator.le),
    **{
        f"{bound}_{q}": (q, op)
        for q in ("p50", "p90", "p99")
        for bound, op in (("min", operator.ge), ("max", operator.le))
    },
    "min_rows": ("n_rows", operator.ge),
}


def threshold_rules(thresholds: dict[str, dict[str, float]]) -> list[tuple]:
    """(column, check, metric field, comparison, bound) per configured
    threshold; raises when there is none."""
    rules = [
        (col, check, fld, op, float(th[check]))
        for col, th in thresholds.items()
        for check, (fld, op) in _RULES.items()
        if check in th
    ]
    if not rules:
        raise ValueError("no thresholds given")
    return rules


def stats_verdict_rows(
    pass_rows: list[dict], thresholds: dict[str, dict[str, float]]
) -> list[tuple]:
    """Threshold verdict rows, as plain Python tuples, from collected
    ``partition_stats_pass`` rows (dicts with ``partition`` and the
    ``_m`` metric structs): one row per (partition, column, check)
    plus each partition's (column='*', check='all') summary, whose
    metric is its number of failed checks.

    A NULL metric FAILS (a binary column's n_distinct, an all-NULL
    column's avg_bytes, a non-numeric column's quantile). A NaN metric
    compares as Spark orders it: above every number."""
    rules = threshold_rules(thresholds)
    out = []
    for row in pass_rows:
        metrics = {m["column"]: m for m in row["_m"]}
        rows = []
        for col, check, fld, op, bound in rules:
            m = metrics[col][fld]
            m = None if m is None else float(m)
            ok = m is not None and (op(m, bound) if m == m else op is operator.ge)
            rows.append((row["partition"], col, check, m, bound, ok))
        failed = sum(not r[5] for r in rows)
        out += rows + [(row["partition"], "*", "all", float(failed), 0.0, failed == 0)]
    return out


def iqr_outlier_counts(
    df: DataFrame, cols: list[str], k: float = 1.5, round_to: int = 6
) -> DataFrame:
    """Robust (Tukey-fence) outlier counts per numeric column: rows
    below ``q1 − k·IQR`` / above ``q3 + k·IQR`` → one long-format row
    per column: (column, n_rows, q1, q3, lo_fence, hi_fence, n_below,
    n_above). The standard quality gate for 'clip or flag pathological
    doc lengths / values' in a data pipeline — robust where a
    mean±3σ fence is dragged by the very outliers it should catch.

    Determinism across engines (why IQR, not z-score, is the oracled
    form): exact ``percentile`` with linear interpolation is a pure
    function of the sorted values — no float summation-order
    dependence — so Spark and DuckDB (quantile_cont) produce
    bit-identical fences; a mean/std fence differs in the last ulp
    per summation order and can flip a boundary count.

    Scale: ONE full-sort-free percentile pass for ALL columns fused in
    a single aggregation (Spark's exact percentile buffers per-task
    value multisets — for 10^12-row frames prefer the t-digest fences,
    operators/sketch.quantiles_via_tdigest, same output contract at
    ±rank-error), then ONE fused count pass with the fences as
    literals — two scans total for any number of columns."""
    if not cols:
        raise ValueError("cols must be non-empty")
    raw = df.agg(
        *[
            F.percentile(F.col(c), F.lit(q)).alias(f"{c}__{name}")
            for c in cols
            for name, q in (("q1", 0.25), ("q3", 0.75))
        ]
    )
    # fence arithmetic + rounding stay in Spark expressions: Spark's
    # round (HALF_UP) matches DuckDB's round for all signs, while
    # Python's round() is half-to-even — doing this driver-side would
    # diverge from the oracle on exact halves
    qs = raw.select(
        *[
            e
            for c in cols
            for e in (
                F.round(F.col(f"{c}__q1"), round_to).alias(f"{c}__q1r"),
                F.round(F.col(f"{c}__q3"), round_to).alias(f"{c}__q3r"),
                F.round(
                    F.col(f"{c}__q1") - k * (F.col(f"{c}__q3") - F.col(f"{c}__q1")),
                    round_to,
                ).alias(f"{c}__lo"),
                F.round(
                    F.col(f"{c}__q3") + k * (F.col(f"{c}__q3") - F.col(f"{c}__q1")),
                    round_to,
                ).alias(f"{c}__hi"),
            )
        ]
    ).collect()[0]
    fences = {
        c: (qs[f"{c}__lo"], qs[f"{c}__hi"], qs[f"{c}__q1r"], qs[f"{c}__q3r"])
        for c in cols
    }
    counts = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            agg
            for c in cols
            for agg in (
                F.count_if(F.col(c) < F.lit(fences[c][0])).alias(f"{c}__below"),
                F.count_if(F.col(c) > F.lit(fences[c][1])).alias(f"{c}__above"),
            )
        ],
    ).collect()[0]
    spark = df.sparkSession
    rows = [
        (c, counts["_n"], fences[c][2], fences[c][3], fences[c][0], fences[c][1],
         counts[f"{c}__below"], counts[f"{c}__above"])
        for c in cols
    ]
    return local_frame(
        spark,
        rows,
        "column string, n_rows bigint, q1 double, q3 double, "
        "lo_fence double, hi_fence double, n_below bigint, n_above bigint",
    )


def categorical_profile(
    df: DataFrame, cols: list[str], round_to: int = 6
) -> DataFrame:
    """Per-column categorical profile in long format — the
    deequ-analyzer family (Entropy / Distinctness / Uniqueness /
    UniqueValueRatio / mode share) this engine's threshold verdicts
    don't otherwise expose. One row per column:

      (column, n_nonnull, n_null, n_distinct,
       distinctness   = n_distinct / n_nonnull,
       uniqueness     = |values seen exactly once| / n_nonnull,
       unique_ratio   = |values seen exactly once| / n_distinct,
       mode_share     = max value count / n_nonnull,
       entropy        = Shannon entropy over value frequencies, bits)

    The gates these feed: entropy collapse (a crawl suddenly
    one-language), constant columns (distinctness → 0 with
    n_distinct 1), hot-value takeover (mode_share → 1), and
    should-be-key columns degrading (uniqueness < 1).

    Plan (ONE table scan for any number of columns): melt the
    requested columns via explode(array(struct(name, canonical
    value))) — row count × len(cols), map-side only — then
    groupBy(column, value).count() (shuffle keyed on (column, value);
    map-side combine means the exchange carries one partial row per
    distinct value per task, not data rows), then a second tiny
    aggregation over the distinct-value rows. Values are lowered with
    ``canonical_string`` so every type profiles over the same domain
    the stats/diff operators use.

    Entropy is computed algebraically as
    ``log2(N) − Σ n·log2(n) / N`` so it needs no second pass for N,
    and is rounded to ``round_to`` dp (the PSI precedent,
    __spark_entry__ psi queries): per-term log2 can differ from
    another engine's libm in the last ulp, and the rounding absorbs
    the summation-order + libm noise. The pure-integer ratios are
    single IEEE divisions — bit-identical across engines unrounded.

    Scale: exact entropy over a ~unique column (url) shuffles one row
    per distinct value — inherent to exact entropy and pointless there
    (it ≈ log2 N); profile such columns with HLL ``column_stats``
    instead and keep this for categorical/low-cardinality columns,
    where the shuffle is tiny.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    types = {f.name: f.dataType for f in df.schema.fields}
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        canonical_string(F.col(c), types[c]).alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select("kv.column", "kv.value")
    counts = melted.groupBy("column", "value").agg(F.count(F.lit(1)).alias("n"))
    nonnull = F.col("value").isNotNull()
    n_total = F.sum(F.when(nonnull, F.col("n")).otherwise(F.lit(0)))
    return (
        counts.groupBy("column")
        .agg(
            n_total.alias("n_nonnull"),
            F.coalesce(
                F.sum(F.when(~nonnull, F.col("n"))), F.lit(0)
            ).alias("n_null"),
            F.count_if(nonnull).alias("n_distinct"),
            F.count_if(nonnull & (F.col("n") == 1)).alias("_n_once"),
            F.max(F.when(nonnull, F.col("n"))).alias("_mode_n"),
            F.sum(
                F.when(nonnull, F.col("n") * F.log2(F.col("n"))).otherwise(F.lit(0.0))
            ).alias("_sum_nlog2n"),
        )
        .select(
            "column",
            "n_nonnull",
            "n_null",
            "n_distinct",
            F.try_divide(F.col("n_distinct"), F.col("n_nonnull")).alias("distinctness"),
            F.try_divide(F.col("_n_once"), F.col("n_nonnull")).alias("uniqueness"),
            F.try_divide(F.col("_n_once"), F.col("n_distinct")).alias("unique_ratio"),
            F.try_divide(F.col("_mode_n"), F.col("n_nonnull")).alias("mode_share"),
            F.round(
                F.log2(F.col("n_nonnull"))
                - F.try_divide(F.col("_sum_nlog2n"), F.col("n_nonnull")),
                round_to,
            ).alias("entropy"),
        )
        .orderBy("column")
    )
