"""Distribution-drift checks between two table versions (north rule):
PSI over categorical frequencies (e.g. lang) and over fixed-width
numeric histograms (e.g. length(text)), plus a histogram-based KS
statistic.

Not present in the reference (it has no distribution checks) — this is
the north-rule extension. Everything is DataFrame aggregation:

* per-version state = a frequency vector / histogram, built with ONE
  ``groupBy(bucket).count()`` pass per version (map-side combine → the
  shuffle carries one row per bucket per task, never data rows);
* PSI/KS then operate on the two tiny bucket tables (a few hundred
  rows) — joined and reduced JVM-side, no driver loops, no Python UDF.

At 100 TB the histogram pass is embarrassingly parallel and the drift
math is O(#buckets); nothing here grows with data size except the one
scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_check_spark.session import local_frame

EPS = 1e-6  # PSI epsilon floor for empty buckets (standard practice)


def _with_freq(counts: DataFrame) -> DataFrame:
    """freq = n / Σn via a broadcast scalar cross-join — avoids the
    single-partition all-rows window (the bucket table is tiny, but a
    window-over-everything is still the wrong shape)."""
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).withColumn(
        "freq", F.col("n").cast("double") / F.col("_total")
    ).drop("_total")


def categorical_frequencies(df: DataFrame, col: str | Column, name: str = "category") -> DataFrame:
    """(category, n, freq) for one version. NULL category kept as its
    own bucket (drift in null-rate is drift)."""
    c = F.col(col) if isinstance(col, str) else col
    counts = df.groupBy(c.alias(name)).agg(F.count(F.lit(1)).alias("n"))
    return _with_freq(counts)


def psi_categorical(
    df1: DataFrame, df2: DataFrame, col: str | Column, round_to: int = 6
) -> DataFrame:
    """Population Stability Index between the two versions' categorical
    distributions → one row (psi, n_categories). PSI = Σ (p−q)·ln(p/q)
    with an epsilon floor on empty buckets."""
    f1 = categorical_frequencies(df1, col).select(
        "category", F.col("freq").alias("p")
    )
    f2 = categorical_frequencies(df2, col).select(
        "category", F.col("freq").alias("q")
    )
    # eqNullSafe: the NULL bucket is a real category here (drift in
    # null-rate is drift) — a plain equi-join would put each side's
    # NULL row on its own side of the full outer join and charge both
    # against the epsilon floor, manufacturing a huge false PSI on a
    # column with any null mass (the DuckDB twin uses IS NOT
    # DISTINCT FROM)
    j = f1.join(
        f2, on=f1["category"].eqNullSafe(f2["category"]), how="full_outer"
    ).select(
        F.coalesce(f1["p"], F.lit(EPS)).alias("p"),
        F.coalesce(f2["q"], F.lit(EPS)).alias("q"),
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return j.agg(
        F.round(F.sum(term), round_to).alias("psi"),
        F.count(F.lit(1)).alias("n_categories"),
    )


def bucket_expr(col: Column, lo: float, hi: float, n_buckets: int) -> Column:
    """THE fixed-width histogram bucket convention — floor((x-lo)/w)
    clamped to the edge buckets — shared by numeric_histogram,
    drift_profile and the fused stats pass so the three can never
    drift apart. Pair with ``bucket_keep``: NaN must be filtered
    BEFORE bucketing (NaN arithmetic would land it in an arbitrary
    edge bucket and inflate its mass — same reasoning as the t-digest,
    operators/sketch.py)."""
    width = (hi - lo) / n_buckets
    b = F.floor((col.cast("double") - F.lit(lo)) / F.lit(width)).cast("int")
    return F.greatest(F.lit(0), F.least(F.lit(n_buckets - 1), b))


def bucket_keep(col: Column) -> Column:
    """Rows eligible for a histogram bucket: non-NULL and non-NaN.
    The double cast makes isnan safe on integer columns."""
    return col.isNotNull() & ~F.isnan(col.cast("double"))


def numeric_histogram(
    df: DataFrame,
    col: Column | str,
    lo: float,
    hi: float,
    n_buckets: int = 50,
) -> DataFrame:
    """Fixed-width histogram of a numeric expression → (bucket, n, freq).
    Bucket 0..n_buckets-1 inside [lo, hi); values outside are clamped
    to the edge buckets; NULLs and NaNs are dropped. Fixed,
    data-independent bucket edges make per-version histograms
    mergeable and deterministic (no two-pass min/max needed at
    scale)."""
    c = F.col(col) if isinstance(col, str) else col
    counts = (
        df.filter(bucket_keep(c))
        .groupBy(bucket_expr(c, lo, hi, n_buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _with_freq(counts)


def psi_numeric(
    df1: DataFrame,
    df2: DataFrame,
    col: Column | str,
    lo: float,
    hi: float,
    n_buckets: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """PSI over fixed-width histograms of a numeric expression."""
    h1 = numeric_histogram(df1, col, lo, hi, n_buckets).select(
        "bucket", F.col("freq").alias("p")
    )
    h2 = numeric_histogram(df2, col, lo, hi, n_buckets).select(
        "bucket", F.col("freq").alias("q")
    )
    j = h1.join(h2, on="bucket", how="full_outer").select(
        F.coalesce("p", F.lit(EPS)).alias("p"),
        F.coalesce("q", F.lit(EPS)).alias("q"),
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return j.agg(F.round(F.sum(term), round_to).alias("psi"))


def drift_profile(
    df: DataFrame,
    categoricals: dict[str, Column | str],
    numerics: dict[str, tuple[Column | str, float, float, int]],
) -> DataFrame:
    """ONE scan building every drift distribution at once →
    (kind, key, n, freq) where kind names the check and key is the
    category / bucket-id as a string.

    This is the fused-pass idea (ref bigquery.py:207-224) applied to
    drift: a suite with lang-frequency AND text-length-histogram
    checks costs one scan of the table, not one per check — at 100 TB
    the scan is the cost, the per-row explode of K tiny structs is
    noise. Categorical NULLs are kept as their own bucket; numeric
    NULLs are dropped (matching categorical_frequencies /
    numeric_histogram semantics).
    """
    entries = []
    for name, c in categoricals.items():
        col = F.col(c) if isinstance(c, str) else c
        entries.append(
            F.struct(
                F.lit(name).alias("kind"),
                col.cast("string").alias("key"),
                F.lit(True).alias("keep"),
            )
        )
    for name, (c, lo, hi, n_buckets) in numerics.items():
        col = F.col(c) if isinstance(c, str) else c
        entries.append(
            F.struct(
                F.lit(name).alias("kind"),
                bucket_expr(col, lo, hi, n_buckets).cast("string").alias("key"),
                bucket_keep(col).alias("keep"),
            )
        )
    counts = (
        df.select(F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e.keep"))
        .groupBy(F.col("e.kind").alias("kind"), F.col("e.key").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = counts.groupBy("kind").agg(F.sum("n").alias("_total"))
    return counts.join(F.broadcast(totals), "kind").withColumn(
        "freq", F.col("n").cast("double") / F.col("_total")
    ).drop("_total")


def _digest_arrays(digest: DataFrame):
    """Driver readout of a merged t-digest (≤ ~2δ rows, bounded):
    (means, midpoint-cumulative-weights, total, vmin, vmax)."""
    return _digest_arrays_pdf(digest.toPandas())


def _digest_arrays_pdf(pdf):
    """_digest_arrays over an already-collected pandas frame — lets a
    caller persist the same ≤ ~2δ rows it reads out (one collect)."""
    import numpy as np

    cent = pdf[~pdf["is_edge"]].sort_values("mean")
    if len(cent) == 0:
        return None
    m = cent["mean"].to_numpy("float64")
    w = cent["weight"].to_numpy("float64")
    cum = np.cumsum(w) - w / 2.0
    return m, cum, float(w.sum()), float(pdf["vmin"].min()), float(pdf["vmax"].max())


def _digest_cdf(arrays, xs):
    """Midpoint-rule CDF of a digest at points xs, anchored at the
    exact (vmin, 0) and (vmax, total) extremes the digest carries."""
    import numpy as np

    m, cum, total, vmin, vmax = arrays
    xp, fp = list(m), list(cum)
    if vmin < xp[0]:
        xp.insert(0, vmin)
        fp.insert(0, 0.0)
    if vmax > xp[-1]:
        xp.append(vmax)
        fp.append(total)
    f = np.interp(xs, xp, fp, left=0.0, right=total)
    return f / total


def build_digest_arrays(
    df1: DataFrame, df2: DataFrame, col: Column | str, delta: float = 300.0
):
    """Per-version merged t-digests as driver arrays (each side is ONE
    scan emitting ≤ ~2δ centroid rows; None for an empty side)."""
    from data_check_spark.operators.sketch import merge_tdigest, partition_tdigest

    c = F.col(col) if isinstance(col, str) else col
    return tuple(
        _digest_arrays(merge_tdigest(partition_tdigest(d.select(c.alias("_v")), "_v", delta), delta))
        for d in (df1, df2)
    )


def ks_from_digest_arrays(a1, a2, round_to: int = 6) -> float | None:
    """Two-sample KS from two digest readouts: max |CDF1 − CDF2| at the
    union of centroid means."""
    import numpy as np

    if a1 is None or a2 is None:
        return None
    xs = np.union1d(a1[0], a2[0])
    return round(float(np.max(np.abs(_digest_cdf(a1, xs) - _digest_cdf(a2, xs)))), round_to)


def psi_from_digest_arrays(a1, a2, n_buckets: int = 20, round_to: int = 6) -> float | None:
    """PSI over reference(a1)-equiprobable buckets from two digest
    readouts: every reference bucket has mass ≈ 1/n_buckets, so the
    PSI is not dominated by arbitrary fixed-width binning."""
    import numpy as np

    if a1 is None or a2 is None:
        return None
    qs = np.linspace(0.0, 1.0, n_buckets + 1)[1:-1]
    m, cum, total, vmin, vmax = a1
    edges = np.interp(qs * total, cum, m)
    edges = np.concatenate([[vmin], edges, [vmax]])
    p = np.maximum(np.diff(_digest_cdf(a1, edges)), EPS)
    q = np.maximum(np.diff(_digest_cdf(a2, edges)), EPS)
    return round(float(np.sum((p - q) * np.log(p / q))), round_to)


def ks_from_tdigest(
    df1: DataFrame,
    df2: DataFrame,
    col: Column | str,
    delta: float = 300.0,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample KS from per-version t-digests (the north rule's
    'KS over t-digest histograms'): each side is ONE scan emitting
    ≤ ~2δ centroid rows; the statistic is evaluated at the union of
    centroid means on the driver (a bounded sketch readout, like
    every digest readout). vs the fixed-bin ks_statistic: no [lo, hi)
    must be known up front and tail resolution adapts to the data —
    the right default when the value range is unknown at 100 TB."""
    a1, a2 = build_digest_arrays(df1, df2, col, delta)
    ks = ks_from_digest_arrays(a1, a2, round_to)
    return local_frame(df1.sparkSession, [(ks,)], "ks double")


def psi_from_tdigest(
    df1: DataFrame,
    df2: DataFrame,
    col: Column | str,
    n_buckets: int = 20,
    delta: float = 300.0,
    round_to: int = 6,
) -> DataFrame:
    """PSI over t-digest-derived equiprobable buckets (see
    psi_from_digest_arrays). Same two-scan cost as ks_from_tdigest;
    compute both stats from ONE digest pair via build_digest_arrays
    when you need both."""
    a1, a2 = build_digest_arrays(df1, df2, col, delta)
    psi = psi_from_digest_arrays(a1, a2, n_buckets, round_to)
    return local_frame(df1.sparkSession, [(psi, n_buckets)], "psi double, n_buckets int")


def ks_statistic(
    df1: DataFrame,
    df2: DataFrame,
    col: Column | str,
    lo: float,
    hi: float,
    n_buckets: int = 200,
    round_to: int = 6,
) -> DataFrame:
    """Histogram-approximated two-sample Kolmogorov–Smirnov statistic:
    max |CDF1(b) − CDF2(b)| over bucket edges. Resolution = bucket
    width; exact enough for drift verdicts and fully distributed."""
    h1 = numeric_histogram(df1, col, lo, hi, n_buckets).select(
        "bucket", F.col("freq").alias("p")
    )
    h2 = numeric_histogram(df2, col, lo, hi, n_buckets).select(
        "bucket", F.col("freq").alias("q")
    )
    j = h1.join(h2, on="bucket", how="full_outer").select(
        "bucket",
        F.coalesce("p", F.lit(0.0)).alias("p"),
        F.coalesce("q", F.lit(0.0)).alias("q"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = j.select(
        (F.sum("p").over(w) - F.sum("q").over(w)).alias("d")
    )
    return cdf.agg(F.round(F.max(F.abs(F.col("d"))), round_to).alias("ks"))
