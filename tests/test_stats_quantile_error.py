"""Property test: StatsCheck's min_/max_ p50/p90/p99 metrics stay
within ``percentile_approx``'s stated rank error of the exact quantile.

The stats pass sketches each (partition, column) with
``percentile_approx(..., accuracy=10000)``, whose documented relative
error is 1/accuracy = 1e-4 of the partition's row count, in rank. The
oracle ranks every returned value exactly in numpy. Inputs cover the
shapes that stress a quantile sketch (*An Experimental Analysis of
Quantile Sketches over Data Streams*): uniform values, a few heavily
duplicated values, and a long right tail. Each shape has two
validation partitions of 25k rows, spread over several Spark tasks so
every partition's sketch is merged from partial sketches."""

import math

import numpy as np
import pandas as pd

from data_check_spark.plans.suite import CheckSuite, StatsCheck

ROWS = 25_000
RANK_ERROR = 1.0 / 10_000
QUANTILES = {"p50": 0.5, "p90": 0.9, "p99": 0.99}


def _inputs(rng):
    """Two validation partitions of each input shape."""
    skewed = [0.4, 0.25, 0.15, 0.1, 0.05, 0.03, 0.02]
    data = {}
    for i in range(2):
        data[f"uniform_{i}"] = rng.uniform(-1e6, 1e6, ROWS)
        data[f"heavy_dup_{i}"] = rng.choice(np.arange(7.0) * 10.0, ROWS, p=skewed)
        data[f"long_tail_{i}"] = (rng.pareto(1.1, ROWS) + 1.0) * 100.0
    return data


def _exact_rank_distance(sorted_vals, q, p):
    """How many ranks ``q`` lies from the exact p-quantile, the
    smallest value with at least ``p·n`` values ≤ it (1-based rank
    ceil(p·n)). A value shared by a run of ties covers every rank in
    the run."""
    n = len(sorted_vals)
    target = math.ceil(p * n)
    lo = int(np.searchsorted(sorted_vals, q, side="left"))  # values < q
    hi = int(np.searchsorted(sorted_vals, q, side="right"))  # values ≤ q
    assert hi > lo, f"{q} is not a value of the partition"
    return max(0, lo + 1 - target, target - hi)


def test_stats_quantiles_within_rank_error(spark):
    data = _inputs(np.random.default_rng(20261017))
    pdf = pd.concat(
        pd.DataFrame({"part": part, "v": vals}) for part, vals in data.items()
    )
    df = spark.createDataFrame(pdf, "part string, v double").repartition(4)
    thresholds = {"v": {f"min_{q}": -math.inf for q in QUANTILES}}
    res = CheckSuite([StatsCheck(thresholds=thresholds)]).run(spark, df, "part")
    got = {
        (r["partition"], r["check"]): r["metric"]
        for r in res.verdicts.collect()
        if r["column"] == "v"
    }
    assert len(got) == len(data) * len(QUANTILES)
    for part, vals in data.items():
        sorted_vals = np.sort(vals)
        allowed = RANK_ERROR * len(vals)
        for q, p in QUANTILES.items():
            metric = got[(part, f"min_{q}")]
            dist = _exact_rank_distance(sorted_vals, metric, p)
            assert dist <= allowed, (
                f"{part} {q}: {metric} is {dist} ranks from the exact "
                f"quantile, above the stated {allowed:g}"
            )
