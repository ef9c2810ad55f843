"""Property test: KSDigestDriftCheck's ``ks_digest`` metric stays within
the t-digest's stated rank error of the exact two-sample KS statistic.

Each side is digested per task (``partition_tdigest``) and the task
digests are merged once (``merge_tdigest``; at this size ``fan_in='auto'``
adds no tree level), so each side's CDF passes through two merge levels.
The k1 invariant stated in ``merge_tdigest`` bounds the rank error a
level adds at quantile q by ≈ 2·q(1−q)/δ, at most 0.5/δ (q = 1/2). The
digest CDF of one side is then off by at most 2 · 0.5/δ, and the KS of
the two sides by twice that. The oracle is the exact two-sample KS over
the raw values in numpy. Inputs cover the shapes that stress a quantile
sketch (*An Experimental Analysis of Quantile Sketches over Data
Streams*): uniform values, a few heavily duplicated values, and a long
right tail, 25k rows per side spread over four tasks."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from data_check_spark.plans.suite import CheckSuite, KSDigestDriftCheck

ROWS = 25_000
TASKS = 4
DELTA = 300.0
MERGE_LEVELS = 2
SIDES = 2
BOUND = SIDES * MERGE_LEVELS * 0.5 / DELTA


def _sides(shape, rng):
    """(reference, current) values of one input shape; the two sides
    differ, so the exact KS is well above zero."""
    if shape == "uniform":
        return rng.uniform(-1e6, 1e6, ROWS), rng.uniform(-0.9e6, 1.1e6, ROWS)
    if shape == "heavy_dup":
        values = np.arange(7.0) * 10.0
        p_ref = [0.4, 0.25, 0.15, 0.1, 0.05, 0.03, 0.02]
        p_cur = [0.3, 0.3, 0.2, 0.1, 0.05, 0.03, 0.02]
        return rng.choice(values, ROWS, p=p_ref), rng.choice(values, ROWS, p=p_cur)
    return (rng.pareto(1.1, ROWS) + 1.0) * 100.0, (rng.pareto(1.3, ROWS) + 1.0) * 100.0


def _exact_ks(a, b):
    """max over all values x of |F_a(x) − F_b(x)| with right-continuous
    empirical CDFs."""
    a, b = np.sort(a), np.sort(b)
    xs = np.union1d(a, b)
    fa = np.searchsorted(a, xs, side="right") / len(a)
    fb = np.searchsorted(b, xs, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


@pytest.mark.parametrize("shape", ["uniform", "heavy_dup", "long_tail"])
def test_ks_digest_within_rank_error(spark, shape):
    ref, cur = _sides(shape, np.random.default_rng(20261017))

    def frame(values):
        pdf = pd.DataFrame({"part": "p", "v": values})
        return spark.createDataFrame(pdf, "part string, v double").repartition(TASKS)

    check = KSDigestDriftCheck(name="v", expr=lambda: F.col("v"), max_ks=1.0, delta=DELTA)
    res = CheckSuite([check]).run(spark, frame(cur), "part", reference_df=frame(ref))
    (row,) = [r for r in res.verdicts.collect() if r["check"] == "ks_digest"]
    exact = _exact_ks(ref, cur)
    assert abs(row["metric"] - exact) <= BOUND, (
        f"{shape}: ks_digest {row['metric']} vs exact {exact:.6f}, "
        f"off by more than the stated {BOUND:.6f}"
    )
