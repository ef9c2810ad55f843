"""Each key check of the suite agrees with its public operator.

``UniquenessCheck``, ``FunctionalDependencyCheck`` and
``ReferentialCheck`` (join, ``hash_keys`` and bloom mode) build their
plan from the same operator module as ``uniqueness_violations``,
``fd_violations``, ``referential_violations`` and
``referential_violations_bloom``. For every partition ``p``, the
check's violation rows for ``p`` must equal the operator run on the
rows of ``p`` alone, and the check's verdict metric for ``p`` must be
that frame's row count (its ``n_rows`` sum for referential checks).
The table has a NULL partition, NULL keys and duplicate keys that
span partitions.
"""

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_check_spark.operators.bloom import build_key_bloom, referential_violations_bloom
from data_check_spark.operators.refint import referential_violations
from data_check_spark.operators.unique import fd_violations, uniqueness_violations
from data_check_spark.plans.suite import (
    CheckSuite,
    FunctionalDependencyCheck,
    ReferentialCheck,
    UniquenessCheck,
)

PARTS = ["d1", "d2", "d3", None]


@pytest.fixture(scope="module")
def table(spark):
    rnd = random.Random(7)
    rows = []
    for _ in range(400):
        k = None if rnd.random() < 0.05 else f"k{rnd.randrange(90)}"
        # mostly one text per key, sometimes a second variant
        t = f"t{k}" if rnd.random() < 0.9 else f"v{rnd.randrange(2)}"
        rows.append((rnd.choice(PARTS), k, t))
    # a key once in each of two partitions: a duplicate of the table,
    # not of any partition; another twice in d1 and once in NULL; a
    # NULL key with two texts in d2
    rows += [("d1", "span", "a"), ("d2", "span", "b"),
             ("d1", "span2", "a"), ("d1", "span2", "a"), (None, "span2", "c"),
             ("d2", None, "x"), ("d2", None, "y")]
    return spark.createDataFrame(rows, "day string, k string, t string")


@pytest.fixture(scope="module")
def dim(spark):
    # k60..k89, span and span2 are missing; a NULL dim key matches nothing
    return spark.createDataFrame([(f"k{i}",) for i in range(60)] + [(None,)], "dk string")


@pytest.fixture(scope="module")
def bloom(dim):
    return build_key_bloom(dim, "dk", fpp=1e-2)


def _refint(dim, **kw):
    return ReferentialCheck(name="r", fact_key="k", dim=lambda s: dim, dim_key="dk", **kw)


# check, dump key, operator over one partition's rows, metric reading
CASES = {
    "unique": (
        lambda dim, bloom: UniquenessCheck("k", violation_limit=10_000),
        "unique:k",
        lambda fr, dim, bloom: uniqueness_violations(fr, "k"),
        "rows",
    ),
    "fd": (
        lambda dim, bloom: FunctionalDependencyCheck("k", ("t",), violation_limit=10_000),
        "fd:k",
        lambda fr, dim, bloom: fd_violations(fr, "k", ["t"]),
        "rows",
    ),
    "refint_join": (
        lambda dim, bloom: _refint(dim),
        "refint:r",
        lambda fr, dim, bloom: referential_violations(fr, "k", dim, "dk"),
        "n_rows",
    ),
    "refint_hash_keys": (
        lambda dim, bloom: _refint(dim, hash_keys=True),
        "refint:r",
        lambda fr, dim, bloom: referential_violations(fr, "k", dim, "dk", hash_keys=True),
        "n_rows",
    ),
    "refint_bloom": (
        lambda dim, bloom: _refint(dim, mode="bloom", bloom=bloom),
        "refint:r",
        lambda fr, dim, bloom: referential_violations_bloom(fr, "k", dim, "dk", bloom=bloom),
        "n_rows",
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_check_agrees_with_its_operator(spark, table, dim, bloom, case):
    make_check, dump, operator, metric = CASES[case]
    res = CheckSuite([make_check(dim, bloom)]).run(spark, table, "day")
    try:
        viol = [r.asDict() for r in res.violations[dump].collect()]
        verdicts = {r["partition"]: r["metric"] for r in res.verdicts.collect()}
        assert set(verdicts) == set(PARTS)
        for p in PARTS:
            mine = [
                {("n_rows" if c == "n" and metric == "n_rows" else c): v
                 for c, v in r.items() if c != "partition"}
                for r in viol if r["partition"] == p
            ]
            want = [
                r.asDict()
                for r in operator(table.filter(F.col("day").eqNullSafe(p)), dim, bloom).collect()
            ]
            assert mine == want, p
            expected = len(want) if metric == "rows" else sum(r["n_rows"] for r in want)
            assert verdicts[p] == expected, p
        # the comparison is not vacuous: the NULL partition has
        # violations, and so does a NULL key somewhere
        assert any(r["partition"] is None for r in viol)
        assert any(r.get("key_value", r.get("ref_key")) is None for r in viol)
    finally:
        res.unpersist()


def test_key_check_caches_are_sized_by_aqe(spark, table, dim):
    """The session lets AQE plan persisted frames
    (``session.CACHED_PLAN_AQE``), so each key check's census, a few
    hundred rows here, caches as fewer partitions than the configured
    shuffle width. Spark's default plans cached frames with AQE off,
    and every census then caches at the full width."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    suite = CheckSuite([
        UniquenessCheck("k"),
        FunctionalDependencyCheck("k", ("t",)),
        _refint(dim),
    ])
    res = suite.run(spark, table, "day")
    try:
        frames = [c for c in res.cached if isinstance(c, DataFrame)]
        assert len(frames) == 3
        for frame in frames:
            assert frame.rdd.getNumPartitions() < width
    finally:
        res.unpersist()
