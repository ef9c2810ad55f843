"""Determinism + invariant tests for the synthetic web-pages table
(BASELINE.json input_hint): generation must be a pure function of row
id — identical at any parallelism — and text must be a pure function
of url (byte-identical per url, the per-row invariant)."""

import pyspark.sql.functions as F
import pytest

from data_check_spark.sources.synth import (
    HOT_DOMAINS,
    domain_of,
    synth_domains,
    synth_pages,
    synth_pages_v2,
)

N = 2000


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N).cache()


def test_schema(pages):
    assert [(f.name, f.dataType.simpleString()) for f in pages.schema.fields] == [
        ("url", "string"),
        ("warc_ts", "timestamp"),
        ("html", "binary"),
        ("text", "string"),
        ("lang", "string"),
    ]
    assert pages.count() == N


def test_parallelism_independence(spark, pages):
    """Same content at 2 vs 16 input partitions (scaling determinism)."""
    a = synth_pages(spark, N, partitions=2)
    b = synth_pages(spark, N, partitions=16)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_per_url_text_invariant(pages):
    """Byte-identical text per url — duplicate urls included."""
    n_violations = (
        pages.filter(F.col("text").isNotNull())
        .groupBy("url")
        .agg(F.count_distinct("text").alias("d"))
        .filter(F.col("d") > 1)
        .count()
    )
    assert n_violations == 0
    # and v2 preserves the invariant for unmutated urls jointly with v1
    # (mutated urls change text deterministically, still 1 text per url)


def test_controlled_dirt(pages):
    # ~2% duplicate urls: ids 50,100,...,1950 → 39 dup keys
    dups = pages.groupBy("url").count().filter("count > 1")
    assert dups.count() == N // 50 - 1
    # nulls at seeded rates
    null_text = pages.filter(F.col("text").isNull()).count()
    assert 0 < null_text < N * 0.03
    null_lang = pages.filter(F.col("lang").isNull()).count()
    assert 0 < null_lang < N * 0.05


def test_hot_domain_skew(pages):
    hot = pages.filter(domain_of(F.col("url")).isin(HOT_DOMAINS)).count()
    assert 0.2 < hot / N < 0.35


def test_v2_perturbations(spark, pages):
    v2 = synth_pages_v2(spark, N).cache()
    u1 = pages.select("url").distinct()
    u2 = v2.select("url").distinct()
    dropped = u1.exceptAll(u2).count()
    added = u2.exceptAll(u1).count()
    assert dropped > 0 and added > 0


def test_domains_dim(spark, pages):
    dim = synth_domains(spark)
    assert dim.count() > 4000
    missing = (
        pages.select(domain_of(F.col("url")).alias("d"))
        .join(F.broadcast(dim), F.col("d") == dim["domain"], "left_anti")
        .count()
    )
    assert missing > 0  # held-out dim slice produces violations


def test_domains_dim_broadcasts_without_a_job(spark):
    """The dimension snapshot is an Arrow LocalRelation that Catalyst
    can size, so ``maybe_broadcast`` hints the broadcast without its
    row-probe job (a Python-list createDataFrame plans a LogicalRDD of
    unknown size, which takes the probe)."""
    from data_check_spark.operators.refint import maybe_broadcast, plan_size_estimate

    dim = synth_domains(spark)
    assert dim._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert plan_size_estimate(dim) is not None
    keys = dim.select(F.col("domain").alias("_dk")).dropDuplicates()
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    maybe_broadcast(keys)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
