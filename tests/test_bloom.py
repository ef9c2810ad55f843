"""Bloom referential gate: subset/recall contract, exact-mode byte
equality with the anti-join path, NULL handling, determinism."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.operators.bloom import (
    bloom_parameters,
    build_key_bloom,
    bloom_member_probe,
    referential_violations_bloom,
)
from data_check_spark.operators.refint import referential_violations


@pytest.fixture(scope="module")
def frames(spark):
    # dim: urls u0..u499; fact: 2000 rows over u0..u599 (keys >= 500
    # are violations), plus NULL keys and a duplicate dim key
    dim = spark.range(500).select(
        F.concat(F.lit("https://d"), F.col("id")).alias("url")
    )
    dim = dim.unionAll(dim.limit(3))  # duplicate keys must not matter
    fact = spark.range(2000).select(
        F.concat(F.lit("https://d"), (F.col("id") % 600)).alias("page_url"),
        F.col("id").alias("row_id"),
    )
    fact = fact.unionAll(
        spark.range(5).select(
            F.lit(None).cast("string").alias("page_url"),
            (F.col("id") + 10_000).alias("row_id"),
        )
    )
    return fact, dim


def test_parameters_shape():
    m, k = bloom_parameters(1000, 0.01)
    assert m % 64 == 0 and m > 9000 and 5 <= k <= 10
    m1, k1 = bloom_parameters(0, 0.01)
    assert (m1, k1) == (64, 1)
    with pytest.raises(ValueError):
        bloom_parameters(10, 1.5)


def test_auto_method_uses_resolved_count(spark, frames, monkeypatch):
    """method='auto' must see the RESOLVED key count when n_keys is
    omitted (the suite path): at fpp 1e-3 the density rule says
    'blocks' for any n, so auto degrading to 'positions' means the
    computed count was discarded."""
    import data_check_spark.operators.bloom as B

    _, dim = frames
    called = {}
    orig = B._build_blocks

    def spy(keys, m_bits, k_hashes):
        called["blocks"] = True
        return orig(keys, m_bits, k_hashes)

    monkeypatch.setattr(B, "_build_blocks", spy)
    bloom = B.build_key_bloom(dim, "url", fpp=1e-3)  # no n_keys
    assert called.get("blocks"), "auto picked positions despite dense regime"
    assert bloom.m_bits > 0


def test_build_cap_raises(spark, frames):
    _, dim = frames
    with pytest.raises(ValueError, match="cap"):
        build_key_bloom(dim, "url", fpp=1e-3, n_keys=10**12)


def test_member_probe_no_false_negatives(spark, frames):
    fact, dim = frames
    bloom = build_key_bloom(dim, "url", fpp=1e-3)
    member = bloom_member_probe(spark, bloom)
    # every true dim key must probe True (no false negatives)
    misses = dim.filter(~member(F.col("url"))).count()
    assert misses == 0
    # NULL probes False
    row = spark.range(1).select(
        member(F.lit(None).cast("string")).alias("m")
    ).first()
    assert row["m"] is False


def test_fast_mode_subset_and_recall(spark, frames):
    fact, dim = frames
    exact = {
        r["ref_key"]: r["n_rows"]
        for r in referential_violations(fact, "page_url", dim, "url").collect()
    }
    flagged = {
        r["ref_key"]: r["n_rows"]
        for r in referential_violations_bloom(
            fact, "page_url", dim, "url", fpp=1e-3
        ).collect()
    }
    # zero false alarms: every flagged key is a true violation, with
    # the true row count
    for key, n in flagged.items():
        assert key in exact and exact[key] == n
    # recall: expected misses = fpp * n_violating_keys ≈ 0.1 here
    assert len(flagged) >= len(exact) - 2
    # NULL keys are certified violations (never maskable by fpp)
    assert None in flagged and flagged[None] == 5


def test_exact_mode_equals_antijoin(spark, frames):
    fact, dim = frames
    a = referential_violations(fact, "page_url", dim, "url").collect()
    b = referential_violations_bloom(
        fact, "page_url", dim, "url", fpp=0.2, exact=True
    ).collect()
    # deliberately loose fpp → bloom misses land in the residual join;
    # the union must still be byte-equal
    skey = lambda t: ((t[0] is None, t[0] or ""), t[1])
    assert sorted(map(tuple, a), key=skey) == sorted(map(tuple, b), key=skey)


def test_row_dump_mode(spark, frames):
    fact, dim = frames
    dump = referential_violations_bloom(
        fact,
        "page_url",
        dim,
        "url",
        fpp=1e-4,
        exact=True,
        keep_columns=["row_id"],
        limit=10,
    ).collect()
    assert len(dump) == 10
    assert set(dump[0].asDict()) == {"ref_key", "row_id"}


def test_deterministic_across_parallelism(spark, frames):
    fact, dim = frames
    r1 = referential_violations_bloom(
        fact.repartition(7), "page_url", dim, "url", fpp=1e-3
    ).collect()
    r2 = referential_violations_bloom(
        fact.repartition(2), "page_url", dim, "url", fpp=1e-3
    ).collect()
    skey = lambda t: ((t[0] is None, t[0] or ""), t[1])
    assert sorted(map(tuple, r1), key=skey) == sorted(map(tuple, r2), key=skey)


def test_suite_bloom_mode_subset_of_join_mode(spark):
    """ReferentialCheck(mode='bloom') flags a subset of the join
    mode's violations (precision 1.0) with per-key counts identical
    where flagged, near-total recall at tight fpp, and still fails
    the partitions the exact check fails."""
    from data_check_spark.plans.suite import CheckSuite, ReferentialCheck
    from data_check_spark.sources.synth import domain_of, synth_domains, synth_pages

    pages = synth_pages(spark, 2000).withColumn(
        "warc_day", F.to_date("warc_ts")
    ).cache()

    def mk(mode):
        return CheckSuite(
            [
                ReferentialCheck(
                    name="dom",
                    fact_key=lambda: domain_of(F.col("url")),
                    dim=synth_domains,
                    dim_key="domain",
                    mode=mode,
                    fpp=1e-4,
                )
            ]
        )

    r_join = mk("join").run(spark, pages, "warc_day")
    r_bloom = mk("bloom").run(spark, pages, "warc_day")
    vj = {
        (r["partition"], r["ref_key"]): r["n"]
        for r in r_join.violations["refint:dom"].collect()
    }
    vb = {
        (r["partition"], r["ref_key"]): r["n"]
        for r in r_bloom.violations["refint:dom"].collect()
    }
    assert vb and set(vb) <= set(vj)
    assert all(vj[k] == n for k, n in vb.items())
    assert sum(vb.values()) >= 0.99 * sum(vj.values())
    assert r_bloom.verdicts.filter("check = 'refint' and not passed").count() > 0
    r_join.unpersist(); r_bloom.unpersist(); pages.unpersist()


def test_suite_bloom_mode_invalid_mode(spark):
    from data_check_spark.plans.suite import CheckSuite, ReferentialCheck
    from data_check_spark.sources.synth import domain_of, synth_domains, synth_pages

    pages = synth_pages(spark, 50).withColumn("warc_day", F.to_date("warc_ts"))
    suite = CheckSuite(
        [
            ReferentialCheck(
                name="dom",
                fact_key=lambda: domain_of(F.col("url")),
                dim=synth_domains,
                dim_key="domain",
                mode="bogus",
            )
        ]
    )
    with pytest.raises(ValueError, match="mode"):
        suite.run(spark, pages, "warc_day")


def test_blocks_build_equals_positions_build(spark, frames):
    """The dense-regime blocks build (per-partition numpy bitmaps OR'd
    by block) must produce the identical bitmap to the sparse
    positions build — same hashes, same bits, different shuffle plan."""
    _, dim = frames
    b1 = build_key_bloom(dim.repartition(5), "url", fpp=1e-2, method="positions")
    b2 = build_key_bloom(dim.repartition(5), "url", fpp=1e-2, method="blocks")
    assert (b1.m_bits, b1.k_hashes) == (b2.m_bits, b2.k_hashes)
    assert (b1.bitmap == b2.bitmap).all()
    with pytest.raises(ValueError, match="method"):
        build_key_bloom(dim, "url", method="bogus")


def test_prebuilt_bloom_reuse(spark, frames):
    """A prebuilt KeyBloom passed via bloom= skips the build jobs and
    yields the same flagged set as the build-inline path."""
    fact, dim = frames
    bloom = build_key_bloom(dim, "url", fpp=1e-3)
    inline = referential_violations_bloom(fact, "page_url", dim, "url", fpp=1e-3)
    reused = referential_violations_bloom(
        fact, "page_url", dim, "url", bloom=bloom
    )
    skey = lambda t: ((t[0] is None, t[0] or ""), t[1])
    assert sorted(map(tuple, inline.collect()), key=skey) == sorted(
        map(tuple, reused.collect()), key=skey
    )


def test_keybloom_save_load_roundtrip(spark, frames, tmp_path):
    """save/load roundtrip is exact, and a suite ReferentialCheck
    pointed at the stored filter (bloom_path) flags the same set as
    the inline build."""
    from data_check_spark.operators.bloom import KeyBloom

    fact, dim = frames
    bloom = build_key_bloom(dim, "url", fpp=1e-3)
    p = str(tmp_path / "dim_urls")
    bloom.save(p)
    back = KeyBloom.load(p)
    assert (back.m_bits, back.k_hashes) == (bloom.m_bits, bloom.k_hashes)
    assert (back.bitmap == bloom.bitmap).all()

    inline = referential_violations_bloom(fact, "page_url", dim, "url", fpp=1e-3)
    stored = referential_violations_bloom(
        fact, "page_url", dim, "url", bloom=back
    )
    skey = lambda t: ((t[0] is None, t[0] or ""), t[1])
    assert sorted(map(tuple, inline.collect()), key=skey) == sorted(
        map(tuple, stored.collect()), key=skey
    )


def test_suite_bloom_path(spark, tmp_path):
    """ReferentialCheck(mode='bloom', bloom_path=...) loads the stored
    filter instead of building (same verdicts as the inline build)."""
    import dataclasses

    from data_check_spark.plans.suite import CheckSuite, ReferentialCheck
    from data_check_spark.sources.synth import domain_of, synth_domains, synth_pages

    pages = synth_pages(spark, 500).withColumn("warc_day", F.to_date("warc_ts"))
    chk = ReferentialCheck(
        name="dom",
        fact_key=lambda: domain_of(F.col("url")),
        dim=synth_domains,
        dim_key="domain",
        mode="bloom",
        fpp=1e-4,
    )
    bloom = build_key_bloom(synth_domains(spark), "domain", fpp=1e-4)
    p = str(tmp_path / "domains.npz")
    bloom.save(p)
    r_inline = CheckSuite([chk]).run(spark, pages, "warc_day")
    r_stored = CheckSuite(
        [dataclasses.replace(chk, bloom_path=p)]
    ).run(spark, pages, "warc_day")
    v1 = sorted(map(tuple, r_inline.violations["refint:dom"].collect()))
    v2 = sorted(map(tuple, r_stored.violations["refint:dom"].collect()))
    assert v1 == v2
    r_inline.unpersist(); r_stored.unpersist()


def test_bloom_suite_unpersist_destroys_the_broadcast(spark, frames):
    """A bloom-mode ReferentialCheck broadcasts its bitmap once per
    call; SuiteResult.unpersist() destroys it, so repeated calls in one
    session leave no broadcast file behind on the driver."""
    import os

    from data_check_spark.plans.suite import CheckSuite, ReferentialCheck

    fact, dim = frames
    fact = fact.withColumn("part", (F.col("row_id") % 3).cast("string"))
    bloom = build_key_bloom(dim, "url", fpp=1e-3)
    suite = CheckSuite([
        ReferentialCheck("bloom_ref", "page_url", lambda s: dim, "url", mode="bloom", bloom=bloom)
    ])
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))
    for _ in range(3):
        res = suite.run(spark, fact, "part")
        assert res.verdicts.collect()
        assert res.violations["refint:bloom_ref"].count() > 0
        res.unpersist()
    assert len(os.listdir(temp_dir)) == before
