"""End-to-end suite + resume tests (SURVEY §5 rebuild strategy (b),(e))."""

import pyspark.sql.functions as F
import pytest

from data_check_spark.plans.manifest import Manifest
from data_check_spark.plans.suite import (
    CategoricalDriftCheck,
    CheckSuite,
    ReferentialCheck,
    StatsCheck,
    UniquenessCheck,
)
from data_check_spark.sources.synth import domain_of, synth_domains, synth_pages, synth_pages_v2

N = 3000


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N).withColumn("warc_day", F.to_date("warc_ts")).cache()


@pytest.fixture(scope="module")
def suite():
    return CheckSuite(
        [
            StatsCheck(
                thresholds={
                    "text": {"max_null_rate": 0.05, "min_rows": 1},
                    "lang": {"max_null_rate": 0.05, "min_distinct": 2},
                    "url": {"max_null_rate": 0.0},
                }
            ),
            UniquenessCheck(key="url", max_duplicate_keys=0),
            ReferentialCheck(
                name="domain_in_snapshot",
                fact_key=lambda: domain_of(F.col("url")),
                dim=synth_domains,
                dim_key="domain",
            ),
        ]
    )


def test_suite_run(spark, pages, suite):
    res = suite.run(spark, pages, "warc_day")
    v = res.verdicts.cache()
    assert v.columns == ["partition", "column", "check", "metric", "threshold", "passed"]
    n_parts = pages.select("warc_day").distinct().count()
    # every partition got a uniqueness verdict and a summary row
    assert v.filter("check = 'unique'").count() == n_parts
    assert v.filter("check = 'all'").count() == n_parts
    # seeded dup urls + held-out domains → some partitions fail
    assert not res.passed()
    assert v.filter("check = 'unique' and not passed").count() > 0
    assert v.filter("check = 'refint' and not passed").count() > 0
    # violations are populated and sorted
    dup = res.violations["unique:url"]
    assert dup.count() > 0
    ref = res.violations["refint:domain_in_snapshot"]
    assert ref.count() > 0


def test_fused_uniq_refint_matches_unfused(spark, pages, suite):
    """derived_from_key fusion (one url shuffle for uniqueness +
    referential) must produce byte-identical verdicts and violations
    to the independent-scan path."""
    import dataclasses

    fused = CheckSuite(
        [
            dataclasses.replace(c, derived_from_key="url")
            if isinstance(c, ReferentialCheck) else c
            for c in suite.checks
        ]
    )
    r1 = suite.run(spark, pages, "warc_day")
    r2 = fused.run(spark, pages, "warc_day")
    v1 = sorted(map(tuple, r1.verdicts.collect()))
    v2 = sorted(map(tuple, r2.verdicts.collect()))
    assert v1 == v2
    d1 = sorted(map(tuple, r1.violations["unique:url"].collect()))
    d2 = sorted(map(tuple, r2.violations["unique:url"].collect()))
    assert d1 == d2
    f1 = sorted(map(tuple, r1.violations["refint:domain_in_snapshot"].collect()))
    f2 = sorted(map(tuple, r2.violations["refint:domain_in_snapshot"].collect()))
    assert f1 == f2
    r1.unpersist(); r2.unpersist()


def test_suite_with_drift(spark, pages, suite):
    v2 = synth_pages_v2(spark, N)
    # ~10% of rows get a shifted lang in v2 → PSI ≈ 0.02 (null buckets
    # are null-safe-paired in the fused profile, so no inflation)
    s = CheckSuite(suite.checks + [CategoricalDriftCheck(column="lang", max_psi=0.01)])
    res = s.run(spark, pages, "warc_day", reference_df=v2)
    drift = res.verdicts.filter("check = 'psi_categorical'").collect()
    assert len(drift) == 1
    assert drift[0]["metric"] > 0.01 and not drift[0]["passed"]
    # identical tables → PSI 0 → passes
    same = CheckSuite([CategoricalDriftCheck(column="lang", max_psi=0.01)])
    ok = same.run(spark, pages, "warc_day", reference_df=pages)
    assert ok.verdicts.collect()[0]["passed"]


def test_null_partition_is_validated_and_resumed(spark, tmp_path):
    """A NULL partition is a real partition: its rows reach the
    checks (not silently excluded by isin), its duplicate keys FAIL
    the uniqueness verdict (null-safe verdict join), and the manifest
    completes it so a rerun is a no-op — never a permanent skip."""
    rows = [
        ("d1", "u1"), ("d1", "u2"),
        (None, "dup"), (None, "dup"), (None, "u3"),  # dups in NULL part
    ]
    df = spark.createDataFrame(rows, "part string, url string")
    s = CheckSuite([UniquenessCheck(key="url", max_duplicate_keys=0)])
    man = Manifest(str(tmp_path / "m_null"))
    res = s.run_resumable(
        spark, df, "part", man, audit_path=str(tmp_path / "audit_null")
    )
    v = {r["partition"]: r for r in
         res.verdicts.filter("check = 'unique'").collect()}
    assert set(v) == {"d1", None}
    assert v["d1"]["passed"]
    assert v[None]["passed"] is False and v[None]["metric"] == 1.0
    # manifest covers the NULL partition; rerun has nothing pending
    assert set(man.completed()) == {"d1", "None"}
    assert s.run_resumable(
        spark, df, "part", man, audit_path=str(tmp_path / "audit_null")
    ) is None


def test_drift_namespace_collision_rejected(spark, pages):
    from data_check_spark.plans.suite import NumericDriftCheck

    s = CheckSuite([
        CategoricalDriftCheck(column="lang", max_psi=0.2),
        NumericDriftCheck(name="lang", expr=lambda: F.length("text"),
                          lo=0, hi=600, n_buckets=20, max_psi=0.2),
    ])
    with pytest.raises(ValueError, match="profile namespace"):
        s.run(spark, pages, "warc_day", reference_df=pages)


def test_duplicate_check_keys_rejected(spark, pages):
    with pytest.raises(ValueError, match="unique keys/names"):
        CheckSuite([
            UniquenessCheck(key="url"), UniquenessCheck(key="url"),
        ]).run(spark, pages, "warc_day")


def test_manifest_colliding_partition_names(tmp_path):
    """Sanitizing alone would map '2024/01' and '2024_01' onto ONE
    file — the second mark would destroy the first's record and its
    partition would be re-scheduled forever. The md5 suffix keeps
    them distinct."""
    man = Manifest(str(tmp_path / "m_collide"))
    man.mark_complete("2024/01", run_id="r", metrics={"n": 1})
    man.mark_complete("2024_01", run_id="r", metrics={"n": 2})
    done = man.completed()
    assert set(done) == {"2024/01", "2024_01"}
    assert done["2024/01"]["metrics"]["n"] == 1
    assert man.pending(["2024/01", "2024_01", "2024-02"]) == ["2024-02"]


def test_resume(spark, pages, suite, tmp_path):
    """Kill-and-rerun semantics: completed partitions are skipped;
    a second full run is a no-op (SURVEY §5 (e))."""
    man = Manifest(str(tmp_path / "manifest"))
    parts = [str(r[0]) for r in pages.select("warc_day").distinct().collect()]
    # simulate a prior run that completed the first two partitions
    for p in sorted(parts)[:2]:
        man.mark_complete(p, run_id="prior", metrics={})
    res = suite.run_resumable(
        spark, pages, "warc_day", man, audit_path=str(tmp_path / "audit")
    )
    assert res is not None
    done_parts = {r["partition"] for r in res.verdicts.select("partition").distinct().collect()}
    assert done_parts == set(parts) - set(sorted(parts)[:2])
    # manifest now complete; audit table written
    assert set(man.completed()) == set(parts)
    audit = spark.read.parquet(str(tmp_path / "audit" / "verdicts"))
    assert audit.filter("audit_kind = 'verdict'").count() == res.verdicts.count()
    # rerun: nothing pending
    assert suite.run_resumable(spark, pages, "warc_day", man) is None


def test_determinism_across_parallelism(spark, suite):
    """Verdict rows identical when the same input is processed at
    different partition counts (the in-sandbox analog of N vs 4N
    executors producing identical outputs)."""
    a = synth_pages(spark, N, partitions=2).withColumn("warc_day", F.to_date("warc_ts"))
    b = synth_pages(spark, N, partitions=16).withColumn("warc_day", F.to_date("warc_ts"))
    va = suite.run(spark, a, "warc_day").verdicts
    vb = suite.run(spark, b, "warc_day").verdicts
    # exclude approx-sketch metrics (HLL estimates can differ by merge
    # order); everything else must match exactly
    exact_a = va.filter("check <> 'min_distinct'")
    exact_b = vb.filter("check <> 'min_distinct'")
    assert exact_a.exceptAll(exact_b).isEmpty() and exact_b.exceptAll(exact_a).isEmpty()


def test_ks_drift_check_fused_matches_operator(spark, pages):
    """KSDriftCheck's driver-side CDF math (fused path, riding the
    stats-pass histogram) must reproduce operators/drift.ks_statistic
    on the same inputs, buckets and bounds."""
    from data_check_spark.operators.drift import ks_statistic
    from data_check_spark.plans.suite import KSDriftCheck, NumericDriftCheck

    ref = synth_pages_v2(spark, N)
    suite = CheckSuite(
        [
            StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
            NumericDriftCheck(
                name="text_length",
                expr=lambda: F.length("text"),
                lo=0.0,
                hi=5000.0,
                max_psi=0.2,
            ),
            KSDriftCheck(
                name="text_length_ks",
                expr=lambda: F.length("text"),
                lo=0.0,
                hi=5000.0,
                n_buckets=50,
                max_ks=0.5,
            ),
        ]
    )
    res = suite.run(spark, pages, "warc_day", reference_df=ref)
    row = res.verdicts.filter("check = 'ks_numeric'").collect()
    assert len(row) == 1
    got = row[0]
    assert got["column"] == "text_length_ks"
    expected = ks_statistic(
        pages, ref, F.length("text"), 0.0, 5000.0, 50
    ).collect()[0]["ks"]
    assert got["metric"] == pytest.approx(expected, abs=1e-9)
    assert got["passed"] == (expected <= 0.5)
    res.unpersist()


def test_ks_drift_check_own_reference(spark, pages):
    """KSDriftCheck with its own reference loader takes the generic
    distributed ks_statistic path."""
    from data_check_spark.plans.suite import KSDriftCheck

    suite = CheckSuite(
        [
            KSDriftCheck(
                name="self_ks",
                expr=lambda: F.length("text"),
                lo=0.0,
                hi=5000.0,
                n_buckets=20,
                max_ks=0.01,
                reference=lambda s: synth_pages(s, N),
            )
        ]
    )
    res = suite.run(spark, pages, "warc_day")
    got = res.verdicts.collect()[0]
    # identical distributions → KS = 0, passes any threshold
    assert got["metric"] == 0.0
    assert got["passed"]


def test_exact_distinct_all_null_partition_fails(spark):
    """ADVICE regression: a partition whose exact_distinct column is
    entirely NULL must report n_distinct=0 and FAIL min_distinct —
    not a NULL metric that count_if(~passed) silently reads as pass."""
    df = spark.createDataFrame(
        [("p1", "en"), ("p1", "de"), ("p2", None), ("p2", None)],
        "part string, lang string",
    )
    suite = CheckSuite(
        [StatsCheck(thresholds={"lang": {"min_distinct": 1}}, exact_distinct=("lang",))]
    )
    v = {
        (r["partition"], r["check"]): r
        for r in suite.run(spark, df, "part").verdicts.collect()
    }
    assert v[("p1", "min_distinct")]["passed"] is True
    assert v[("p2", "min_distinct")]["metric"] == 0.0
    assert v[("p2", "min_distinct")]["passed"] is False
    # the all-NULL partition's summary row must count the failure
    assert v[("p2", "all")]["passed"] is False


def test_drift_name_collision_raises(spark, pages):
    from data_check_spark.plans.suite import KSDriftCheck, NumericDriftCheck

    suite = CheckSuite(
        [
            NumericDriftCheck("text_len", lambda: F.length("text"), 0.0, 100.0, n_buckets=10),
            KSDriftCheck("text_len", lambda: F.length("text"), 0.0, 2000.0, n_buckets=50),
        ]
    )
    with pytest.raises(ValueError, match="share histogram names"):
        suite.run(spark, pages, "warc_day", reference_df=pages)


def test_uniqueness_no_broadcast_matches(spark, pages):
    """broadcast_candidates=False (high-duplicate-table escape hatch)
    must produce identical verdicts/violations to the broadcast path."""
    res_b = CheckSuite([UniquenessCheck(key="url")]).run(spark, pages, "warc_day")
    res_s = CheckSuite([UniquenessCheck(key="url", broadcast_candidates=False)]).run(
        spark, pages, "warc_day"
    )
    assert sorted(map(tuple, res_b.verdicts.collect())) == sorted(
        map(tuple, res_s.verdicts.collect())
    )
    assert sorted(map(tuple, res_b.violations["unique:url"].collect())) == sorted(
        map(tuple, res_s.violations["unique:url"].collect())
    )


def test_write_audit_iceberg_gated(spark, pages, tmp_path):
    """Exercises write_audit's iceberg branch end-to-end when the
    Iceberg runtime jar is on the classpath (real clusters); skips in
    jar-less sandboxes. Catalog confs are runtime-settable (catalogs
    resolve lazily on first use)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("iceberg runtime jar not on the classpath")
    from data_check_spark.plans.audit import write_audit

    spark.conf.set("spark.sql.catalog.dcs_ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.dcs_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.dcs_ice.warehouse", str(tmp_path / "wh"))
    res = CheckSuite([UniquenessCheck(key="url")]).run(spark, pages, "warc_day")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dcs_ice.audit")
    write_audit(res.verdicts, "dcs_ice.audit.verdicts", "run1", "verdict", fmt="iceberg")
    back = spark.table("dcs_ice.audit.verdicts")
    assert back.count() == res.verdicts.count()
    assert {"run_id", "audit_kind", "audit_ts"} <= set(back.columns)


def test_ks_drift_check_resume_matches_uninterrupted(spark, pages, tmp_path):
    """VERDICT r3 'What's wrong' #1: a KSDriftCheck in a resumed run
    must report the SAME global verdict as an uninterrupted run — it
    must ride the unfiltered table, not the pending-partition frame."""
    from data_check_spark.plans.suite import KSDriftCheck
    from data_check_spark.sources.synth import synth_pages_v2

    ref = synth_pages_v2(spark, N)
    checks = [
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        KSDriftCheck(
            name="text_len_ks",
            expr=lambda: F.length("text"),
            lo=0.0,
            hi=5000.0,
            n_buckets=50,
            max_ks=0.5,
        ),
    ]
    full = CheckSuite(checks).run(spark, pages, "warc_day", reference_df=ref)
    expected = full.verdicts.filter("check = 'ks_numeric'").collect()[0]

    man = Manifest(str(tmp_path / "m_ks"))
    parts = sorted(str(r[0]) for r in pages.select("warc_day").distinct().collect())
    for p in parts[: len(parts) // 2]:  # simulate a mid-run crash
        man.mark_complete(p, run_id="prior", metrics={})
    res = CheckSuite(checks).run_resumable(
        spark, pages, "warc_day", man, reference_df=ref
    )
    got = res.verdicts.filter("check = 'ks_numeric'").collect()
    assert len(got) == 1
    assert got[0]["metric"] == pytest.approx(expected["metric"], abs=1e-9)
    assert got[0]["passed"] == expected["passed"]
    full.unpersist(); res.unpersist()


def test_compare_check_in_suite(spark, pages):
    """CompareCheck (VERDICT r3 top-next): the two-table diff family is
    declarable inside CheckSuite — census + ratio verdicts in the
    uniform schema, exclusive/row-diff dumps as violations, and the
    verdict numbers equal the standalone operators'."""
    from data_check_spark.operators.rowdiff import column_match_ratios, pk_census
    from data_check_spark.plans.suite import CompareCheck
    from data_check_spark.sources.synth import synth_pages_v2

    v2 = synth_pages_v2(spark, N)
    cols = ["text", "lang"]
    suite = CheckSuite(
        [
            StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
            CompareCheck(
                name="pages_v2",
                pk="url",
                columns=cols,
                max_missing_ratio=0.001,
                min_ratio_equal=0.99,
                row_diff=True,
            ),
        ]
    )
    res = suite.run(spark, pages, "warc_day", reference_df=v2)
    v = {(r["column"], r["check"]): r for r in res.verdicts.collect()}

    cen = pk_census(pages, v2, "url").collect()[0]
    assert v[("url", "pk_missing_ratio_1")]["metric"] == pytest.approx(
        cen["missing_primary_keys_table1_ratio"]
    )
    assert v[("url", "pk_missing_ratio_2")]["metric"] == pytest.approx(
        cen["missing_primary_keys_table2_ratio"]
    )
    # v2 drops ~1% and adds rows -> both missing ratios exceed 0.001
    assert not v[("url", "pk_missing_ratio_1")]["passed"]
    rat = {r["column"]: r for r in column_match_ratios(pages, v2, "url", columns=cols).collect()}
    for c in cols:
        assert v[(c, "ratio_equal")]["metric"] == pytest.approx(rat[c]["ratio_equal"])
        assert v[(c, "ratio_equal")]["passed"] == (rat[c]["ratio_equal"] >= 0.99)
    # violations: exclusive dumps populated (v2 drops + adds rows),
    # row-diff dump present and suffix-projected
    ex1 = res.violations["compare:pages_v2:exclusive_1"]
    ex2 = res.violations["compare:pages_v2:exclusive_2"]
    assert ex1.count() > 0 and ex2.count() > 0
    assert any(c.endswith("__1") for c in ex1.columns)
    rd = res.violations["compare:pages_v2:row_diff"]
    assert {"url", "text__1", "text__2", "lang__1", "lang__2"} <= set(rd.columns)
    assert rd.count() > 0
    res.unpersist()


def test_compare_check_empty_comparison_fails_closed(spark, pages):
    """Disjoint PK sets (the reference's 'query returned no rows'
    error, streamlit_app.py:252-255) must FAIL the ratio verdicts, not
    raise or silently pass."""
    from data_check_spark.plans.suite import CompareCheck

    disjoint = pages.withColumn("url", F.concat(F.lit("x://"), F.col("url")))
    suite = CheckSuite([CompareCheck(name="disjoint", pk="url", columns=["lang"])])
    res = suite.run(spark, pages, "warc_day", reference_df=disjoint)
    v = {(r["column"], r["check"]): r for r in res.verdicts.collect()}
    assert v[("lang", "ratio_equal")]["metric"] is None
    assert v[("lang", "ratio_equal")]["passed"] is False
    assert not res.passed()


def test_compare_check_duplicate_names_raise(spark, pages):
    from data_check_spark.plans.suite import CompareCheck

    suite = CheckSuite(
        [CompareCheck(name="same", pk="url"), CompareCheck(name="same", pk="url")]
    )
    with pytest.raises(ValueError, match="unique names"):
        suite.run(spark, pages, "warc_day", reference_df=pages)


def test_compare_check_resume_matches_uninterrupted(spark, pages, tmp_path):
    """CompareCheck is global: a resumed run must report the same
    compare verdicts as an uninterrupted one, and they ride the audit
    table with the partition-scoped checks."""
    from data_check_spark.plans.suite import CompareCheck
    from data_check_spark.sources.synth import synth_pages_v2

    v2 = synth_pages_v2(spark, N)
    checks = [
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        CompareCheck(name="pages_v2", pk="url", columns=["lang"], min_ratio_equal=0.99),
    ]
    full = CheckSuite(checks).run(spark, pages, "warc_day", reference_df=v2)
    want = sorted(
        map(tuple, full.verdicts.filter("check like 'pk_%' or check = 'ratio_equal'").collect())
    )

    man = Manifest(str(tmp_path / "m_cmp"))
    parts = sorted(str(r[0]) for r in pages.select("warc_day").distinct().collect())
    for p in parts[: len(parts) // 2]:
        man.mark_complete(p, run_id="prior", metrics={})
    res = CheckSuite(checks).run_resumable(
        spark, pages, "warc_day", man,
        audit_path=str(tmp_path / "audit_cmp"), reference_df=v2,
    )
    got = sorted(
        map(tuple, res.verdicts.filter("check like 'pk_%' or check = 'ratio_equal'").collect())
    )
    assert got == want
    audit = spark.read.parquet(str(tmp_path / "audit_cmp" / "verdicts"))
    assert audit.filter("check = 'ratio_equal'").count() == 1
    full.unpersist(); res.unpersist()


def test_ks_digest_drift_check(spark, pages):
    """KSDigestDriftCheck: digest-based KS verdict rides the suite —
    near-zero KS vs an identical table, clearly positive vs v2's
    shifted text lengths; global on resume like KSDriftCheck."""
    from data_check_spark.plans.suite import KSDigestDriftCheck
    from data_check_spark.sources.synth import synth_pages_v2

    v2 = synth_pages_v2(spark, N)
    chk = KSDigestDriftCheck(
        name="text_len", expr=lambda: F.length("text"), max_ks=0.05, max_psi=0.05
    )
    res = CheckSuite([chk]).run(spark, pages, "warc_day", reference_df=v2)
    row = res.verdicts.filter("check = 'ks_digest'").collect()[0]
    assert row["partition"] == "*" and row["column"] == "text_len"
    assert row["metric"] is not None and row["metric"] >= 0.0
    # psi_digest rides the SAME digest pair
    prow = res.verdicts.filter("check = 'psi_digest'").collect()[0]
    assert prow["metric"] is not None and prow["metric"] >= 0.0
    same = CheckSuite([chk]).run(spark, pages, "warc_day", reference_df=pages)
    srow = same.verdicts.filter("check = 'ks_digest'").collect()[0]
    assert srow["metric"] <= 0.01 and srow["passed"]
    spsi = same.verdicts.filter("check = 'psi_digest'").collect()[0]
    assert spsi["metric"] <= 0.01 and spsi["passed"]
    res.unpersist(); same.unpersist()


def test_ks_digest_resume_matches_uninterrupted(spark, pages, tmp_path):
    from data_check_spark.plans.suite import KSDigestDriftCheck
    from data_check_spark.sources.synth import synth_pages_v2

    v2 = synth_pages_v2(spark, N)
    checks = [
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        KSDigestDriftCheck(name="text_len", expr=lambda: F.length("text"), max_ks=0.5),
    ]
    full = CheckSuite(checks).run(spark, pages, "warc_day", reference_df=v2)
    want = [tuple(r) for r in full.verdicts.filter("check = 'ks_digest'").collect()]

    man = Manifest(str(tmp_path / "m_ksd"))
    parts = sorted(str(r[0]) for r in pages.select("warc_day").distinct().collect())
    man.mark_complete(parts[0], run_id="prior", metrics={})
    res = CheckSuite(checks).run_resumable(
        spark, pages, "warc_day", man, reference_df=v2
    )
    got = [tuple(r) for r in res.verdicts.filter("check = 'ks_digest'").collect()]
    assert got == want  # global: unaffected by the pending-partition filter
    full.unpersist(); res.unpersist()


def test_repetition_check(spark):
    """RepetitionCheck: partition means + per-doc violation dump."""
    from data_check_spark.plans.suite import RepetitionCheck

    rows = [
        ("p1", 1, "a b c d e f g h"),          # no repetition
        ("p1", 2, "x y x y x y x y"),          # dup_2gram = 1 - 2/7
        ("p2", 3, "spam spam spam spam spam"),  # dup_2gram = 1 - 1/4
        ("p2", 4, None),
    ]
    df = spark.createDataFrame(rows, "part string, doc_id long, text string")
    chk = RepetitionCheck(
        text_col="text",
        max_mean_dup_2gram=0.10,
        max_mean_top_2gram=0.95,
        id_col="doc_id",
        doc_dup_2gram_limit=0.5,
    )
    res = CheckSuite([chk]).run(spark, df, "part")
    v = {
        (r["partition"], r["check"]): r
        for r in res.verdicts.collect()
    }
    p1 = v[("p1", "repetition_mean_dup_2gram")]
    # p1 mean = (0 + (1 - 2/7)) / 2
    assert p1["metric"] == pytest.approx((1 - 2 / 7) / 2, abs=1e-5)
    assert not p1["passed"]
    p2 = v[("p2", "repetition_mean_dup_2gram")]  # NULL text skipped by avg
    assert p2["metric"] == pytest.approx(1 - 1 / 4, abs=1e-5)
    viol = res.violations["repetition:text"].collect()
    assert [r["doc_id"] for r in viol] == [2, 3]
    res.unpersist()


def test_expr_check(spark):
    """ExprCheck: arbitrary row predicates → per-partition violation
    ratios, fail-closed on NULL predicates, violations dump by id."""
    from data_check_spark.plans.suite import ExprCheck

    rows = [
        ("p1", 1, 10, "http://a"),
        ("p1", 2, -5, "http://b"),      # violates nonneg
        ("p1", 3, None, "ftp://c"),     # NULL nonneg (fail-closed) + bad scheme
        ("p2", 4, 7, "https://d"),
        ("p2", 5, 0, None),             # NULL url → scheme check fail-closed
    ]
    df = spark.createDataFrame(rows, "part string, id long, n long, url string")
    checks = [
        ExprCheck(name="nonneg", predicate_sql="n >= 0",
                  max_violation_ratio=0.0, id_col="id"),
        ExprCheck(name="http_scheme", predicate_sql="url LIKE 'http%'",
                  max_violation_ratio=0.4),
    ]
    res = CheckSuite(checks).run(spark, df, "part")
    v = {(r["partition"], r["column"]): r for r in res.verdicts.collect()}
    # p1: nonneg violated by id 2 (-5) and id 3 (NULL → fail-closed) = 2/3
    assert v[("p1", "nonneg")]["metric"] == pytest.approx(2 / 3)
    assert not v[("p1", "nonneg")]["passed"]
    assert v[("p2", "nonneg")]["metric"] == 0.0
    assert v[("p2", "nonneg")]["passed"]
    # p1 scheme: id 3 (ftp) = 1/3 ≤ 0.4 passes; p2: NULL url = 1/2 fails
    assert v[("p1", "http_scheme")]["passed"]
    assert not v[("p2", "http_scheme")]["passed"]
    viol = res.violations["expr:nonneg"].collect()
    assert [(r["partition"], r["id"]) for r in viol] == [("p1", 2), ("p1", 3)]
    res.unpersist()


def test_expr_check_rides_stats_pass(spark, pages):
    """With a StatsCheck present, ExprCheck verdicts come from the SAME
    fused pass — results must match the standalone dedicated pass, and
    the combined suite must not add a scan (asserted via plan count on
    the pass frame in stats.py unit tests; here: value equivalence)."""
    from data_check_spark.plans.suite import ExprCheck

    checks = [ExprCheck(name="url_http", predicate_sql="url LIKE 'http%'",
                        max_violation_ratio=0.01)]
    alone = CheckSuite(checks).run(spark, pages, "warc_day")
    fused = CheckSuite(
        [StatsCheck(thresholds={"text": {"max_null_rate": 0.05}})] + checks
    ).run(spark, pages, "warc_day")
    a = {(r["partition"], r["column"]): (r["metric"], r["passed"])
         for r in alone.verdicts.filter("check = 'expr'").collect()}
    f = {(r["partition"], r["column"]): (r["metric"], r["passed"])
         for r in fused.verdicts.filter("check = 'expr'").collect()}
    assert a == f and len(a) > 0
    alone.unpersist(); fused.unpersist()


def test_expr_check_duplicate_names_raise(spark, pages):
    from data_check_spark.plans.suite import ExprCheck

    suite = CheckSuite([
        ExprCheck(name="x", predicate_sql="1=1"),
        ExprCheck(name="x", predicate_sql="2=2"),
    ])
    with pytest.raises(ValueError, match="unique names"):
        suite.run(spark, pages, "warc_day")


def test_repetition_duplicate_columns_raise(spark, pages):
    from data_check_spark.plans.suite import RepetitionCheck

    suite = CheckSuite([
        RepetitionCheck(text_col="text", max_mean_dup_2gram=0.1),
        RepetitionCheck(text_col="text", max_mean_dup_2gram=0.5),
    ])
    with pytest.raises(ValueError, match="distinct columns"):
        suite.run(spark, pages, "warc_day")


def test_expr_check_resume_matches_uninterrupted(spark, pages, tmp_path):
    """ExprCheck is partition-scoped: a killed-and-resumed run's
    verdicts equal an uninterrupted run's."""
    from data_check_spark.plans.suite import ExprCheck

    suite = CheckSuite([
        ExprCheck(name="text_nonempty",
                  predicate_sql="length(text) > 0", max_violation_ratio=0.2),
    ])
    full = suite.run(spark, pages, "warc_day")
    want = {(r["partition"], r["column"]): (r["metric"], r["passed"])
            for r in full.verdicts.filter("check = 'expr'").collect()}
    full.unpersist()

    man = Manifest(str(tmp_path / "m"))
    parts = sorted(str(r[0]) for r in pages.select("warc_day").distinct().collect())
    man.mark_complete(parts[0], run_id="prior", metrics={})
    res = suite.run_resumable(spark, pages, "warc_day", man)
    got = {(r["partition"], r["column"]): (r["metric"], r["passed"])
           for r in res.verdicts.filter("check = 'expr'").collect()}
    assert got == {k: v for k, v in want.items() if k[0] != parts[0]}
    res.unpersist()


def test_expr_check_pii_gate(spark):
    """Declarative PII gating: the functions/pii patterns drop into an
    ExprCheck predicate, so 'no emails/IPs in shipped text' is a
    one-line suite constraint riding the fused stats pass."""
    from data_check_spark.functions.pii import EMAIL_RE, IPV4_RE
    from data_check_spark.plans.suite import ExprCheck

    rows = [
        ("p1", 1, "clean prose with nothing sensitive"),
        ("p1", 2, "leaked contact bob@example.com in the body"),
        ("p2", 3, "served from 10.0.0.7 internally"),
        ("p2", 4, "also clean"),
        ("p2", 5, "and clean again"),
    ]
    df = spark.createDataFrame(rows, "part string, id long, text string")
    # Spark SQL string literals process backslash escapes, so regex
    # backslashes must be doubled when a pattern is embedded in SQL
    # (see functions/pii.py note)
    ip_sql = IPV4_RE.replace("\\", "\\\\")
    pred = (
        f"regexp_count(text, '{EMAIL_RE}') = 0 AND "
        f"regexp_count(text, '{ip_sql}') = 0"
    )
    res = CheckSuite(
        [ExprCheck(name="no_pii", predicate_sql=pred,
                   max_violation_ratio=0.4, id_col="id")]
    ).run(spark, df, "part")
    v = {r["partition"]: r for r in res.verdicts.collect()}
    assert v["p1"]["metric"] == pytest.approx(0.5) and not v["p1"]["passed"]
    assert v["p2"]["metric"] == pytest.approx(1 / 3) and v["p2"]["passed"]
    viol = res.violations["expr:no_pii"].collect()
    assert [(r["partition"], r["id"]) for r in viol] == [("p1", 2), ("p2", 3)]
    res.unpersist()


def test_fd_check_pages_invariant_passes(spark, pages):
    """The BASELINE.json per-row invariant — byte-identical text per
    url — declared as a FunctionalDependencyCheck over the synthetic
    web-pages table: must PASS (synth text is a pure function of url,
    duplicate urls included)."""
    from data_check_spark.plans.suite import FunctionalDependencyCheck

    res = CheckSuite(
        [FunctionalDependencyCheck("url", ("text",))]
    ).run(spark, pages, "warc_day")
    assert res.passed()
    assert res.violations["fd:url"].isEmpty()
    res.unpersist()


def test_fd_check_detects_broken_invariant(spark, pages):
    """Mutating ONE row's text for a duplicated url breaks the FD in
    exactly that url's partition(s); the by-value recount reports the
    true variant count."""
    from data_check_spark.plans.suite import FunctionalDependencyCheck

    dup_url = (
        pages.groupBy("url").count().filter("count > 1")
        .orderBy("url").limit(1).collect()[0]["url"]
    )
    broken = pages.withColumn(
        "text",
        F.when(
            (F.col("url") == dup_url)
            & (F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("url").orderBy("warc_ts", "text")
            ) == 1),
            F.concat(F.col("text"), F.lit(" MUTATED")),
        ).otherwise(F.col("text")),
    )
    res = CheckSuite(
        [FunctionalDependencyCheck("url", ("text",), max_violating_keys=0)]
    ).run(spark, broken, "warc_day")
    assert not res.passed()
    viol = res.violations["fd:url"].collect()
    assert {r["key_value"] for r in viol} == {dup_url}
    assert all(r["n_variants"] == 2 for r in viol)
    # failing partitions = exactly those holding the mutated url's rows
    bad_parts = {
        str(r["warc_day"])
        for r in broken.filter(F.col("url") == dup_url)
        .select("warc_day").distinct().collect()
    }
    v = res.verdicts.filter("check = 'fd' and not passed").collect()
    assert {r["partition"] for r in v} == bad_parts
    res.unpersist()


def test_fd_null_dependent_is_one_variant(spark):
    """Byte-identical means 'both NULL or both equal': a key whose
    rows are all NULL-text passes; NULL-vs-value is a violation."""
    from data_check_spark.plans.suite import FunctionalDependencyCheck

    rows = [
        ("p", "u1", None), ("p", "u1", None),          # all-NULL: passes
        ("p", "u2", None), ("p", "u2", "x"),           # NULL vs value: violates
        ("p", "u3", "y"), ("p", "u3", "y"),            # equal: passes
    ]
    df = spark.createDataFrame(rows, "part string, url string, text string")
    res = CheckSuite(
        [FunctionalDependencyCheck("url", ("text",))]
    ).run(spark, df, "part")
    viol = res.violations["fd:url"].collect()
    assert [(r["key_value"], r["n_variants"]) for r in viol] == [("u2", 2)]
    res.unpersist()


def test_fd_duplicate_determinants_raise(spark, pages):
    from data_check_spark.plans.suite import FunctionalDependencyCheck

    with pytest.raises(ValueError, match="distinct determinants"):
        CheckSuite(
            [
                FunctionalDependencyCheck("url", ("text",)),
                FunctionalDependencyCheck("url", ("lang",)),
            ]
        ).run(spark, pages, "warc_day")


def test_fd_check_resume_matches_uninterrupted(spark, pages, tmp_path):
    """FD is partition-scoped: a resumed run's verdicts over the
    remaining partitions equal the uninterrupted run's rows for them."""
    from data_check_spark.plans.suite import FunctionalDependencyCheck

    suite = CheckSuite([FunctionalDependencyCheck("url", ("text", "lang"))])
    full = suite.run(spark, pages, "warc_day").verdicts
    man = Manifest(str(tmp_path / "m"))
    parts = sorted(
        str(r[0]) for r in pages.select("warc_day").distinct().collect()
    )
    for p in parts[:2]:
        man.mark_complete(p, run_id="prior", metrics={})
    res = suite.run_resumable(spark, pages, "warc_day", man)
    expect = full.filter(~F.col("partition").isin(parts[:2]))
    assert res.verdicts.exceptAll(expect).isEmpty()
    assert expect.exceptAll(res.verdicts).isEmpty()


def test_fingerprint_check_rides_stats_pass(spark, pages):
    """Fused lineage == the standalone operator, and a lineage-only
    suite works (empty verdicts, passed() True)."""
    from data_check_spark.operators.fingerprint import partition_fingerprint
    from data_check_spark.plans.suite import FingerprintCheck

    cols = ["url", "text", "lang"]
    fused = CheckSuite(
        [StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
         FingerprintCheck(cols=cols)]
    ).run(spark, pages, "warc_day")
    want = sorted(
        tuple(r) for r in partition_fingerprint(pages, "warc_day", cols).collect()
    )
    got = sorted(tuple(r) for r in fused.fingerprints.collect())
    assert got == want and len(got) > 0
    fused.unpersist()

    alone = CheckSuite([FingerprintCheck(cols=cols)]).run(spark, pages, "warc_day")
    assert sorted(tuple(r) for r in alone.fingerprints.collect()) == want
    assert alone.verdicts.count() == 0 and alone.passed()
    alone.unpersist()

    with pytest.raises(ValueError, match="at most one FingerprintCheck"):
        CheckSuite(
            [FingerprintCheck(cols=["url"]), FingerprintCheck(cols=["text"])]
        ).run(spark, pages, "warc_day")


def test_fingerprint_check_resumable_lineage(spark, pages, suite, tmp_path):
    """run_resumable persists fingerprints to the audit table and the
    manifest; changed_partitions_vs_audit then detects a mutated
    partition against the stored baseline with NO rescan of v1."""
    from data_check_spark.operators.fingerprint import changed_partitions_vs_audit
    from data_check_spark.plans.suite import FingerprintCheck

    cols = ["url", "text", "lang"]
    sc = CheckSuite(suite.checks + [FingerprintCheck(cols=cols)])
    man = Manifest(str(tmp_path / "manifest"))
    audit = str(tmp_path / "audit")
    res = sc.run_resumable(spark, pages, "warc_day", man, audit_path=audit)
    assert res is not None and res.fingerprints is not None
    # every manifest record carries its partition's fingerprint
    recs = man.completed()
    assert len(recs) > 0
    assert all("fingerprint" in r["metrics"] for r in recs.values())
    # stored fingerprints answer "what changed?" for a mutated v2
    v2 = pages.withColumn(
        "lang",
        F.when(F.col("warc_day") == sorted(recs)[0], F.lit("xx"))
        .otherwise(F.col("lang")),
    )
    out = {r["partition"]: r["status"] for r in changed_partitions_vs_audit(
        v2, "warc_day", f"{audit}/fingerprints", cols=cols).collect()}
    assert out[sorted(recs)[0]] == "changed"
    assert all(s == "equal" for p, s in out.items() if p != sorted(recs)[0])


def test_schema_check(spark, pages, tmp_path):
    from data_check_spark.plans.suite import SchemaCheck

    good = {"url": "string", "warc_ts": "timestamp", "text": "string",
            "lang": "string"}
    res = CheckSuite([SchemaCheck(expected=good)]).run(spark, pages, "warc_day")
    v = {r["column"]: (r["check"], r["passed"]) for r in res.verdicts.collect()}
    assert all(c == "schema" and p for c, p in v.values()) and len(v) == 4

    bad = CheckSuite([SchemaCheck(
        expected={"url": "bigint", "nope": "string", "text": "string"}
    )]).run(spark, pages, "warc_day")
    b = {r["column"]: (r["check"], r["passed"]) for r in bad.verdicts.collect()}
    assert b["url"] == ("schema", False)          # type drift
    assert b["nope"] == ("schema_missing", False)  # absent column
    assert b["text"] == ("schema", True)
    assert not bad.passed()

    # exact=True flags extra columns; resumable path carries the gate
    ex = CheckSuite([SchemaCheck(expected=good, exact=True)]).run(
        spark, pages, "warc_day"
    )
    extra = {r["column"] for r in
             ex.verdicts.filter("check = 'schema_unexpected'").collect()}
    assert "html" in extra and not ex.passed()

    man = Manifest(str(tmp_path / "m"))
    res2 = CheckSuite(
        [SchemaCheck(expected=good), UniquenessCheck(key="url", max_duplicate_keys=10**9)]
    ).run_resumable(spark, pages, "warc_day", man)
    assert res2.verdicts.filter("check = 'schema'").count() == 4


def test_referential_check_hashed_matches_exact(spark, pages, suite):
    """ReferentialCheck(hash_keys=True) produces byte-identical
    verdicts and violation rows to the raw-key anti-join (no 64-bit
    collisions at test scale; xxhash64 is fixed-seed)."""
    import dataclasses

    from data_check_spark.plans.suite import ReferentialCheck

    hashed = CheckSuite([
        dataclasses.replace(c, hash_keys=True)
        if isinstance(c, ReferentialCheck) else c
        for c in suite.checks
    ])
    r1 = suite.run(spark, pages, "warc_day")
    r2 = hashed.run(spark, pages, "warc_day")
    assert sorted(map(tuple, r1.verdicts.collect())) == \
        sorted(map(tuple, r2.verdicts.collect()))
    v1 = sorted(map(tuple, r1.violations["refint:domain_in_snapshot"].collect()))
    v2 = sorted(map(tuple, r2.violations["refint:domain_in_snapshot"].collect()))
    assert v1 == v2 and len(v1) > 0
    r1.unpersist(); r2.unpersist()

def test_drift_profile_reference_matches_table_reference(spark, pages):
    """run(reference_profile=...) reproduces run(reference_df=...)
    byte-identically: the stored (kind, key, freq) rows carry exactly
    the frequencies the fused reference scan would have collected."""
    from data_check_spark.plans.suite import KSDriftCheck, NumericDriftCheck

    ref = synth_pages_v2(spark, N)
    s = CheckSuite([
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        CategoricalDriftCheck(column="lang", max_psi=0.01),
        NumericDriftCheck(name="text_len", expr=lambda: F.length("text"),
                          lo=0.0, hi=5000.0, max_psi=0.2),
        KSDriftCheck(name="text_len_ks", expr=lambda: F.length("text"),
                     lo=0.0, hi=5000.0, n_buckets=50, max_ks=0.5),
    ])
    direct = s.run(spark, pages, "warc_day", reference_df=ref)
    want = sorted(map(tuple, direct.verdicts.collect()))
    assert direct.drift_profile is not None  # df-side profile exposed
    direct.unpersist()

    via_profile = s.run(
        spark, pages, "warc_day", reference_profile=s.drift_profile_of(ref)
    )
    assert sorted(map(tuple, via_profile.verdicts.collect())) == want
    via_profile.unpersist()


def test_drift_profile_audit_roundtrip(spark, pages, tmp_path):
    """v1's run_resumable persists v1's own profile to the audit;
    v2's run drifts against the stored rows (no v1 rescan) and gets
    the same drift verdicts as scanning v1 directly."""
    from data_check_spark.plans.suite import drift_profile_from_audit

    v1 = synth_pages_v2(spark, N).withColumn("warc_day", F.to_date("warc_ts"))
    s = CheckSuite([
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        CategoricalDriftCheck(column="lang", max_psi=0.01),
    ])
    audit = str(tmp_path / "audit")
    r1 = s.run_resumable(
        spark, v1, "warc_day", Manifest(str(tmp_path / "m1")),
        audit_path=audit, reference_profile=s.drift_profile_of(v1),
    )
    assert r1 is not None
    # self-drift bootstrap: PSI vs own profile is 0
    self_psi = r1.verdicts.filter("check = 'psi_categorical'").collect()[0]
    assert self_psi["metric"] == 0.0 and self_psi["passed"]
    r1.unpersist()

    stored = drift_profile_from_audit(spark, f"{audit}/drift_profiles")
    r2 = s.run_resumable(
        spark, pages, "warc_day", Manifest(str(tmp_path / "m2")),
        audit_path=audit, reference_profile=stored,
    )
    got = {(r["column"], r["metric"], r["passed"])
           for r in r2.verdicts.filter("check = 'psi_categorical'").collect()}
    r2.unpersist()
    direct = s.run(spark, pages, "warc_day", reference_df=v1)
    want = {(r["column"], r["metric"], r["passed"])
            for r in direct.verdicts.filter("check = 'psi_categorical'").collect()}
    direct.unpersist()
    assert got == want and len(got) == 1

def test_digest_drift_stored_reference_matches_table(spark, pages, tmp_path):
    """KSDigestDriftCheck against stored digest rows reproduces the
    table-reference verdicts exactly (the digest IS deterministic for
    a fixed input + partitioning), and the audit round-trip works:
    v1's run_resumable persists its digests, v2 reads them back."""
    from data_check_spark.plans.suite import (
        KSDigestDriftCheck,
        drift_digest_from_audit,
    )

    ref = synth_pages_v2(spark, N).withColumn("warc_day", F.to_date("warc_ts"))
    s = CheckSuite([
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        KSDigestDriftCheck(name="text_len_dig", expr=lambda: F.length("text"),
                           max_ks=0.5, max_psi=0.5),
    ])
    direct = s.run(spark, pages, "warc_day", reference_df=ref)
    want = sorted(map(tuple, direct.verdicts.filter(
        "check in ('ks_digest', 'psi_digest')").collect()))
    assert direct.drift_digests is not None
    assert {r["kind"] for r in direct.drift_digests.select("kind").distinct().collect()} \
        == {"text_len_dig"}
    direct.unpersist()

    # v1 = ref validated resumably with a self-digest → digests persisted
    audit = str(tmp_path / "audit")
    r1 = s.run_resumable(
        spark, ref, "warc_day", Manifest(str(tmp_path / "m1")),
        audit_path=audit, reference_digest=s.drift_digest_of(ref),
    )
    self_ks = r1.verdicts.filter("check = 'ks_digest'").collect()[0]
    assert self_ks["metric"] == 0.0 and self_ks["passed"]
    r1.unpersist()

    stored = drift_digest_from_audit(spark, f"{audit}/drift_digests")
    r2 = s.run(spark, pages, "warc_day", reference_digest=stored)
    got = sorted(map(tuple, r2.verdicts.filter(
        "check in ('ks_digest', 'psi_digest')").collect()))
    r2.unpersist()
    assert got == want

    # a kind with no stored rows fails closed (NULL stat)
    empty = stored.filter("kind = 'nope'")
    r3 = s.run(spark, pages, "warc_day", reference_digest=empty)
    ks_row = r3.verdicts.filter("check = 'ks_digest'").collect()[0]
    assert ks_row["metric"] is None and not ks_row["passed"]
    r3.unpersist()

def test_schema_drift_vs_stored_schema(spark, pages, tmp_path):
    """Every run_resumable persists the table schema; the next
    version's SchemaCheck(expected=schema_from_audit, exact=True)
    flags retyped, dropped and new columns — schema drift across
    versions with no old table in reach."""
    from data_check_spark.plans.suite import SchemaCheck, schema_from_audit

    audit = str(tmp_path / "audit")
    r1 = CheckSuite([UniquenessCheck(key="url", max_duplicate_keys=10**9)]) \
        .run_resumable(spark, pages, "warc_day", Manifest(str(tmp_path / "m1")),
                       audit_path=audit)
    r1.unpersist()
    stored = schema_from_audit(spark, f"{audit}/schemas")
    assert stored["url"] == "string" and stored["warc_ts"] == "timestamp"

    # v2: text retyped, html dropped, extra added
    v2 = pages.withColumn("text", F.length("text")) \
        .drop("html").withColumn("extra", F.lit(1))
    res = CheckSuite([SchemaCheck(expected=stored, exact=True)]).run(
        spark, v2, "warc_day"
    )
    v = {r["column"]: r["check"] for r in
         res.verdicts.filter("not passed").collect()}
    assert v["text"] == "schema"            # type drift
    assert v["html"] == "schema_missing"    # dropped
    assert v["extra"] == "schema_unexpected"  # new column
    assert not res.passed()

    # unchanged schema passes exactly
    ok = CheckSuite([SchemaCheck(expected=stored, exact=True)]).run(
        spark, pages, "warc_day"
    )
    assert ok.passed()


# ------------------------------------------------------------ ProfileCheck
def test_profile_check_hand_computed(spark):
    """Entropy/mode/distinct verdicts on a frame verifiable by hand:
    lang = a x4, b x2, c x1, NULL x1 -> non-null N=7, distinct=3,
    entropy 1.378783, mode 4/7. No reference table required."""
    import math

    from data_check_spark.plans.suite import ProfileCheck

    df = spark.createDataFrame(
        [("a", "p0")] * 4 + [("b", "p0")] * 2 + [("c", "p1"), (None, "p1")],
        "lang string, part string",
    )
    res = CheckSuite(
        [ProfileCheck("lang", min_entropy=1.0, max_mode_share=0.5,
                      min_distinct=2, max_distinct=10)]
    ).run(spark, df, "part")
    v = {r["check"]: r for r in res.verdicts.collect()}
    want = -(4/7 * math.log2(4/7) + 2/7 * math.log2(2/7) + 1/7 * math.log2(1/7))
    assert v["profile_entropy"]["metric"] == round(want, 6)
    assert v["profile_entropy"]["passed"]
    assert v["profile_mode_share"]["metric"] == 4 / 7
    assert not v["profile_mode_share"]["passed"]  # 0.571 > 0.5
    assert v["profile_min_distinct"]["metric"] == 3.0 and v["profile_min_distinct"]["passed"]
    assert v["profile_max_distinct"]["passed"]
    assert all(r["partition"] == "*" for r in res.verdicts.collect())
    assert not res.passed()


def test_profile_check_fail_closed_and_guards(spark):
    """All-NULL column fails every configured verdict closed (metric
    NULL); duplicate columns and all-None thresholds are rejected."""
    from data_check_spark.plans.suite import ProfileCheck

    df = spark.createDataFrame([(None, "p0")], "lang string, part string")
    res = CheckSuite([ProfileCheck("lang", min_entropy=0.1)]).run(spark, df, "part")
    r = res.verdicts.collect()[0]
    assert r["metric"] is None and not r["passed"]

    with pytest.raises(ValueError, match="duplicates"):
        CheckSuite(
            [ProfileCheck("lang", min_entropy=0.1),
             ProfileCheck("lang", max_mode_share=0.5)]
        ).run(spark, df, "part")
    with pytest.raises(ValueError, match="at least one"):
        ProfileCheck("lang")


def test_profile_check_shares_drift_scan(spark, pages):
    """A ProfileCheck and a CategoricalDriftCheck on the SAME column
    share the profile kind: both verdicts come out correct, and the
    persisted drift profile carries the column's counts ONCE."""
    from data_check_spark.plans.suite import ProfileCheck

    res = CheckSuite(
        [
            CategoricalDriftCheck(column="lang", max_psi=10.0),
            ProfileCheck("lang", min_entropy=0.5, max_mode_share=0.99),
        ]
    ).run(spark, pages, "warc_day", reference_df=pages)
    v = {r["check"]: r for r in res.verdicts.collect()}
    assert v["psi_categorical"]["metric"] == 0.0  # self-drift
    assert v["profile_entropy"]["passed"] and v["profile_mode_share"]["passed"]
    langs = pages.filter("lang is not null").select("lang").distinct().count()
    prof_kinds = res.drift_profile.filter("kind = 'lang'").count()
    nulls = pages.filter("lang is null").count()
    assert prof_kinds == langs + (1 if nulls else 0)  # once, not twice
    res.unpersist()


def test_profile_check_resume_matches_uninterrupted(spark, pages, tmp_path):
    """ProfileCheck is global: a resumed run reports the same verdict
    as an uninterrupted one (entropy is not partition-decomposable)."""
    from data_check_spark.plans.suite import ProfileCheck

    checks = [
        StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}),
        ProfileCheck("lang", min_entropy=0.5),
    ]
    full = CheckSuite(checks).run(spark, pages, "warc_day")
    expected = full.verdicts.filter("check = 'profile_entropy'").collect()[0]

    man = Manifest(str(tmp_path / "m_prof"))
    parts = sorted(str(r[0]) for r in pages.select("warc_day").distinct().collect())
    for p in parts[: len(parts) // 2]:
        man.mark_complete(p, run_id="prior", metrics={})
    res = CheckSuite(checks).run_resumable(spark, pages, "warc_day", man)
    got = res.verdicts.filter("check = 'profile_entropy'").collect()
    assert len(got) == 1
    assert got[0]["metric"] == expected["metric"]
    assert got[0]["passed"] == expected["passed"]
    full.unpersist(); res.unpersist()


def _job_ids(spark) -> set:
    """Ids of every job the session has started, once the listener bus
    has caught up (suite jobs run from threads without a job group)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_stats_null_metric_fails_closed(spark):
    """A stats threshold whose metric is NULL — n_distinct of a BINARY
    column is never computed — must FAIL, and so must the partition's
    ('*', 'all') summary row and SuiteResult.passed()."""
    df = spark.createDataFrame(
        [("p1", bytearray(b"a")), ("p1", bytearray(b"b")), ("p2", None)],
        "part string, blob binary",
    )
    res = CheckSuite([StatsCheck({"blob": {"min_distinct": 5}})]).run(spark, df, "part")
    rows = {(r["partition"], r["column"], r["check"]): r for r in res.verdicts.collect()}
    for p in ("p1", "p2"):
        assert rows[(p, "blob", "min_distinct")]["metric"] is None
        assert rows[(p, "blob", "min_distinct")]["passed"] is False
        assert rows[(p, "*", "all")]["metric"] == 1.0
        assert rows[(p, "*", "all")]["passed"] is False
    assert not res.passed()


def test_verdicts_collect_runs_at_most_one_job(spark, pages, suite):
    """Verdict rows are computed on the driver during run(): collecting
    them reads one local relation instead of re-running Spark joins,
    unions and a sort over Phase 1's results."""
    from data_check_spark.plans.suite import CompareCheck

    v2 = synth_pages_v2(spark, N)
    s = CheckSuite(
        suite.checks
        + [
            CompareCheck("diff", pk="url", columns=["text", "lang"]),
            CategoricalDriftCheck(column="lang", max_psi=0.2),
        ]
    )
    res = s.run(spark, pages, "warc_day", reference_df=v2)
    before = _job_ids(spark)
    rows = res.verdicts.collect()
    new = {j for j in _job_ids(spark) if j > max(before, default=-1)}
    assert len(new) <= 1
    assert {r["check"] for r in rows} >= {
        "unique", "refint", "all", "psi_categorical", "ratio_equal", "pk_missing_ratio_1",
    }
    # sorted like Spark's ascending orderBy("partition", "check", "column")
    keys = [(r["partition"], r["check"], r["column"]) for r in rows]
    assert keys == sorted(keys, key=lambda k: tuple((v is not None, v) for v in k))
    res.unpersist()


def test_unknown_check_type_rejected_before_any_job(spark, pages):
    s = CheckSuite([StatsCheck({"text": {"max_null_rate": 0.05}}), object()])
    before = _job_ids(spark)
    with pytest.raises(TypeError, match="unknown check type"):
        s.run(spark, pages, "warc_day")
    assert {j for j in _job_ids(spark) if j > max(before, default=-1)} == set()
