import pyspark.sql.functions as F
import pytest

from data_check_spark.operators.refint import referential_violations
from data_check_spark.operators.schema_diff import common_columns, schema_diff
from data_check_spark.operators.stats import column_stats, partition_stats_verdicts
from data_check_spark.operators.unique import (
    duplicate_keys,
    uniqueness_check,
    uniqueness_violations,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("a", 1, "p1"),
            ("b", None, "p1"),
            ("b", 3, "p1"),
            ("c", 4, "p2"),
            ("d", 5, "p2"),
        ],
        "k string, v int, part string",
    )


def test_column_stats_exact(df):
    rows = {r["column"]: r for r in column_stats(df, approx=False).collect()}
    k = rows["k"]
    assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (5, 0, 4)
    assert k["null_rate"] == 0.0
    assert (k["min_value"], k["max_value"]) == ("a", "d")
    v = rows["v"]
    assert (v["n_null"], v["n_distinct"]) == (1, 4)
    assert v["null_rate"] == pytest.approx(0.2)
    assert v["mean"] == pytest.approx((1 + 3 + 4 + 5) / 4)
    assert (v["min_value"], v["max_value"]) == ("1", "5")


def test_partition_verdicts(df):
    v = partition_stats_verdicts(
        df,
        "part",
        {"v": {"max_null_rate": 0.1}, "k": {"min_distinct": 2}},
        approx=False,
    )
    rows = {(r["partition"], r["column"], r["check"]): r for r in v.collect()}
    # p1 has 1/3 nulls in v → fail; p2 has 0 → pass
    assert not rows[("p1", "v", "max_null_rate")]["passed"]
    assert rows[("p2", "v", "max_null_rate")]["passed"]
    assert rows[("p1", "k", "min_distinct")]["passed"]
    # summary rows
    assert not rows[("p1", "*", "all")]["passed"]
    assert rows[("p2", "*", "all")]["passed"]


def test_avg_tokens_gate_fails_closed_on_null_metric(spark):
    """An all-NULL text column has NULL avg_tokens — the token gate
    must FAIL (like avg_bytes/quantiles), not emit passed=NULL that
    neither the summary count_if nor filter(~passed) catches."""
    d = spark.createDataFrame(
        [("p0", None), ("p0", None)], "part string, txt string"
    )
    v = partition_stats_verdicts(
        d, "part", {"txt": {"min_avg_tokens": 5.0}}, approx=False
    )
    rows = {(r["column"], r["check"]): r for r in v.collect()}
    assert rows[("txt", "min_avg_tokens")]["passed"] is False
    assert rows[("*", "all")]["passed"] is False


def test_uniqueness(df):
    viol = uniqueness_violations(df, "k").collect()
    assert [(r["key_value"], r["n"]) for r in viol] == [("b", 2)]
    # broadcast and shuffled candidate probes agree
    viol2 = duplicate_keys(df, "k", broadcast_candidates=False).orderBy("key_value").collect()
    assert [(r["key_value"], r["n"]) for r in viol2] == [("b", 2)]
    passed, n, msg = uniqueness_check(df.filter("k <> 'b'"), "k")
    assert passed and n == 0 and msg is None
    # failure carries the reference-style remediation query
    # (data_processor.py:263-264)
    passed, n, msg = uniqueness_check(df, "k")
    assert not passed and n == 1
    assert "GROUP BY k HAVING count(*) > 1" in msg


def test_referential(spark, df):
    dim = spark.createDataFrame([("a",), ("b",), ("c",)], "dk string")
    v = referential_violations(df, "k", dim, "dk").collect()
    assert [(r["ref_key"], r["n_rows"]) for r in v] == [("d", 1)]
    rows = referential_violations(df, "k", dim, "dk", keep_columns=["v"]).collect()
    assert [(r["ref_key"], r["v"]) for r in rows] == [("d", 5)]


def test_schema_diff(spark):
    a = spark.createDataFrame([(1, "x", 2.0)], "A bigint, B string, C double")
    b = spark.createDataFrame([(1, 5, "y")], "A bigint, B bigint, D string")
    d = {r["column"]: r["status"] for r in schema_diff(spark, a, b).collect()}
    assert d == {
        "A": "common",
        "B": "type_mismatch",
        "C": "exclusive_1",
        "D": "exclusive_2",
    }
    # common_columns drops mismatched names but keeps same-name cols
    assert [n for n, _ in common_columns(a, b)] == ["A", "B"]


def test_struct_excluded_in_reference_mode(spark):
    a = spark.createDataFrame([(1, (1, "s"))], "A bigint, E struct<x:bigint,y:string>")
    b = spark.createDataFrame([(1, (1, "s"))], "A bigint, E struct<x:bigint,y:string>")
    # reference parity: struct columns are excluded (models/table.py:104-110)
    assert [n for n, _ in common_columns(a, b, reference_mode=True)] == ["A"]
    assert [n for n, _ in common_columns(a, b, reference_mode=False)] == ["A", "E"]
    d = {r["column"]: r["status"] for r in schema_diff(spark, a, b).collect()}
    assert d["E"] == "unsupported"
    # REPEATED RECORD (BigQuery's array-of-struct) is also unsupported
    c1 = spark.createDataFrame([(1, [(1, "s")])],
                               "A bigint, R array<struct<x:bigint,y:string>>")
    c2 = spark.createDataFrame([(1, [(1, "s")])],
                               "A bigint, R array<struct<x:bigint,y:string>>")
    assert [n for n, _ in common_columns(c1, c2, reference_mode=True)] == ["A"]
    d2 = {r["column"]: r["status"] for r in schema_diff(spark, c1, c2).collect()}
    assert d2["R"] == "unsupported"


def test_exact_distinct_counts_single_job(spark):
    """N exact-distinct columns = ONE Spark job (the per-column loop
    serialized N jobs); values canonicalized, NULL-only groups → 0."""
    from data_check_spark.operators.stats import exact_distinct_counts

    df = spark.createDataFrame(
        [
            ("p1", "en", [2, 1]),
            ("p1", "de", [1, 2]),  # canonical_string: same sorted-distinct join as above
            ("p1", None, None),
            ("p2", None, None),
        ],
        "part string, lang string, tags array<int>",
    )
    sc = spark.sparkContext
    # AQE splits one action into several stage-jobs, so assert the
    # scaling invariant instead of a literal 1: the job count for N
    # columns equals the job count for 1 column (one action total; the
    # old implementation serialized one action PER column)
    sc.setJobGroup("exact_one", "1 column")
    exact_distinct_counts(df, "part", ("lang",))
    jobs_one = sc.statusTracker().getJobIdsForGroup("exact_one")
    sc.setJobGroup("exact_two", "2 columns")
    out = exact_distinct_counts(df, "part", ("lang", "tags"))
    jobs_two = sc.statusTracker().getJobIdsForGroup("exact_two")
    sc.setJobGroup(None, None)
    assert len(jobs_two) == len(jobs_one)
    assert out[("p1", "lang")] == 2
    # arrays canonicalize to sorted-distinct joins: [2,1] and [1,2] count as ONE
    assert out[("p1", "tags")] == 1
    assert out[("p2", "lang")] == 0
    assert out[("p2", "tags")] == 0


def test_avg_tokens_newline_separated(spark):
    """ADVICE regression: newline/tab-separated text (typical
    extracted web text) must count its tokens, not collapse to ~1."""
    from data_check_spark.operators.stats import partition_stats_pass

    df = spark.createDataFrame(
        [("p", "one\ntwo\tthree\rfour five")], "part string, text string"
    )
    row = partition_stats_pass(
        df, "part", {"text": {"min_avg_tokens": 1.0}}
    ).collect()[0]
    (m,) = row["_m"]
    assert m["avg_tokens"] == 5.0


def test_broadcast_auto_is_size_aware(spark, df):
    """broadcast='auto' must force the hint only when Catalyst's size
    estimate is under the cap; a large dim is left unhinted (AQE may
    still convert at runtime) instead of being forced through a
    driver-side broadcast build (VERDICT r3 'What's wrong' #2)."""
    from data_check_spark.operators.refint import (
        AUTO_BROADCAST_CAP_BYTES,
        maybe_broadcast,
        plan_size_estimate,
    )

    # local relations report Catalyst's unknown-size sentinel -> the
    # bounded row-count probe decides, and a 2-row dim broadcasts
    small = spark.createDataFrame([("a",), ("x",)], "dk string")
    assert plan_size_estimate(small) is None
    hinted = maybe_broadcast(small, "auto")
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()

    # spark.range stats estimate is 8 B/row — 5M rows > 32 MB cap
    big = spark.range(5_000_000).select(F.col("id").cast("string").alias("dk"))
    big_est = plan_size_estimate(big)
    assert big_est is not None and big_est > AUTO_BROADCAST_CAP_BYTES
    unhinted = maybe_broadcast(big, "auto")
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()
    # explicit override still broadcasts regardless of size
    forced = maybe_broadcast(big, True)
    assert "ResolvedHint" in forced._jdf.queryExecution().analyzed().toString()


def test_referential_non_broadcast_path_correct(spark, df):
    """The shuffled (non-broadcast) anti-join must produce the same
    violations as the broadcast path."""
    dim = spark.createDataFrame([("a",), ("c",), ("d",)], "dk string")
    got_b = referential_violations(df, "k", dim, "dk", broadcast=True).collect()
    got_s = referential_violations(df, "k", dim, "dk", broadcast=False).collect()
    assert sorted(map(tuple, got_b)) == sorted(map(tuple, got_s))
    assert [(r["ref_key"], r["n_rows"]) for r in got_s] == [("b", 2)]


def test_quantile_thresholds(spark):
    """min_/max_ p50/p90/p99 thresholds ride the fused pass via
    approx_percentile; NULL sketches (all-NULL partition) fail closed."""
    from data_check_spark.operators.stats import partition_stats_verdicts

    rows = [("p1", float(v)) for v in range(1, 101)]
    rows += [("p2", float(v)) for v in range(1, 11)]
    rows += [("p3", None)]
    df = spark.createDataFrame(rows, "part string, v double")
    v = partition_stats_verdicts(
        df, "part", {"v": {"min_p50": 40.0, "max_p99": 150.0}}
    )
    got = {(r["partition"], r["check"]): r for r in v.filter("column = 'v'").collect()}
    assert got[("p1", "min_p50")]["metric"] == 50.0
    assert got[("p1", "min_p50")]["passed"]
    assert got[("p1", "max_p99")]["metric"] == 99.0
    assert got[("p1", "max_p99")]["passed"]
    assert got[("p2", "min_p50")]["metric"] == 5.0
    assert not got[("p2", "min_p50")]["passed"]
    assert got[("p3", "min_p50")]["metric"] is None
    assert not got[("p3", "min_p50")]["passed"]  # fail-closed


def test_max_avg_tokens_threshold(spark):
    from data_check_spark.operators.stats import partition_stats_verdicts

    df = spark.createDataFrame(
        [("p1", "a b c d e f g h"), ("p1", "x y"), ("p2", "one two")],
        "part string, text string",
    )
    v = partition_stats_verdicts(df, "part", {"text": {"max_avg_tokens": 3.0}})
    got = {r["partition"]: r for r in v.filter("check = 'max_avg_tokens'").collect()}
    assert got["p1"]["metric"] == pytest.approx(5.0)
    assert not got["p1"]["passed"]
    assert got["p2"]["metric"] == pytest.approx(2.0)
    assert got["p2"]["passed"]


def test_column_stats_include_quantiles(spark):
    from data_check_spark.operators.stats import column_stats

    df = spark.createDataFrame([(float(v),) for v in range(1, 101)], "v double")
    row = column_stats(df, ["v"], include_quantiles=True).collect()[0]
    assert row["p50"] == 50.0 and row["p90"] == 90.0 and row["p99"] == 99.0
    row = column_stats(df, ["v"]).collect()[0]
    assert row["p50"] is None  # opt-in: no sketch unless asked


# ------------------------------------------------------------ IQR fences
def test_iqr_outlier_counts(spark):
    from data_check_spark.operators.stats import iqr_outlier_counts

    # sorted = [-1000, -49, 1..100, 150, 5000] (104 values): q1 at
    # rank 0.25*103 = 25.75 -> 24.75, q3 at 77.25 -> 76.25; iqr=51.5
    # -> fences [-52.5, 153.5]
    vals = list(range(1, 101)) + [-1000, -49, 150, 5000]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    r = iqr_outlier_counts(df, ["x"]).collect()[0]
    assert r["column"] == "x" and r["n_rows"] == 104
    assert r["q1"] == 24.75 and r["q3"] == 76.25
    assert r["lo_fence"] == -52.5 and r["hi_fence"] == 153.5
    # only -1000 below (-49 > -52.5); only 5000 above (150 <= 153.5)
    assert r["n_below"] == 1 and r["n_above"] == 1


def test_iqr_outlier_counts_matches_duckdb(spark):
    """Exact-percentile fences must be bit-identical to DuckDB's
    quantile_cont + round — the operator's cross-engine claim."""
    import random

    import duckdb

    from data_check_spark.operators.stats import iqr_outlier_counts

    rng = random.Random(5)
    vals = [round(rng.uniform(-50, 50), 3) for _ in range(997)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = iqr_outlier_counts(df, ["x"]).collect()[0]
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"x": vals}))
    w = con.execute(
        """WITH q AS (SELECT quantile_cont(x,0.25) q1, quantile_cont(x,0.75) q3 FROM t)
           SELECT round(q1,6), round(q3,6),
                  round(q1-1.5*(q3-q1),6), round(q3+1.5*(q3-q1),6) FROM q"""
    ).fetchone()
    assert (got["q1"], got["q3"], got["lo_fence"], got["hi_fence"]) == w


def test_iqr_outlier_counts_multi_column_two_scans(spark):
    from data_check_spark.operators.stats import iqr_outlier_counts

    df = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(50)], "a double, b double"
    )
    out = {r["column"]: r for r in iqr_outlier_counts(df, ["a", "b"]).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["n_below"] == 0 and out["a"]["n_above"] == 0
    with pytest.raises(ValueError, match="non-empty"):
        iqr_outlier_counts(df, [])


def test_fd_violations_operator(spark):
    """fd_violations matches a brute-force recomputation and is
    indifferent to the broadcast choice; multi-column dependents and
    the NULL-combo-is-one-variant rule covered."""
    from data_check_spark.operators.unique import fd_violations

    rows = [
        ("u1", "a", 1), ("u1", "a", 1),              # consistent
        ("u2", "a", 1), ("u2", "b", 1),              # 2 variants
        ("u3", None, 1), ("u3", None, 1),            # all-NULL combo: 1 variant
        ("u4", None, 1), ("u4", "x", 1), ("u4", "x", 2),  # 3 variants
    ]
    df = spark.createDataFrame(rows, "url string, t string, v int")
    got = [
        (r["key_value"], r["n_variants"], r["n_rows"])
        for r in fd_violations(df, "url", ["t", "v"]).collect()
    ]
    assert got == [("u2", 2, 2), ("u4", 3, 3)]
    got2 = [
        (r["key_value"], r["n_variants"], r["n_rows"])
        for r in fd_violations(df, "url", ["t", "v"], broadcast_candidates=False).collect()
    ]
    assert got2 == got
    # limit caps deterministically (sorted by key)
    assert fd_violations(df, "url", ["t", "v"], limit=1).collect()[0]["key_value"] == "u2"


def test_heavy_hitters(spark):
    """Exact counts, deterministic tie-break (key ascending), global
    and grouped modes, k larger than the key domain."""
    from data_check_spark.operators.topk import heavy_hitters

    rows = (
        [("g1", "a")] * 3 + [("g1", "b")] * 3 + [("g1", "c")] * 1
        + [("g2", "c")] * 2 + [("g2", "a")] * 1
    )
    df = spark.createDataFrame(rows, "g string, k string")
    got = [
        (r["group"], r["key_value"], r["n"], r["rank"])
        for r in heavy_hitters(df, "k", k=2, group="g").collect()
    ]
    # g1: a and b tie at 3 — 'a' ranks first by key order
    assert got == [
        ("g1", "a", 3, 1), ("g1", "b", 3, 2),
        ("g2", "c", 2, 1), ("g2", "a", 1, 2),
    ]
    glob = [
        (r["key_value"], r["n"], r["rank"])
        for r in heavy_hitters(df, "k", k=10).collect()
    ]
    # k exceeds the domain: all keys returned, fully ranked
    assert glob == [("a", 4, 1), ("b", 3, 2), ("c", 3, 3)]
    with pytest.raises(ValueError, match="k must be"):
        heavy_hitters(df, "k", k=0)
    # global mode plans TakeOrderedAndProject over the aggregate — an
    # empty-partitionBy window would single-task the whole key domain
    plan = (
        heavy_hitters(df, "k", k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrdered" in plan, plan


def test_fd_violations_plan_broadcasts_candidates(spark):
    """The phase-2 semi-join must broadcast the bounded candidate set
    (never sort-merge the full table) when broadcast_candidates=True."""
    from data_check_spark.operators.unique import fd_violations

    df = spark.range(1000).selectExpr(
        "concat('u', id % 100) AS url", "concat('t', id % 250) AS text"
    )
    out = fd_violations(df, "url", ["text"])
    out.collect()  # AQE finalizes the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_heavy_hitters_plan_partial_agg_before_window(spark):
    """The count must partially aggregate map-side and the top-k
    window must run over the aggregate, partitioned by group — raw
    rows are never globally sorted."""
    from data_check_spark.operators.topk import heavy_hitters

    df = spark.range(1000).selectExpr(
        "concat('g', id % 3) AS g", "concat('k', id % 50) AS k"
    )
    out = heavy_hitters(df, "k", k=5, group="g")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan      # map-side combine
    assert "Window" in plan, plan
    assert "hashpartitioning(group" in plan, plan  # window keyed by group


def test_referential_hashed_matches_exact(spark):
    """hash_keys=True anti-joins on xxhash64 surrogates; at test scale
    (no 64-bit collisions) output is identical to the raw-key join,
    including the NULL edge cases: NULL fact keys are violations on
    both paths, NULL dim keys match nothing on both paths."""
    fact = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 3), ("zz", 4), ("zz", 5)],
        "k string, v int",
    )
    dim = spark.createDataFrame([("a",), ("b",), (None,)], "dk string")

    key = lambda t: (t[0] is not None, t)  # noqa: E731 — None-safe sort
    for bc in (True, False):
        exact = sorted(
            map(tuple, referential_violations(fact, "k", dim, "dk", broadcast=bc).collect()),
            key=key,
        )
        hashed = sorted(
            map(tuple, referential_violations(
                fact, "k", dim, "dk", broadcast=bc, hash_keys=True).collect()),
            key=key,
        )
        assert exact == hashed == [(None, 1), ("zz", 2)]

    rows_h = referential_violations(
        fact, "k", dim, "dk", keep_columns=["v"], hash_keys=True
    )
    assert rows_h.columns == ["ref_key", "v"]  # surrogate column dropped
    assert sorted(map(tuple, rows_h.collect()), key=key) == sorted(
        map(tuple, referential_violations(
            fact, "k", dim, "dk", keep_columns=["v"]).collect()),
        key=key,
    )


def test_referential_hashed_dim_build_is_8_bytes(spark):
    """The hashed path's dim build side is the 8-byte surrogate, not
    the raw key: the broadcast build scans only a bigint column."""
    dim = spark.range(1000).select(
        F.concat(F.lit("https://example.com/page/"), F.col("id")).alias("dk")
    )
    fact = spark.range(1000, 1010).select(
        F.concat(F.lit("https://example.com/page/"), F.col("id")).alias("k")
    )
    out = referential_violations(fact, "k", dim, "dk", hash_keys=True, broadcast=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert out.count() == 10


# ------------------------------------------------------------ categorical profile
def test_categorical_profile_hand_computed(spark):
    """Entropy/distinctness/uniqueness/mode_share on a frame small
    enough to verify by hand, including NULL accounting."""
    import math

    from data_check_spark.operators.stats import categorical_profile

    # lang: a x4, b x2, c x1, NULL x1  -> N=7, distinct=3, once=1
    rows = [("a",), ("a",), ("a",), ("a",), ("b",), ("b",), ("c",), (None,)]
    df = spark.createDataFrame(rows, "lang string")
    r = categorical_profile(df, ["lang"]).collect()[0]
    assert r["column"] == "lang"
    assert r["n_nonnull"] == 7 and r["n_null"] == 1 and r["n_distinct"] == 3
    assert r["distinctness"] == 3 / 7
    assert r["uniqueness"] == 1 / 7 and r["unique_ratio"] == 1 / 3
    assert r["mode_share"] == 4 / 7
    want = -(4 / 7 * math.log2(4 / 7) + 2 / 7 * math.log2(2 / 7) + 1 / 7 * math.log2(1 / 7))
    assert abs(r["entropy"] - round(want, 6)) <= 1e-6


def test_categorical_profile_constant_and_unique(spark):
    """The two gate-relevant extremes: a constant column (entropy 0,
    distinctness -> 0) and an all-unique column (entropy log2 N,
    uniqueness 1)."""
    from data_check_spark.operators.stats import categorical_profile

    df = spark.range(64).select(
        F.lit("only").alias("const_col"), F.col("id").cast("string").alias("key_col")
    )
    rows = {r["column"]: r for r in categorical_profile(df, ["const_col", "key_col"]).collect()}
    c, k = rows["const_col"], rows["key_col"]
    assert c["entropy"] == 0.0 and c["n_distinct"] == 1 and c["mode_share"] == 1.0
    assert c["uniqueness"] == 0.0
    assert k["entropy"] == 6.0 and k["uniqueness"] == 1.0 and k["unique_ratio"] == 1.0
    assert k["distinctness"] == 1.0 and k["mode_share"] == 1 / 64


def test_categorical_profile_one_scan(spark):
    """Plan shape: any number of profiled columns reads the input ONCE
    (melt via explode, no self-join/union of scans) and shuffles twice
    (value counts, then per-column rollup)."""
    from data_check_spark.operators.stats import categorical_profile

    df = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("a"),
        (F.col("id") % 11).cast("string").alias("b"),
        (F.col("id") % 13).cast("string").alias("c"),
    )
    out = categorical_profile(df, ["a", "b", "c"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") == 1
    assert "Join" not in plan and "Union" not in plan


def test_avg_bytes_gates_binary_and_fail_closed(spark):
    """min_/max_avg_bytes work on BINARY columns (octet_length, no
    decode) and an all-NULL column fails closed."""
    from data_check_spark.operators.stats import partition_stats_verdicts

    rows = [
        (1, "a", bytearray(b"12345678")),
        (2, "a", bytearray(b"1234")),
        (3, "b", None),
    ]
    df = spark.createDataFrame(rows, "id long, part string, blob binary")
    v = partition_stats_verdicts(
        df,
        "part",
        {"blob": {"min_avg_bytes": 5.0, "max_avg_bytes": 100.0}},
    )
    got = {
        (r["partition"], r["check"]): (r["metric"], r["passed"])
        for r in v.collect()
        if r["column"] == "blob"
    }
    assert got[("a", "min_avg_bytes")] == (6.0, True)
    assert got[("a", "max_avg_bytes")] == (6.0, True)
    # partition b: only NULL blobs -> avg NULL -> both gates fail closed
    assert got[("b", "min_avg_bytes")][1] is False
    assert got[("b", "max_avg_bytes")][1] is False
