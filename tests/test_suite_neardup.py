import pytest
from pyspark.sql import functions as F

from data_check_spark.plans.manifest import Manifest
from data_check_spark.plans.suite import CheckSuite, NearDupCheck

_DISTINCT = [
    "the quick brown fox jumps over a lazy dog near the river",
    "spark executes declarative plans with catalyst and tungsten engines",
    "web crawl archives store raw html alongside extracted plain text",
    "validation suites emit one verdict row per partition and check",
    "minhash signatures approximate jaccard similarity between shingle sets",
    "referential checks broadcast dimension snapshots to every executor",
    "quantile sketches merge across partitions without rescanning rows",
    "streaming deduplication keeps bounded state keyed by url hash",
]


def _docs(spark):
    rows = [(i + 1, t, "p%d" % ((i % 2) + 1)) for i, t in enumerate(_DISTINCT)]
    # planted near-dups: two copies of doc 1, one copy of doc 2
    rows += [(101, _DISTINCT[0], "p1"), (102, _DISTINCT[0], "p2"), (103, _DISTINCT[1], "p1")]
    return spark.createDataFrame(rows, "doc_id long, text string, part string")


def test_neardup_verdict_and_violations(spark):
    df = _docs(spark)
    res = CheckSuite(
        [NearDupCheck(id_col="doc_id", max_neardup_frac=0.5)]
    ).run(spark, df, "part")
    v = res.verdicts.collect()
    assert len(v) == 1
    row = v[0]
    assert (row["partition"], row["column"], row["check"]) == ("*", "text", "neardup_frac")
    assert row["metric"] == pytest.approx(3 / 11, abs=1e-6)
    assert row["passed"]
    viol = {r["id"]: r for r in res.violations["neardup:text"].collect()}
    assert set(viol) == {101, 102, 103}
    assert viol[101]["component"] == 1 and viol[101]["cluster_size"] == 3
    assert viol[103]["component"] == 2 and viol[103]["cluster_size"] == 2


def test_neardup_threshold_fails(spark):
    res = CheckSuite(
        [NearDupCheck(id_col="doc_id", max_neardup_frac=0.1, dump_violations=False)]
    ).run(spark, _docs(spark), "part")
    row = res.verdicts.collect()[0]
    assert not row["passed"]
    assert "neardup:text" not in res.violations


def test_neardup_duplicate_guard(spark):
    with pytest.raises(ValueError, match="neardup"):
        CheckSuite(
            [NearDupCheck(), NearDupCheck(max_neardup_frac=0.9)]
        ).run(spark, _docs(spark), "part")


def test_neardup_clean_corpus_passes(spark):
    df = spark.createDataFrame(
        [(i + 1, t, "p1") for i, t in enumerate(_DISTINCT)],
        "doc_id long, text string, part string",
    )
    res = CheckSuite([NearDupCheck(id_col="doc_id")]).run(spark, df, "part")
    row = res.verdicts.collect()[0]
    assert row["metric"] == 0.0 and row["passed"]


def test_neardup_global_on_resume(spark, tmp_path):
    """A resumed run must report the same global verdict as an
    uninterrupted one: the check rides the unfiltered-table path."""
    df = _docs(spark)
    man = Manifest(str(tmp_path / "m_nd"))
    man.mark_complete("p1", "prior", {})
    res = CheckSuite(
        [NearDupCheck(id_col="doc_id", max_neardup_frac=0.5)]
    ).run_resumable(spark, df, "part", man, audit_path=str(tmp_path / "audit"))
    nd = [r for r in res.verdicts.collect() if r["check"] == "neardup_frac"]
    assert len(nd) == 1
    # 3/11 over the FULL table — NOT the 1/5-ish of pending p2 alone
    assert nd[0]["metric"] == pytest.approx(3 / 11, abs=1e-6)


def test_neardup_string_ids(spark):
    rows = [("u%02d" % (i + 1), t, "p1") for i, t in enumerate(_DISTINCT)]
    rows += [("u91", _DISTINCT[0], "p1"), ("u92", _DISTINCT[0], "p1")]
    df = spark.createDataFrame(rows, "url string, text string, part string")
    res = CheckSuite(
        [NearDupCheck(id_col="url", max_neardup_frac=0.5)]
    ).run(spark, df, "part")
    viol = {r["id"] for r in res.violations["neardup:text"].collect()}
    assert viol == {"u91", "u92"}  # exemplar u01 kept (min url)


def test_half_up_frac_equals_spark_round(spark):
    """The driver-side twin of _rounded_frac rounds exactly like
    Spark's round(try_divide(d, t), 6): a dense grid, exact ties at
    the 7th decimal (t = 2^k * 5^j) and t = 0 (NULL)."""
    import random

    from data_check_spark.plans.checks import _half_up_frac
    from data_check_spark.session import local_frame

    rng = random.Random(11)
    grid = [(d, t) for t in range(301) for d in range(t + 1)]
    grid += [(d, 0) for d in range(1, 5)]
    ties = []
    for t in sorted({2**k * 5**j for k in range(12) for j in range(8)}):
        ds = range(t + 1) if t <= 2000 else [rng.randrange(t + 1) for _ in range(2000)]
        # d / t * 10^6 ends in exactly .5
        ties += [(d, t) for d in ds if (2 * 10**6 * d) % t == 0 and (2 * 10**6 * d // t) % 2]
        grid += [(rng.randrange(t + 1), t) for _ in range(50)]
    assert len(ties) > 1000
    grid += ties
    sums = local_frame(spark, grid, "_d long, _t long")
    got = sums.select("_d", "_t", F.round(F.try_divide("_d", "_t"), 6).alias("r")).collect()
    assert len(got) == len(grid)
    mismatched = [(r["_d"], r["_t"]) for r in got if _half_up_frac(r["_d"], r["_t"]) != r["r"]]
    assert mismatched == []
    assert _half_up_frac(3, 0) is None
    # the grid holds ties Python's half-to-even round() gets wrong
    assert any(round(d / t, 6) != _half_up_frac(d, t) for d, t in ties)


def _seeded_corpus(spark, seed, id_type):
    """40 random 60-word documents plus 30 near-copies (two words
    swapped out each) of random originals, over 3 partitions."""
    import random

    rng = random.Random(seed)
    vocab = ["w%03d" % i for i in range(300)]
    base = [[rng.choice(vocab) for _ in range(60)] for _ in range(40)]
    texts = [" ".join(words) for words in base]
    for _ in range(30):
        words = list(rng.choice(base))
        for pos in rng.sample(range(60), 2):
            words[pos] = rng.choice(vocab)
        texts.append(" ".join(words))
    order = list(range(len(texts)))
    rng.shuffle(order)  # ids do not follow copy order
    ident = (lambda i: "https://example.org/doc/%04d" % i) if id_type == "string" else (lambda i: i)
    rows = [(ident(k), texts[i], "p%d" % (k % 3)) for k, i in enumerate(order)]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string, part string")


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("seed", [1, 2])
def test_neardup_fast_path_equals_fallback(spark, monkeypatch, seed, id_type):
    """Driver union-find and distributed star loop give identical
    verdict rows and violation rows (schema, order, limit)."""
    from data_check_spark.operators import components

    df = _seeded_corpus(spark, seed, id_type)

    def run(limit):
        res = CheckSuite(
            [NearDupCheck(id_col="doc_id", max_neardup_frac=0.3, violation_limit=limit)]
        ).run(spark, df, "part")
        viol = res.violations["neardup:text"]
        local = viol._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
        return res.verdicts.collect(), viol.collect(), viol.schema, local

    fast = [run(500), run(7)]
    monkeypatch.setattr(components, "DRIVER_BUDGET_BYTES", 0)
    slow = [run(500), run(7)]
    assert [f[3] for f in fast] == [True, True] and [s[3] for s in slow] == [False, False]
    for f, s in zip(fast, slow):
        assert f[:2] == s[:2]
        assert [(x.name, x.dataType) for x in f[2]] == [(x.name, x.dataType) for x in s[2]]
    verdict, viol = fast[0][0][0], fast[0][1]
    assert 0 < verdict["metric"] and len(viol) == round(verdict["metric"] * 70)
    assert len(fast[1][1]) == 7 and fast[1][1] == viol[:7]


def test_neardup_job_budget(spark):
    """A NearDup-only suite call plus its verdict collect, on the
    planted corpus at local[4]: 19-20 Spark jobs, against 28-29 when
    the labels went back into Spark through a Python-RDD
    createDataFrame and the metric was a crossJoin query (and the
    verdict collect forked the Python workers for one more job)."""
    tracker = spark.sparkContext.statusTracker()
    df = _docs(spark)
    before = set(tracker.getJobIdsForGroup(None))
    res = CheckSuite([NearDupCheck(id_col="doc_id", max_neardup_frac=0.5)]).run(spark, df, "part")
    assert res.verdicts.collect()[0]["metric"] == pytest.approx(3 / 11, abs=1e-6)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) <= 20
