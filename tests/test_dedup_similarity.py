import pyspark.sql.functions as F
import pytest

from data_check_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash64,
    simhash_near_duplicates,
    word_shingles,
)
from data_check_spark.operators.similarity import (
    brute_force_topk,
    cosine_jvm,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different content about spark dataframes and shuffles everywhere"),
        (5, None),
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n"] == 2 and groups[0]["doc_ids"] == "1,2"


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(word_shingles(F.col("t"), 2).alias("s")).collect()[0]["s"]
    assert sorted(out) == ["a b", "b c", "c d"]


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert pairs.get((1, 2)) == 1.0  # exact dup always caught
    # near-dup (one word changed) has high jaccard if LSH surfaced it
    for (a, b), j in pairs.items():
        assert j >= 0.5
    # unrelated docs never pair
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a bigint, id_b bigint")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard(docs, pairs).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 4)] == 0.0


def test_simhash(docs):
    s = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert s[1] == s[2]  # identical text → identical simhash
    assert s[1] >= 0  # bit 63 unused → non-negative
    # hamming distance to the near-dup is small
    ham = bin(s[1] ^ s[3]).count("1")
    assert ham < 16
    groups = simhash_near_duplicates(docs).collect()
    assert any(g["doc_ids"] == "1,2" for g in groups)


def test_exact_duplicates_degenerate_group(spark):
    """A pathological duplicate group (10^5 identical docs — empty/
    boilerplate pages at CC scale) must finish with BOUNDED per-task
    state: the salted two-phase plan caps each agg buffer at
    group_size/salt_buckets ids and the output at n_exemplars."""
    big = spark.range(100_000).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate page").alias("text")
    )
    extra = spark.createDataFrame(
        [(200_000, "unique one"), (200_001, "unique two")], "doc_id bigint, text string"
    )
    out = exact_duplicates(big.unionByName(extra), n_exemplars=5).collect()
    assert len(out) == 1
    assert out[0]["n"] == 100_000
    assert out[0]["doc_ids"] == "0,1,2,3,4"  # capped, globally smallest


def test_simhash_hamming_pairs(spark):
    """Seeded low-Hamming perturbations must be caught by the banded
    join (pigeonhole: hamming ≤ bands-1 ⇒ one band agrees exactly)."""
    from data_check_spark.operators.dedup import simhash_hamming_pairs

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the sun sets slowly behind the old stone bridge in autumn"
    )
    rows = [
        (1, base),
        (2, base + " extra"),          # tiny perturbation → low hamming
        (3, base.replace("autumn", "winter")),
        (4, "completely unrelated text about spark shuffle partitions and adaptive execution"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_hamming_pairs(df, max_hamming=8, bands=16).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)
    # recall guarantee requires bands > max_hamming
    with pytest.raises(ValueError):
        simhash_hamming_pairs(df, max_hamming=4, bands=4)


def test_minhash_hot_bucket_cap(spark):
    """With max_bucket below the degenerate group size, the hot bucket
    is dropped instead of exploding quadratically; distinct near-dup
    pairs elsewhere still surface."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, "same boilerplate text repeated again and again forever") for i in range(50)]
    rows += [(100, base), (101, base + " extra")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = minhash_lsh_pairs(df, jaccard_threshold=0.5, max_bucket=10).collect()
    ids = {(r["id_a"], r["id_b"]) for r in out}
    assert (100, 101) in ids          # normal bucket unaffected
    assert not any(a < 50 and b < 50 for a, b in ids)  # hot bucket dropped


@pytest.fixture(scope="module")
def vectors(spark):
    """Clustered embeddings (the regime real text/image embeddings
    live in): 10 cluster centers × 6 members (cosine ≈ 0.9 within a
    cluster) + 3 near-copies of vector 0 (cosine ≈ 0.999). A query's
    true top-k are same-cluster members — the case LSH must recall."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((10, 16))
    rows = []
    for i in range(60):
        v = centers[i % 10] + 0.5 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    # 60..62: near-copies of 0 (dominant direction + small noise)
    base = np.array(rows[0][1])
    for j in range(3):
        v = base + 0.01 * rng.standard_normal(16)
        rows.append((60 + j, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_brute_force_topk(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    top = brute_force_topk(vectors, q, k=3).collect()
    assert [r["neighbor_id"] for r in top] == [60, 61, 62] or set(
        r["neighbor_id"] for r in top
    ) == {60, 61, 62}
    assert all(r["cosine"] > 0.99 for r in top)
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_null_vectors_filtered_everywhere(spark, vectors):
    """One NULL embedding must not kill the Arrow stage (ragged object
    array) in ANY of the three non-IVF operators — same guard ivf_topk
    already carries."""
    from data_check_spark.operators.similarity import (
        cosine_near_duplicates,
        lsh_topk,
    )

    withnull = vectors.unionByName(
        spark.createDataFrame(
            [(999, None)], "vec_id bigint, embedding array<double>"
        )
    )
    q = withnull.filter(F.col("vec_id").isin(0, 999))
    bf = brute_force_topk(withnull, q, k=3).collect()
    assert {r["query_id"] for r in bf} == {0}  # NULL query dropped
    assert all(r["neighbor_id"] != 999 for r in bf)
    lsh = lsh_topk(withnull, q, dim=16, k=3).collect()
    assert {r["query_id"] for r in lsh} == {0}
    nd = cosine_near_duplicates(withnull, dim=16, threshold=0.99).collect()
    assert all(999 not in (r["id_a"], r["id_b"]) for r in nd)


def test_jvm_and_pandas_cosine_agree(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    a = brute_force_topk(vectors, q, k=5, use_pandas_udf=True).collect()
    b = brute_force_topk(vectors, q, k=5, use_pandas_udf=False).collect()
    assert [(r["neighbor_id"], r["cosine"]) for r in a] == [
        (r["neighbor_id"], r["cosine"]) for r in b
    ]


def test_hyperplane_bits_udf_matches_jvm(vectors):
    """The pandas-UDF matmul bucketing must produce bit-identical
    packed signs to the interpreted JVM hyperplane_bucket."""
    from data_check_spark.operators.similarity import (
        hyperplane_bits_udf,
        hyperplane_bucket,
    )

    bits = hyperplane_bits_udf(dim=16, n_planes=12, seed=42)
    out = vectors.select(
        bits(F.col("embedding")).alias("u"),
        hyperplane_bucket(F.col("embedding"), 16, 12, seed=42).alias("j"),
    ).collect()
    assert all(r["u"] == r["j"] for r in out)


def test_lsh_topk_recall(vectors):
    """Banded (OR-amplified) LSH must achieve ≥0.9 recall of the true
    top-k across all queries, not just surface one neighbor."""
    q = vectors.filter(F.col("vec_id") < 5)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vectors, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(vectors, q, dim=16, k=3, n_planes=16, bands=4).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"recall {recall} < 0.9 ({truth - approx} missed)"


def test_cosine_neardup_lsh_recall(vectors):
    """Banded near-dup candidates must recover ≥0.9 of the brute-force
    pair set at the threshold."""
    from data_check_spark.operators.similarity import cosine_near_duplicates

    truth_rows = (
        vectors.alias("a")
        .join(vectors.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine_jvm(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.99)
        .collect()
    )
    truth = {(r["id_a"], r["id_b"]) for r in truth_rows}
    assert truth  # fixture seeds near-copies of vector 0
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_duplicates(
            vectors, dim=16, threshold=0.99, n_planes=16, bands=4
        ).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall {recall} < 0.9 ({truth - got} missed)"
    assert got <= truth or all(p in truth for p in got)  # verified exact, no false accepts


def test_cross_doc_ngram_duplicates(spark):
    """Docs sharing an 8-gram span are flagged; unique docs are not;
    short/NULL docs are omitted."""
    from data_check_spark.operators.dedup import cross_doc_ngram_duplicates

    span = "one two three four five six seven eight"
    rows = [
        (1, span + " tail a b c"),            # shares the span with 2
        (2, "prefix x y " + span),            # shares the span with 1
        (3, "q w e r t y u i o p"),           # all unique 8-grams
        (4, "too short"),                     # < 8 tokens -> omitted
        (5, None),                            # NULL -> omitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in cross_doc_ngram_duplicates(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_shared_ngrams"] == 1 and got[2]["n_shared_ngrams"] == 1
    assert got[3]["n_shared_ngrams"] == 0
    assert got[3]["n_ngrams"] == 3  # 10 tokens -> 3 distinct 8-grams


def test_cross_doc_ngram_xxhash_matches_md5(spark):
    from data_check_spark.operators.dedup import cross_doc_ngram_duplicates

    span = "one two three four five six seven eight"
    rows = [(1, span + " a b"), (2, "x " + span), (3, "q w e r t y u i")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in cross_doc_ngram_duplicates(df, hash_fn="md5").collect())
    b = sorted(tuple(r) for r in cross_doc_ngram_duplicates(df, hash_fn="xxhash64").collect())
    assert a == b
    import pytest as _pt
    with _pt.raises(ValueError):
        cross_doc_ngram_duplicates(df, hash_fn="sha1")


def test_cross_doc_ngram_single_shingle_pass(spark, tmp_path):
    """The heavy scan+shingle+explode subtree must execute ONCE: the
    per-gram aggregation reads the SAME shuffle as the join probe
    (AQE stage reuse — the executed plan carries a ReusedExchange).
    Guards against regressing to the double-pass shape where the two
    grams references each re-ran the explode."""
    from data_check_spark.operators.dedup import cross_doc_ngram_duplicates

    span = "one two three four five six seven eight"
    rows = [(i, f"doc {i} " + span) for i in range(40)]
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    res = cross_doc_ngram_duplicates(spark.read.parquet(p))
    res.collect()  # AQE reuse is a runtime decision: inspect post-run
    final = res._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") == 1, final
    assert final.count("FileScan parquet") == 1, final


# -------------------------------------------------------- contamination
def _contam_frames(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "completely unrelated content about engines and planes here now"),
            (3, "benchmark question alpha beta gamma delta epsilon zeta padded words"),
            (4, None),
            (5, "short text"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [
            (100, "benchmark question alpha beta gamma delta epsilon zeta"),
            (101, "held out eval item with its own distinct phrasing entirely"),
        ],
        "doc_id bigint, text string",
    )
    return train, ev


def test_contamination_detects_planted_overlap(spark):
    from data_check_spark.operators.dedup import contamination_check

    train, ev = _contam_frames(spark)
    got = {
        r["doc_id"]: (r["n_contaminated_ngrams"], r["n_ngrams"])
        for r in contamination_check(train, ev, n=8).collect()
    }
    # doc 3 contains the eval item's full 8-gram; docs 1/2 share nothing;
    # docs 4 (NULL) and 5 (< 8 tokens) have no grams and are omitted
    assert got[3][0] == 1 and got[3][1] > 0
    assert got[1] == (0, got[1][1]) and got[2] == (0, got[2][1])
    assert 4 not in got and 5 not in got


def test_contamination_broadcast_and_shuffle_agree(spark):
    from data_check_spark.operators.dedup import contamination_check

    train, ev = _contam_frames(spark)
    a = sorted(map(tuple, contamination_check(train, ev, n=4, broadcast_eval=True).collect()))
    b = sorted(map(tuple, contamination_check(train, ev, n=4, broadcast_eval=False).collect()))
    assert a == b and len(a) == 3


def test_contamination_broadcast_plan(spark):
    """The eval gram set must reach the join as a broadcast — the
    train side stays map-side (the operator's 100 TB claim)."""
    from data_check_spark.operators.dedup import contamination_check

    train, ev = _contam_frames(spark)
    plan = (
        contamination_check(train, ev, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


# ----------------------------------------------------- embedding quality
def test_embedding_stats_detectors(spark):
    from data_check_spark.operators.similarity import embedding_stats

    unit = [1.0] + [0.0] * 3
    rows = [
        (1, unit),                          # clean
        (2, None),                          # null
        (3, [1.0, 0.0, 0.0]),               # wrong dim
        (4, [float("nan"), 0.0, 0.0, 0.0]), # nan
        (5, [2.0, 0.0, 0.0, 0.0]),          # norm off (4.0)
        (6, [0.6, 0.8, 0.0, 0.0]),          # clean (norm 1)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    r = embedding_stats(df, "embedding", dim=4).collect()[0]
    assert (r["n_rows"], r["n_null"], r["n_wrong_dim"], r["n_nan"], r["n_norm_off"]) == (
        6, 1, 1, 1, 1,
    )


def test_embedding_stats_no_dim_check(spark):
    from data_check_spark.operators.similarity import embedding_stats

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    r = embedding_stats(df, "embedding", dim=None).collect()[0]
    assert "n_wrong_dim" not in r.asDict()
    assert r["n_norm_off"] == 0  # both unit-norm at their own dims


def test_minhash_incremental_against_stored_signatures(spark, tmp_path):
    """Incremental dedup: new docs vs a persisted signature corpus.
    Identical text ⇒ est_jaccard exactly 1.0 (same fixed-seed
    signature math as minhash_lsh_pairs); a perturbed near-dup lands
    within the k=32 estimator tolerance of its exact Jaccard; disjoint
    docs produce no pair. The store round-trips through parquet."""
    import pyspark.sql.functions as F

    from data_check_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_pairs_against,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    old = spark.createDataFrame(
        [(i, base + f"unique old tail {i} " + "filler words here " * 3)
         for i in range(50)],
        "doc_id bigint, text string",
    )
    # store the old corpus's signatures (the only artifact kept)
    sig_path = str(tmp_path / "sigs")
    minhash_signatures(old).write.parquet(sig_path)
    stored = spark.read.parquet(sig_path)

    new = spark.createDataFrame(
        [
            (1000, base + "unique old tail 7 " + "filler words here " * 3),  # exact copy of 7
            (1001, base + "unique old tail 8 " + "filler words here " * 2
             + "filler words changed"),                                      # near-dup of 8
            (1002, "totally different content about spark plans and shuffles "
                   "with nothing shared at all beyond language"),
        ],
        "doc_id bigint, text string",
    )
    got = {(r["id_new"], r["id_stored"]): r["est_jaccard"]
           for r in minhash_pairs_against(new, stored, est_threshold=0.3).collect()}
    assert got[(1000, 7)] == 1.0
    assert (1001, 8) in got and 0.3 <= got[(1001, 8)] <= 1.0
    assert not any(idn == 1002 for idn, _ in got)

    # estimator sanity vs the exact Jaccard of the near-dup pair
    both = old.filter("doc_id = 8").unionByName(new.filter("doc_id = 1001"))
    exact = minhash_lsh_pairs(both, jaccard_threshold=0.0).collect()[0]["jaccard"]
    assert abs(got[(1001, 8)] - exact) < 0.35  # se ~ sqrt(J(1-J)/32)

    # signatures computed by either path agree: self-join store vs fresh
    fresh = minhash_signatures(old)
    joined = stored.alias("a").join(fresh.alias("b"), "id").select(
        F.expr("a.sig = b.sig").alias("eq"))
    assert all(r["eq"] for r in joined.collect())


def test_exact_dedup_against_stored_hashes(spark, tmp_path):
    """Incremental exact dedup: new docs byte-identical to a persisted
    16 B/doc hash corpus surface with their stored exemplar ids; a
    changed byte breaks the match. Store round-trips via parquet."""
    from data_check_spark.operators.dedup import (
        exact_duplicates_against,
        exact_hashes,
    )

    old = spark.createDataFrame(
        [(i, f"doc body number {i % 7}") for i in range(30)],  # 7 distinct texts
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "hashes")
    exact_hashes(old).write.parquet(path)
    stored = spark.read.parquet(path)

    new = spark.createDataFrame(
        [(100, "doc body number 3"),   # identical to old 3,10,17,24
         (101, "doc body number 3!"),  # one byte off
         (102, None)],
        "doc_id bigint, text string",
    )
    got = exact_duplicates_against(new, stored).collect()
    assert len(got) == 1
    r = got[0]
    assert r["id_new"] == 100 and r["n_stored"] == 4
    assert r["stored_ids"].split(",") == ["3", "10", "17", "24"]


def test_minhash_pairs_against_keeps_stored_side_lazy(spark, tmp_path):
    """The stored signature table is re-read, never materialized: the
    banding side of the optimized plan scans the parquet table just as
    the est_jaccard re-attach does, and no checkpointed RDD of banded
    stored rows appears."""
    import re

    from data_check_spark.operators.dedup import minhash_pairs_against, minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(20)],
        "doc_id bigint, text string",
    )
    sig_path = str(tmp_path / "stored_sigs")
    minhash_signatures(docs).write.parquet(sig_path)
    stored = spark.read.parquet(sig_path)
    pairs = minhash_pairs_against(docs.filter("doc_id < 3"), stored, est_threshold=0.3)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD [id_stored" not in plan
    banding = re.search(r"AS id_stored#\d+L, bb#", plan)
    reattach = re.search(r"AS id_stored#\d+L, sig#\d+ AS _sb", plan)
    assert banding and reattach
    assert len(re.findall(r"Relation \[id#\d+L,sig#\d+\] parquet", plan)) >= 2
