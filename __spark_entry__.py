"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline extensions) to a callable
(spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the DuckDB-
equivalent ANSI SQL for everything SQL-expressible. Column names and
float rounding are aligned on both sides so the driver's
order-insensitive value-hash comparison matches.

Every entry is oracle-checked. Operators whose raw outputs have no
DuckDB twin (xxhash64-based simhash, seeded hyperplane LSH, HLL/KLL
sketches) emit their structural CONTRACTS instead — DuckDB-re-derivable
counts plus within-tolerance/invariant booleans (planted-dup coverage,
banded-vs-exact equality, recall ≥ 0.9 vs an in-plan brute-force twin)
— while the raw pair/top-k outputs stay pytest-covered.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.functions.splits import split_summary
from data_check_spark.functions.textstats import (
    add_text_metrics,
    bag_of_words_fingerprint,
    repetition_metrics,
    token_count,
)
from data_check_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash_near_duplicates,
)
from data_check_spark.operators.drift import (
    ks_statistic,
    numeric_histogram,
    psi_categorical,
    psi_numeric,
)
from data_check_spark.operators.fingerprint import (
    changed_partitions,
    partition_fingerprint,
)
from data_check_spark.operators.multimodal import extract_media_metadata
from data_check_spark.operators.bloom import referential_violations_bloom
from data_check_spark.operators.refint import referential_violations
from data_check_spark.operators.rowdiff import (
    column_match_ratios,
    exclusive_rows,
    pk_census,
    row_diff,
)
from data_check_spark.operators.schema_diff import schema_diff
from data_check_spark.operators.similarity import brute_force_topk, lsh_topk
from data_check_spark.operators.spread import spread_cpu
from data_check_spark.operators.stats import column_stats
from data_check_spark.operators.unique import uniqueness_violations


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _assert_id_headroom(df: DataFrame, col: str, offset: int) -> None:
    """Planted-duplicate queries shift copies to id+offset; if the base
    table ever reaches the offset the copy COLLIDES with a real id and
    the contract silently breaks (dropDuplicates collapses the planted
    pair, coverage counts drift vs the DuckDB oracle). Fail loudly at
    query build time instead — a bounded 1-row aggregate."""
    mx = df.agg(F.max(F.col(col)).alias("mx")).collect()[0]["mx"]
    if mx is not None and mx >= offset:
        raise ValueError(
            f"planted-id offset {offset} too small: max({col}) = {mx}. "
            f"The seeded-duplicate contract needs max({col}) < offset; "
            "raise the offset in BOTH the Spark query and its oracle SQL."
        )


# ---------------------------------------------------------------------------
# Two deterministic "versions" of orders for the diff-family checks.
# The same perturbations are expressed in the SQL CTE below so Spark
# and DuckDB operate on identical inputs.
# ---------------------------------------------------------------------------

def _orders_versions(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    t1 = o.filter(k % 89 != 0)
    t2 = (
        o.filter(k % 97 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(k % 7 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_totalprice",
            F.when(k % 13 == 0, F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(k % 11 == 0, F.lit(None).cast("string")).otherwise(F.col("o_orderpriority")),
        )
    )
    return t1, t2


_VERSIONS_CTE = """
WITH t1 AS (SELECT * FROM orders WHERE o_orderkey % 89 <> 0),
t2 AS (SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
       o_orderdate,
       CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority
       FROM orders WHERE o_orderkey % 97 <> 0)
"""

_RATIO_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

# full common-column list (pk included) — the reference's exclusive-PK
# dumps project ALL common columns suffixed, pk among them
_ORDERS_COLS = ["o_orderkey"] + _RATIO_COLS


def _ratio_body() -> str:
    """The per-column ratio SELECT (union-all over _RATIO_COLS) —
    reused standalone by column_match_ratios' oracle and as a CTE body
    by the suite_compare_verdicts oracle."""
    parts = []
    for c in _RATIO_COLS:
        parts.append(f"""
SELECT '{c}' AS "column",
       count(a.o_orderkey) AS count_common,
       round(count(*) FILTER (WHERE coalesce(CAST(a.{c} AS VARCHAR), CAST(b.{c} AS VARCHAR)) IS NOT NULL) * 1.0
             / count(a.o_orderkey), 6) AS ratio_not_null,
       round(count(*) FILTER (WHERE coalesce(CAST(a.{c} AS VARCHAR), 'none') = coalesce(CAST(b.{c} AS VARCHAR), 'non')) * 1.0
             / nullif(count(*) FILTER (WHERE coalesce(CAST(a.{c} AS VARCHAR), CAST(b.{c} AS VARCHAR)) IS NOT NULL), 0), 6) AS ratio_equal,
       round(1.0 - count(*) FILTER (WHERE coalesce(CAST(a.{c} AS VARCHAR), 'none') = coalesce(CAST(b.{c} AS VARCHAR), 'non')) * 1.0
             / nullif(count(*) FILTER (WHERE coalesce(CAST(a.{c} AS VARCHAR), CAST(b.{c} AS VARCHAR)) IS NOT NULL), 0), 6) AS percentage_diff_values
FROM t1 a JOIN t2 b USING (o_orderkey)""")
    return " UNION ALL ".join(parts)


def _ratio_oracle() -> str:
    return _VERSIONS_CTE + _ratio_body()


# ---------------------------------------------------------------------------
# Documents helpers: an augmented copy with seeded exact duplicates for
# the dedup family (the raw table has no byte-identical texts).
# ---------------------------------------------------------------------------

def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    _assert_id_headroom(d, "doc_id", 100000)
    dups = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return d.unionByName(dups)


_DOCS_DUPS_CTE = """
WITH docs AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
)
"""


def _stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    s = column_stats(d, ["doc_id", "lang", "source", "n_chars"], approx=False)
    return s.select(
        "column",
        "n_rows",
        "n_null",
        F.round("null_rate", 6).alias("null_rate"),
        "n_distinct",
        "min_value",
        "max_value",
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 4).alias("stddev"),
    )


def _stats_oracle() -> str:
    parts = []
    for c, numeric in [("doc_id", True), ("lang", False), ("source", False), ("n_chars", True)]:
        mean = f"round(avg({c}), 6)" if numeric else "CAST(NULL AS DOUBLE)"
        std = f"round(stddev_samp({c}), 4)" if numeric else "CAST(NULL AS DOUBLE)"
        parts.append(f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) FILTER (WHERE {c} IS NULL) AS n_null,
       round(count(*) FILTER (WHERE {c} IS NULL) * 1.0 / count(*), 6) AS null_rate,
       count(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value,
       {mean} AS mean, {std} AS stddev
FROM documents""")
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# Individual query builders
# ---------------------------------------------------------------------------

def _q_pk_census(spark, sf_dir):
    t1, t2 = _orders_versions(spark, sf_dir)
    return pk_census(t1, t2, "o_orderkey")


def _q_exclusive_1(spark, sf_dir):
    t1, t2 = _orders_versions(spark, sf_dir)
    return exclusive_rows(t1, t2, "o_orderkey", side=1, limit=500)


def _q_exclusive_2(spark, sf_dir):
    t1, t2 = _orders_versions(spark, sf_dir)
    return exclusive_rows(t1, t2, "o_orderkey", side=2, limit=500)


def _q_ratios(spark, sf_dir):
    t1, t2 = _orders_versions(spark, sf_dir)
    # spread by the JOIN key: the few-row-group scan otherwise
    # canonicalizes 1.5M rows/side on 2 tasks, and because the added
    # exchange IS the join's hash partitioning (same key, same
    # partition count) the join plans no second exchange — the canon
    # work just moves to the parallel side of the shuffle. A/B at
    # sf1.0/local[32]: 2.05 s -> 1.36 s. No-op at scale (spread_cpu).
    return column_match_ratios(
        spread_cpu(t1, "o_orderkey"),
        spread_cpu(t2, "o_orderkey"),
        "o_orderkey",
        columns=_RATIO_COLS,
    )


def _q_row_diff(spark, sf_dir):
    t1, t2 = _orders_versions(spark, sf_dir)
    # same spread-by-join-key shape as _q_ratios
    return row_diff(
        spread_cpu(t1, "o_orderkey"),
        spread_cpu(t2, "o_orderkey"),
        "o_orderkey",
        columns=["o_orderstatus", "o_orderpriority"],
    )


def _q_unique(spark, sf_dir):
    return uniqueness_violations(_t(spark, sf_dir, "lineitem"), "l_orderkey")


def _q_refint(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 != 4)
    return referential_violations(li, "l_partkey", dim, "p_partkey")


def _q_refint_hashed(spark, sf_dir):
    """Hashed-key referential path (operators/refint.py hash_keys):
    the anti-join build side carries xxhash64 surrogates (8 B/key)
    instead of raw keys — ~10× higher broadcast ceiling for url-keyed
    dimension snapshots. GENUINE exact oracle: xxhash64 is fixed-seed
    and 64-bit collisions are absent at this scale, so the output is
    byte-identical to the raw-key anti-join DuckDB computes."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 != 4)
    return referential_violations(li, "l_partkey", dim, "p_partkey", hash_keys=True)


def _q_refint_bloom(spark, sf_dir):
    """Bloom-gated referential check, exact mode (operators/bloom.py):
    the dimension's keys become a broadcast Bloom bitmap (~1.8 MB per
    1M keys at fpp 1e-3, vs ~80 MB of raw urls — broadcastable where
    the key set is not); bloom-NEGATIVE fact keys are CERTIFIED
    violations caught map-only, and the bloom-positive residue
    anti-joins the dimension so the union is byte-equal to the plain
    anti-join — which is exactly what the DuckDB oracle computes.
    The zero-shuffle fail-fast mode (exact=False: flagged ⊆ exact,
    precision 1.0, expected recall ≥ 1-fpp, deterministic across
    parallelism) is contract-tested in tests/test_bloom.py."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 != 4)
    return referential_violations_bloom(
        li, "l_partkey", dim, "p_partkey", fpp=1e-3, exact=True
    )


def _q_psi_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return psi_categorical(d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1), "lang")


def _q_psi_nchars(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return psi_numeric(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1),
        "n_chars", 0.0, 600.0, 20,
    )


def _q_hist_nchars(spark, sf_dir):
    h = numeric_histogram(_t(spark, sf_dir, "documents"), "n_chars", 0.0, 600.0, 20)
    return h.select("bucket", "n", F.round("freq", 6).alias("freq"))


def _q_ks_nchars(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ks_statistic(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1),
        "n_chars", 0.0, 600.0, 60,
    )


def _q_sample_aligned(spark, sf_dir):
    # key-hash-aligned sampling (SURVEY S4 fix): both "sides" would
    # draw the SAME keys, unlike BQ TABLESAMPLE's independent blocks
    return _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 < 10).select("o_orderkey")


def _q_dedup_exact(spark, sf_dir):
    return exact_duplicates(_docs_with_dups(spark, sf_dir))


def _q_simhash_hamming(spark, sf_dir):
    """Banded Hamming near-dup, ORACLE-CHECKED via its structural
    contract: the banded bucket join (pigeonhole: any pair with
    Hamming ≤ bands-1 shares a full band) + exact popcount
    verification must reproduce the exact all-pairs Hamming≤3 answer
    EXACTLY. Spark computes both in one plan and emits
    DuckDB-derivable counts plus the equality boolean (xxhash64-based
    simhash values themselves have no DuckDB twin — the approx_stats
    tolerance-boolean pattern)."""
    from data_check_spark.operators.dedup import simhash64, simhash_hamming_pairs

    d = _t(spark, sf_dir, "documents")
    _assert_id_headroom(d, "doc_id", 200000)
    near = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(200000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(near)
    banded = simhash_hamming_pairs(aug, max_hamming=3, bands=4).select("id_a", "id_b")
    # exact all-pairs twin (O(n²) XOR popcounts — the baseline the
    # banded plan exists to avoid at scale; fine at oracle scale)
    s = simhash64(aug)
    sa = s.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_ha"))
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_hb"))
    exact = (
        sa.join(sb, F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))) <= 3)
        .select("id_a", "id_b")
    )
    n_docs = aug.agg(F.count(F.lit(1)).alias("n_docs"))
    n_planted = (
        d.filter((F.col("doc_id") % 20 == 0) & F.col("text").isNotNull())
        .agg(F.count(F.lit(1)).alias("n_planted"))
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_ne"))
    n_banded = banded.agg(F.count(F.lit(1)).alias("_nb"))
    n_inter = banded.join(exact, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("_ni")
    )
    return (
        n_docs.crossJoin(n_planted).crossJoin(n_exact).crossJoin(n_banded).crossJoin(n_inter)
        .select(
            "n_docs",
            "n_planted",
            ((F.col("_nb") == F.col("_ne")) & (F.col("_ni") == F.col("_ne"))).alias(
                "banded_equals_exact"
            ),
        )
    )


def _q_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return ngram_jaccard(d.withColumn("text", F.lower("text")), pairs, shingle_k=2)


def _q_knn(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = brute_force_topk(e, q, k=5)
    return out.select("query_id", "neighbor_id", "cosine", "rank")


def _q_cosine_neardup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    _assert_id_headroom(e, "vec_id", 10000)
    aug = e.unionByName(
        e.filter(F.col("vec_id") % 25 == 0).withColumn("vec_id", F.col("vec_id") + F.lit(10000))
    )
    # brute-force (exact oracle-checkable path); LSH-bucketed variant
    # is q_lsh_topk (rows-only)
    a = aug.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = aug.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    from data_check_spark.operators.similarity import cosine_jvm

    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", F.round(cosine_jvm(F.col("_va"), F.col("_vb")), 6).alias("cosine")
    )
    return pairs.filter(F.col("cosine") >= 0.99).orderBy("id_a", "id_b")


def _docs_text(spark, sf_dir, *extra_cols: str) -> DataFrame:
    """(doc_id, text [, extra]) spread across the cores: the documents
    table arrives as ONE parquet row group (scan parallelism 1 — see
    operators/spread.py), and every consumer of this helper is per-row
    CPU-bound (regex counters, HOFs, md5), so the conditional
    hash-repartition is the difference between 1 and N busy cores.
    No-op at 100 TB where the source is well-split."""
    d = _t(spark, sf_dir, "documents").select("doc_id", *extra_cols, "text")
    return spread_cpu(d, "doc_id")


def _q_token_stats(spark, sf_dir):
    """Standalone token stats, served from the fused two-stage counter
    Project (functions/textstats.add_text_metrics): Catalyst prunes
    the counters the selected metrics don't need, and each surviving
    regex runs once per row instead of once per CaseWhen/try_divide
    reference (the measured 2.8x of the add_text_metrics docstring).
    Output columns are bit-identical to the per-function originals —
    that equivalence is what the `text_metrics` oracle pins."""
    return add_text_metrics(_docs_text(spark, sf_dir), "text").select(
        "doc_id", "n_tokens", "n_bpe_tokens", "mean_word_len",
        "punct_ratio", "digit_ratio",
    )


def _q_quality(spark, sf_dir):
    """quality via the fused counter Project (see _q_token_stats):
    same `quality` column bit-for-bit, 5 regex passes instead of 9."""
    return add_text_metrics(_docs_text(spark, sf_dir), "text").select(
        "doc_id", "quality"
    )


def _q_text_metrics(spark, sf_dir):
    """Fused single-pass twin of token_stats + quality_scores + langid
    (functions/textstats.add_text_metrics): every regex counter
    evaluated once per row, three stacked Projects that Catalyst keeps
    uncollapsed, one parquet scan of (doc_id, text)."""
    return add_text_metrics(_docs_text(spark, sf_dir), "text")


def _q_langid(spark, sf_dir):
    """lang_guess via the fused counter Project (see _q_token_stats):
    the four marker regexp_counts are bound once below the CASE instead
    of being re-evaluated per branch reference."""
    return add_text_metrics(_docs_text(spark, sf_dir), "text").select(
        "doc_id", "lang_guess"
    )


def _q_token_budget_cut(spark, sf_dir):
    """Deterministic token-budget corpus cut (functions/splits.
    budget_cut): keep documents in md5(id:salt) order while the
    running token total stays <= 20,000 — the "give me ~N tokens of
    this corpus" sampler a training-mix builder needs. Two-phase at
    scale (per-hex-prefix sums + one boundary-bucket window; whole
    buckets kept with no window at all); the DuckDB oracle re-derives
    the exact kept set with a single global running-sum window, so
    the phase split is proven equivalent to the global order."""
    from data_check_spark.functions.splits import budget_cut
    from data_check_spark.functions.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    kept = budget_cut(d, 20_000, token_count(F.col("text")), "doc_id")
    return kept.select(
        "doc_id",
        F.coalesce(token_count(F.col("text")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )


def _q_text_normalize(spark, sf_dir):
    """Dedup canonicalization (functions/normalize.py): invisible-char
    strip (JVM regex) + Unicode NFC (Arrow-batched pandas UDF —
    Spark has no built-in normalizer). Visually-identical strings
    that hash differently are PLANTED (decomposed e+U+0301, zero-width
    space, soft hyphen via doc_id modulus classes) and the oracle
    re-derives the canonical md5 with DuckDB's utf8proc-backed
    nfc_normalize — proving Python unicodedata and utf8proc agree
    byte-for-byte, the invariant the dedup hashers rely on."""
    from data_check_spark.functions.normalize import canonical_text

    d = _docs_text(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 9 == 2, F.lit("e\u0301")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 4, F.lit("\u200bx\u00ad")
        ).otherwise(F.lit("")),
    )
    p = d.select("doc_id", planted.alias("_t"))
    canon = canonical_text(F.col("_t"))
    return p.select(
        "doc_id",
        F.md5(canon.cast("binary")).alias("canon_hash"),
        (canon != F.col("_t")).alias("changed"),
    )


def _q_lang_mismatch(spark, sf_dir):
    """Declared-vs-detected language agreement, the standard crawl
    metadata sanity check: per declared lang, how many docs the
    n-gram heuristic (functions/textstats.lang_guess, the proven
    ``langid`` oracle twin) disagrees with. NULL guesses (NULL text)
    are not mismatches — SQL comparison semantics on both engines;
    'und' vs a declared code IS one. One scan, one tiny groupBy on
    the lang code — trivially 100 TB-safe."""
    d = _docs_text(spark, sf_dir, "lang")
    g = add_text_metrics(d, "text", keep=["lang"]).select(
        "lang", F.col("lang_guess").alias("g")
    )
    return g.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("g") != F.col("lang")).alias("n_mismatch"),
        F.round(
            F.try_divide(
                F.count_if(F.col("g") != F.col("lang")), F.count(F.lit(1))
            ),
            6,
        ).alias("mismatch_rate"),
    )


def _q_fingerprint(spark, sf_dir):
    d = _docs_text(spark, sf_dir)
    return d.select("doc_id", bag_of_words_fingerprint(F.col("text")).alias("fp"))


def events_hourly_frame(e):
    """Hourly rollup over an events-shaped frame (ts, event_type,
    value), in the oracle-parity form: each value is quantized to 1e-6
    and summed as decimal (exact, associative), so the aggregate is
    independent of accumulation order. Plain avg(double) differs
    between engines (and between partitionings) by a few ulps of
    summation-reorder error — at sf0.1 that straddled the 4-dp
    rounding boundary on ~0.1% of groups (caught by the r4 sf0.1
    oracle sweep). Decimal sum, not int64: at 10^12 rows an int64 of
    1e-6-scaled values overflows. ASSUMES values carry ≤6 decimal
    places (true of the testdata generator): for such values
    round(value*1e6) is exact in both engines. A value with MORE
    precision landing exactly on a .5 multiple of 1e-6 could round
    differently by 1 ulp between Spark (shortest-decimal-repr
    HALF_UP) and DuckDB (true-binary rounding) — widen the quantum if
    the source ever gains precision."""
    g = e.groupBy(F.date_trunc("hour", "ts").alias("hour"), F.col("event_type"))
    g = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 1e6).cast("decimal(25,0)")).alias("_s"),
        F.count("value").alias("_c"),
    )
    # integer HALF_UP: round(x/d, k) = (2*x*10^k + d) div (2*d) — both
    # engines do identical exact integer arithmetic, then one identical
    # IEEE division; round(double, k) cannot be used cross-engine at
    # exact .5 boundaries (Spark rounds the shortest-repr decimal
    # HALF_UP, DuckDB rounds the true binary value)
    return g.select(
        "hour",
        "event_type",
        "n",
        (
            F.expr(
                "cast((2 * _s * 10000 + _c * 1000000) div (2 * _c * 1000000) as double)"
            )
            / 10000
        ).alias("avg_value"),
        (F.expr("cast((2 * _s + 10000) div 20000 as double)") / 100).alias("sum_value"),
    ).orderBy("hour", "event_type")


def _q_events_hourly(spark, sf_dir):
    # events ships as one row group → the decimal partial aggregation
    # otherwise runs on ONE task; spreading the slim projection lets
    # 32 tasks aggregate (A/B: 1.36 s -> 0.92 s at sf1.0). No-op on a
    # well-split source, where map-side partial agg is the better plan.
    e = spread_cpu(
        _t(spark, sf_dir, "events").select("ts", "event_type", "value"), "ts"
    )
    return events_hourly_frame(e)


def _q_asof_join(spark, sf_dir):
    """Event attribution: for each 'click' event, the same user's most
    recent 'view' at-or-before the click (ties: largest event_id).
    Distributed as-of join — one shuffle on user_id + running
    last(ignorenulls) window (operators/asofjoin.py); the DuckDB twin
    is the exact correlated-subquery definition of the semantics."""
    from data_check_spark.operators.asofjoin import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value", "event_id"
    )
    return asof_join(
        clicks, views, "user_id", "ts", ["value", "event_id"],
        tiebreak_col="event_id",
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic training-mix sampling: keep 50% of en, 25% of fr,
    12.5% of zh, 6.25% of everything else — md5-bucketed per row
    (functions/splits.py:stratified_sample), shuffle-free, and exactly
    re-derivable by the DuckDB twin."""
    from data_check_spark.functions.splits import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "doc_id", "lang",
        {"en": 0.5, "fr": 0.25, "zh": 0.125},
        default_rate=0.0625,
    ).select("doc_id", "lang")


def _q_pii_scan(spark, sf_dir):
    """PII counts + redacted length per document. The synth corpus is
    clean word soup, so PII is PLANTED deterministically from doc_id
    (doc_id%7 rows gain an email, doc_id%11 rows a URL + an IPv4) with
    the identical string construction in the DuckDB twin — the regexes
    then have real content to find, and zero-counts are meaningful."""
    from data_check_spark.functions.pii import pii_counts, redact_pii

    d = _docs_text(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    dirty = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), sid, F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" visit https://example.org/p/"), sid,
                F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.7"),
            ),
        )
        .otherwise(F.col("text"))
    )
    t = d.select("doc_id", dirty.alias("t"))
    c = pii_counts(F.col("t"))
    return t.select(
        "doc_id",
        c["email"].cast("int").alias("n_emails"),
        c["url"].cast("int").alias("n_urls"),
        c["ipv4"].cast("int").alias("n_ipv4"),
        F.length(redact_pii(F.col("t"))).cast("int").alias("n_chars_clean"),
    )


def _q_sessionize(spark, sf_dir):
    """Per-user gap sessions (2 h) over the events stream, summarized
    per session. One shuffle + one Window operator assigns labels
    (operators/sessionize.py); the session sum is quantized to the
    generator's 2-dp value grid so both engines sum exact integers."""
    from data_check_spark.operators.sessionize import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", 7200.0, tiebreak_col="event_id")
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
            "sum_value"
        ),
    )


def _q_range_join(spark, sf_dir):
    """Incident attribution: every click that happened inside the
    2-minute window after any error event (keyless global intervals).
    Bucketed range join (operators/rangejoin.py) — the DuckDB twin is
    the raw inequality join the bucketed plan must reproduce exactly."""
    from data_check_spark.operators.rangejoin import interval_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 120 SECONDS")).alias("end_ts"),
    )
    return interval_join(
        clicks, errors, "ts", "start_ts", "end_ts", bucket_width=120
    ).select("click_id", "error_id", "ts", "start_ts")


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_window_topk(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


def _q_multimodal(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return extract_media_metadata(d, "doc_id", "blob")


def _q_sql_source(spark, sf_dir):
    """Reference S2: arbitrary SQL text as a diff input
    (data_processor.py:26-40). The engine accepts table names or SQL;
    here a SQL-string source feeds a downstream check unchanged."""
    from data_check_spark.sources.readers import source

    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    sql = (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderstatus = 'F' AND o_totalprice > 100000"
    )
    return source(spark, sql).orderBy("o_orderkey")


def _q_array_canon(spark, sf_dir):
    """Reference A7: order/duplicate-insensitive array canonicalization
    (sorted-distinct comma-join, models/table.py:96-102), applied to a
    words array derived from text."""
    d = _t(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower("text"), F.lit(r"\S+"), F.lit(0))
    canon = F.array_join(F.array_sort(F.array_distinct(words)), ",")
    return d.select("doc_id", canon.alias("canon"))


def _q_percentiles(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.round(F.percentile("n_chars", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90"),
    )


def _q_sketch_quantiles(spark, sf_dir):
    # n_bins=600 over [0,600] → width 1.0, centers i+0.5 exactly
    # representable, so the DuckDB oracle below matches bit-for-bit
    from data_check_spark.operators.sketch import quantiles_via_sketch

    d = _t(spark, sf_dir, "documents")
    return quantiles_via_sketch(d, "n_chars", 0.0, 600.0, [0.25, 0.5, 0.9], n_bins=600)


def _q_schema_diff(spark, sf_dir):
    return schema_diff(spark, _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


def _q_simhash(spark, sf_dir):
    """Identical-simhash grouping, ORACLE-CHECKED via its planted-dup
    contract: every seeded byte-identical copy (doc_id+100000) must
    share its original's simhash and therefore surface as a group —
    n_covered must equal n_planted, which DuckDB derives from the
    documents table alone. The groups output is tied in via
    groups_cover_planted (#groups ≥ #distinct planted simhashes)."""
    from data_check_spark.operators.dedup import simhash64

    aug = _docs_with_dups(spark, sf_dir)
    groups = simhash_near_duplicates(aug)
    s = simhash64(aug)
    # planted = originals with ≥1 token (tokenless docs never enter
    # simhash64's explode — same predicate the oracle uses)
    planted = aug.filter(
        (F.col("doc_id") < 100000)
        & (F.col("doc_id") % 10 == 0)
        & F.col("text").isNotNull()
        & (F.col("text").rlike(r"\S"))
    ).select("doc_id")
    sa = s.select(F.col("doc_id").alias("doc_id"), F.col("simhash").alias("_sa"))
    sb = s.select((F.col("doc_id") - 100000).alias("doc_id"), F.col("simhash").alias("_sb"))
    pairs = planted.join(sa, "doc_id").join(sb, "doc_id")
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.count_if(F.col("_sa") == F.col("_sb")).alias("n_covered"),
        F.count_distinct(F.when(F.col("_sa") == F.col("_sb"), F.col("_sa"))).alias("_nsims"),
    )
    n_groups = groups.agg(F.count(F.lit(1)).alias("_ng"))
    return agg.crossJoin(n_groups).select(
        "n_planted",
        "n_covered",
        (F.col("n_covered") == F.col("n_planted")).alias("all_planted_covered"),
        (F.col("_ng") >= F.col("_nsims")).alias("groups_cover_planted"),
    )


def _q_minhash(spark, sf_dir):
    return minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), jaccard_threshold=0.8)


def _q_dup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate clusters via large-star/small-star
    connected components (operators/components.py) — the retention
    step of the dedup pipeline. Oracle: DuckDB recursive CTE computes
    min-reachable-id per node over the SAME exact-Jaccard pair set;
    the component label (min id in component) is order-independent,
    so both engines agree bit-for-bit."""
    from data_check_spark.operators.components import duplicate_clusters

    pairs = minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), jaccard_threshold=0.8)
    return duplicate_clusters(pairs).orderBy("id")


def _q_neardup_strip(spark, sf_dir):
    """The corpus AFTER fuzzy dedup — pairs -> clusters ->
    strip_duplicates keeps one exemplar (min id) per component plus
    every unclustered doc (operators/components.py). This is the
    frame a curation pipeline writes back out. Oracle: DuckDB
    recomputes components with the recursive CTE over the same
    exact-Jaccard pair set and anti-joins the non-exemplars; the kept
    set is a pure function of the pair list, so both engines agree
    exactly. The anti-join shuffles only 8-byte ids — never text."""
    from data_check_spark.operators.components import (
        duplicate_clusters,
        strip_duplicates,
    )

    aug = _docs_with_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(aug, jaccard_threshold=0.8)
    clusters = duplicate_clusters(pairs)
    kept = strip_duplicates(aug, clusters, "doc_id")
    return kept.select("doc_id", "lang", "n_chars")


def _planted_scar_text():
    """THE planted encoding-scar expression (U+FFFD at doc_id%7==3,
    mojibake digraph at %11==5, C0 control at %13==6) — shared by
    encoding_scan and quarantine_encoding so their 'same planted
    scars' contract cannot drift; the DuckDB twins replicate the
    identical construction."""
    return F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 3, F.lit("\ufffd")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 5, F.lit("\u00c3\u00a9")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 6, F.lit("\u0001")
        ).otherwise(F.lit("")),
    )


def _q_encoding_scan(spark, sf_dir):
    """Encoding-artifact scan (functions/textstats.py): per-doc counts
    of U+FFFD replacement chars, UTF-8-as-Latin-1 mojibake digraphs
    and C0 control chars, plus the suspect verdict — the web-crawl
    decode-quality gate. The raw documents table is clean, so the
    scars are PLANTED via engine-portable string appends (doc_id
    modulus classes; chr() built from codepoints on the DuckDB side,
    \\u escapes on the Spark side) and the oracle recomputes every
    counter with the same replace-length arithmetic / one shared
    regex. All JVM string built-ins — no Python worker, fusable into
    the stats pass at 100 TB."""
    from data_check_spark.functions.textstats import (
        control_char_count,
        encoding_suspect,
        mojibake_count,
        replacement_char_count,
    )

    d = _docs_text(spark, sf_dir)
    planted = _planted_scar_text()
    p = d.select("doc_id", planted.alias("_t"))
    return p.select(
        "doc_id",
        replacement_char_count(F.col("_t")).alias("n_replacement"),
        mojibake_count(F.col("_t")).alias("n_mojibake"),
        control_char_count(F.col("_t")).alias("n_control"),
        encoding_suspect(F.col("_t")).alias("enc_suspect"),
    )


def _q_cluster_incremental(spark, sf_dir):
    """Incremental cluster maintenance oracle-checked against the
    FULL recompute: the old half's pair set is contracted to stored
    (id, component) stars, then update_clusters merges ONLY the
    pairs touching the new half — and the result must equal DuckDB's
    recursive-CTE components over ALL pairs. That is the
    star-contraction-preserves-connectivity theorem verified
    end-to-end; the incremental path's input is #clustered-docs +
    #new-pairs, never the validated corpus."""
    from data_check_spark.operators.components import (
        connected_components,
        update_clusters,
    )

    pairs = minhash_lsh_pairs(
        _docs_with_dups(spark, sf_dir), jaccard_threshold=0.8
    ).localCheckpoint()
    # old corpus = odd ids (planted +100000 copies keep source parity,
    # so they land in the 'new' half along with the even originals)
    both_old = (F.col("id_a") % 2 == 1) & (F.col("id_b") % 2 == 1)
    stored = connected_components(pairs.filter(both_old))
    return update_clusters(stored, pairs.filter(~both_old)).orderBy("id")


def _q_suite_neardup(spark, sf_dir):
    """NearDupCheck through the declarative suite: the near-duplicate
    MASS gate (fraction of docs a keep-one-exemplar retention pass
    would drop). GENUINE oracle: DuckDB re-derives the verdict row
    from exact all-pairs Jaccard + a recursive-CTE component count
    over the same parquet."""
    from data_check_spark.plans.suite import CheckSuite, NearDupCheck

    res = CheckSuite(
        [NearDupCheck(id_col="doc_id", max_neardup_frac=0.05, dump_violations=False)]
    ).run(spark, _docs_with_dups(spark, sf_dir), "source")
    return res.verdicts


def _q_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN, ORACLE-CHECKED via its recall contract on
    GENUINELY SIMILAR neighbors: plant one exact copy of each query
    vector, compute LSH top-k AND brute-force top-k in one plan, and
    measure in-plan recall over the strong pairs (brute-force
    neighbors with cosine ≥ 0.9 — exactly the planted copies; random
    64-dim cosines top out ~0.37). Structural: an exact copy shares
    every sign-bit band, so strong_recall is exactly 1.0 and DuckDB
    re-derives the full row. Recall on near-orthogonal noise
    'neighbors' (cosine ≈ 0.3) is low BY DESIGN for sign-bit LSH —
    that operator behavior is pytest-covered on clustered vectors
    (tests/test_dedup_similarity.py::test_lsh_topk_recall)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    # planted-copy offset DERIVED from the table (bounded 1-row agg):
    # a hardcoded offset collides once the table reaches it, collapsing
    # the planted copy under any dedup and breaking strong_recall=1.0.
    # The oracle never references the offset, so deriving it is safe.
    mx = e.agg(F.max("vec_id").alias("mx")).collect()[0]["mx"] or 0
    aug = e.unionByName(q.withColumn("vec_id", F.col("vec_id") + F.lit(int(mx) + 1)))
    lsh = lsh_topk(aug, q, dim=64, k=5, n_planes=16, bands=4).select(
        "query_id", "neighbor_id"
    )
    bf = brute_force_topk(aug, q, k=5)
    strong = bf.filter(F.col("cosine") >= 0.9).select("query_id", "neighbor_id")
    counts = strong.agg(F.count(F.lit(1)).alias("_ns")).crossJoin(
        lsh.join(strong, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count(F.lit(1)).alias("_nh")
        )
    ).crossJoin(q.agg(F.count_distinct("vec_id").alias("n_queries")))
    recall = F.try_divide(F.col("_nh").cast("double"), F.col("_ns").cast("double"))
    return counts.select(
        "n_queries",
        F.lit(5).alias("k"),
        F.col("_ns").alias("n_strong"),
        F.round(recall, 6).alias("strong_recall"),
        (recall >= 0.9).alias("strong_recall_ge_0_9"),
    )


def _q_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN — the second scale path next to
    hyperplane LSH (operators/similarity.ivf_topk: spherical-k-means
    coarse quantizer, n_probe nearest cells per query, exact cosine
    re-scoring). Same recall contract as lsh_topk: plant one exact
    copy of each query vector (offset derived from max(vec_id)),
    compute IVF top-k AND brute-force top-k in one plan, and measure
    in-plan recall over the strong pairs (cosine ≥ 0.9 — exactly the
    planted copies). Structural: a copy's cell IS its original's
    nearest-centroid cell, so strong_recall is exactly 1.0 and DuckDB
    re-derives the full row. Noise-neighbor recall behavior is
    pytest-covered (tests/test_splits_repetition_tdigest.py)."""
    from data_check_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    mx = e.agg(F.max("vec_id").alias("mx")).collect()[0]["mx"] or 0
    aug = e.unionByName(q.withColumn("vec_id", F.col("vec_id") + F.lit(int(mx) + 1)))
    ivf = ivf_topk(aug, q, dim=64, k=5, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id"
    )
    bf = brute_force_topk(aug, q, k=5)
    strong = bf.filter(F.col("cosine") >= 0.9).select("query_id", "neighbor_id")
    counts = strong.agg(F.count(F.lit(1)).alias("_ns")).crossJoin(
        ivf.join(strong, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count(F.lit(1)).alias("_nh")
        )
    ).crossJoin(q.agg(F.count_distinct("vec_id").alias("n_queries")))
    recall = F.try_divide(F.col("_nh").cast("double"), F.col("_ns").cast("double"))
    return counts.select(
        "n_queries",
        F.lit(5).alias("k"),
        F.col("_ns").alias("n_strong"),
        F.round(recall, 6).alias("strong_recall"),
        (recall >= 0.9).alias("strong_recall_ge_0_9"),
    )


def _q_cosine_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: candidates restricted to a
    shared random-hyperplane LSH bucket (vs the brute-force oracle
    entry cosine_neardup)."""
    from data_check_spark.operators.similarity import cosine_near_duplicates

    e = _t(spark, sf_dir, "embeddings")
    _assert_id_headroom(e, "vec_id", 10000)
    aug = e.unionByName(
        e.filter(F.col("vec_id") % 25 == 0).withColumn("vec_id", F.col("vec_id") + F.lit(10000))
    )
    return cosine_near_duplicates(aug, dim=64, threshold=0.99, n_planes=16, bands=4)


def _q_approx_stats(spark, sf_dir):
    """Sketch aggregates (HLL distinct + KLL-ish quantiles) — the
    100 TB path where exact distinct/percentile are impractical.
    Oracle form: Spark computes BOTH the sketch and the exact value in
    one agg and emits exact-checkable columns plus within-tolerance
    booleans; the DuckDB oracle recomputes the exact columns and
    asserts the tolerance claims hold (sketch estimates themselves are
    engine-specific and cannot hash-match across engines)."""
    d = _t(spark, sf_dir, "documents")
    a = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("distinct_lang"),
        F.approx_count_distinct("text").alias("_ad_text"),
        F.count_distinct("text").alias("_ed_text"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000)).alias("_ap50"),
        F.expr("percentile(n_chars, 0.5)").alias("_ep50"),
    )
    return a.select(
        "n_docs",
        "distinct_lang",
        (
            F.abs(F.col("_ad_text") - F.col("_ed_text"))
            <= 0.05 * F.col("_ed_text")
        ).alias("hll_text_within_5pct"),
        (F.abs(F.col("_ap50") - F.col("_ep50")) <= 0.01 * F.col("_ep50")).alias(
            "p50_within_1pct"
        ),
    )


def _q_suite_schema(spark, sf_dir):
    """SchemaCheck through the suite: fail-fast schema gate (reference
    check #1, data_processor.py schema diff, as a declarative kind).
    Deliberately drifted expectations (source:double, missing_col) so
    both failure modes appear. GENUINE oracle: DuckDB re-derives every
    verdict from ITS OWN information_schema over the same parquet —
    the two engines must agree on the table's schema."""
    from data_check_spark.plans.suite import CheckSuite, SchemaCheck

    d = _t(spark, sf_dir, "documents")
    res = CheckSuite(
        [
            SchemaCheck(
                expected={
                    "doc_id": "bigint",
                    "text": "string",
                    "lang": "string",
                    "n_chars": "bigint",
                    "source": "double",       # type drift: actually string
                    "missing_col": "string",  # absent
                }
            )
        ]
    ).run(spark, d, "source")
    return res.verdicts


def _q_hll_distinct(spark, sf_dir):
    """Mergeable HLL distinct sketches (operators/sketch.py
    hll_partition_sketches family): per-(partition, column) DataSketches
    binaries whose UNION answers global/incremental distinct counts
    with no rescan. Contract oracle (approx_stats pattern): per column,
    the exact distinct count (DuckDB re-derives) + two booleans — the
    union-of-partition-sketches estimate AND the single direct global
    sketch's estimate are each within the lg_k=12 ~5% bound of exact.
    (Union estimates use DataSketches' composite estimator while a
    directly-built sketch keeps its HIP accumulator, so exact equality
    between them is NOT a contract — both bounds are.) Sketch binaries
    themselves are engine-specific."""
    from data_check_spark.operators.sketch import (
        hll_estimates,
        hll_partition_sketches,
    )

    d = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang"]
    union_est = hll_estimates(
        hll_partition_sketches(d, "source", cols), per_partition=False
    )
    direct_est = hll_estimates(
        hll_partition_sketches(d.selectExpr("'*' AS g", *cols), "g", cols),
        per_partition=False,
    ).withColumnRenamed("n_distinct_est", "direct_est")
    exact = d.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cols]),
                F.array(*[F.col(c).cast("string") for c in cols]),
            )
        ).alias("column", "_v")
    ).groupBy("column").agg(F.count_distinct("_v").alias("exact_distinct"))
    j = exact.join(union_est, "column").join(direct_est, "column")
    return j.select(
        "column",
        "exact_distinct",
        (
            F.abs(F.col("n_distinct_est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("union_within_5pct"),
        (
            F.abs(F.col("direct_est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("direct_within_5pct"),
    ).orderBy("column")


def _q_suite_verdicts(spark, sf_dir):
    from data_check_spark.plans.suite import CheckSuite, StatsCheck, UniquenessCheck

    d = _t(spark, sf_dir, "documents")
    suite = CheckSuite(
        [
            StatsCheck(
                thresholds={
                    "text": {"max_null_rate": 0.05, "min_rows": 1},
                    "lang": {"max_null_rate": 0.05, "min_distinct": 2},
                },
                approx=False,
            ),
            UniquenessCheck(key="doc_id", max_duplicate_keys=0),
        ]
    )
    return suite.run(spark, d, "source").verdicts


def _q_suite_bytes(spark, sf_dir):
    """Byte-mass stat gates (operators/stats.py avg_bytes metric):
    min_/max_avg_bytes threshold the average octet_length of a
    string/binary column — the content-mass check for html payloads
    truncated by a bad fetcher. One octet_length per row inside the
    same fused stats pass; integer byte sums divide once per group on
    both engines, so the metric is bit-identical."""
    from data_check_spark.plans.suite import CheckSuite, StatsCheck

    d = _t(spark, sf_dir, "documents")
    suite = CheckSuite(
        [
            StatsCheck(
                thresholds={
                    "text": {"min_avg_bytes": 10.0, "max_avg_bytes": 100000.0}
                },
                approx=False,
            )
        ]
    )
    return suite.run(spark, d, "source").verdicts


def _q_suite_drift_profile(spark, sf_dir):
    """Profile-based drift (plans/suite.py run(reference_profile=)):
    the reference side is a STORED (kind, key, freq) profile — at
    100 TB the previously-validated version is never rescanned. Here
    the profile of the odd-doc_id half stands in for that stored
    baseline; the even half drifts against it. GENUINE oracle: DuckDB
    recomputes both distributions from the raw rows and the PSI
    verdicts must agree to 6 dp — proving the stored profile carries
    exactly what a reference scan would have."""
    from data_check_spark.plans.suite import (
        CategoricalDriftCheck,
        CheckSuite,
        NumericDriftCheck,
    )

    d = _t(spark, sf_dir, "documents")
    suite = CheckSuite(
        [
            CategoricalDriftCheck(column="lang", max_psi=0.01),
            NumericDriftCheck(
                name="n_chars_hist",
                expr=lambda: F.col("n_chars"),
                lo=0.0,
                hi=600.0,
                n_buckets=20,
                max_psi=0.01,
            ),
        ]
    )
    prof = suite.drift_profile_of(d.filter(F.col("doc_id") % 2 == 1))
    res = suite.run(
        spark, d.filter(F.col("doc_id") % 2 == 0), "source",
        reference_profile=prof,
    )
    return res.verdicts


def _q_dedup_incremental(spark, sf_dir):
    """Incremental EXACT dedup against a persisted 16 B/doc hash store
    (operators/dedup.py exact_hashes / exact_duplicates_against):
    stored = odd docs' md5 rows, new = even docs plus planted copies
    of odd docs. GENUINE exact oracle — md5 over UTF-8 text bytes is
    engine-portable, so DuckDB reproduces every (id_new, text_hash,
    n_stored, stored_ids) row byte-for-byte."""
    from data_check_spark.operators.dedup import (
        exact_duplicates_against,
        exact_hashes,
    )

    d = _t(spark, sf_dir, "documents")
    _assert_id_headroom(d, "doc_id", 100000)
    old = d.filter(F.col("doc_id") % 2 == 1)
    stored = exact_hashes(old)
    planted = old.filter(
        (F.col("doc_id") % 10 == 5) & F.col("text").isNotNull()
    ).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    new = (
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
        .unionByName(planted)
    )
    return exact_duplicates_against(new, stored)


def _q_minhash_incremental(spark, sf_dir):
    """Incremental MinHash dedup against a STORED signature corpus
    (operators/dedup.py minhash_signatures / minhash_pairs_against):
    the validated half is reduced to (id, sig) rows — never re-read —
    and planted copies in the 'new' half must each surface against
    their stored source with est_jaccard exactly 1.0 (identical text
    ⇒ identical fixed-seed signature). Structural contract in the
    simhash/lsh_topk style: DuckDB re-derives n_planted from raw rows
    and the coverage booleans are TRUE by construction."""
    from data_check_spark.operators.dedup import (
        minhash_pairs_against,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    _assert_id_headroom(d, "doc_id", 100000)
    old = d.filter(F.col("doc_id") % 2 == 1)
    stored = minhash_signatures(old)
    # planted copies: odd docs ≡ 5 (mod 10) with ≥3 tokens (the
    # signature pre-filter), shifted into headroom
    shingleable = F.col("text").isNotNull() & F.col("text").rlike(r"(\S+\s+){2}\S")
    planted = old.filter((F.col("doc_id") % 10 == 5) & shingleable).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    new = (
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
        .unionByName(planted)
    )
    pairs = minhash_pairs_against(new, stored, est_threshold=0.9)
    hits = pairs.filter(
        (F.col("id_new") - 100000 == F.col("id_stored"))
        & (F.col("est_jaccard") == 1.0)
    )
    return (
        planted.select(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(hits.select(F.count(F.lit(1)).alias("_nh")))
        .select(
            "n_planted",
            (F.col("_nh") >= F.col("n_planted")).alias("planted_all_found"),
        )
    )


def _q_suite_fingerprint(spark, sf_dir):
    """FingerprintCheck through the FUSED suite path: the lineage
    lanes ride the stats pass's groupBy(partition) (zero extra
    scans, plans/suite.py) and the DuckDB oracle re-derives every
    fingerprint bit — verifying the fused projection/agg end-to-end,
    not just the standalone operator."""
    from data_check_spark.plans.suite import CheckSuite, FingerprintCheck, StatsCheck

    d = _t(spark, sf_dir, "documents")
    res = CheckSuite(
        [
            StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}, approx=False),
            FingerprintCheck(cols=["doc_id", "text", "lang"]),
        ]
    ).run(spark, d, "source")
    return res.fingerprints.select(
        "partition",
        "n_rows",
        F.col("fp_lo").cast("string").alias("fp_lo"),
        F.col("fp_hi").cast("string").alias("fp_hi"),
    )


def _q_suite_compare(spark, sf_dir):
    """The reference's flagship two-table diff session (census +
    per-column ratios, data_processor.py:211-285) declared INSIDE
    CheckSuite as a CompareCheck (VERDICT r3 top-next) — verdicts in
    the uniform suite schema, oracle re-derives every row from the
    same census/ratio SQL already validated standalone."""
    from data_check_spark.plans.suite import CheckSuite, CompareCheck

    t1, t2 = _orders_versions(spark, sf_dir)
    suite = CheckSuite(
        [
            CompareCheck(
                name="orders_diff",
                pk="o_orderkey",
                columns=_RATIO_COLS,
                max_missing_ratio=0.01,
                min_ratio_equal=0.95,
            )
        ]
    )
    return suite.run(spark, t1, "o_orderstatus", reference_df=t2).verdicts


def _q_suite_expr(spark, sf_dir):
    """Declarative row-predicate checks (plans/suite.ExprCheck, the
    deequ-style escape hatch — VERDICT r4 #3) fused WITH a StatsCheck:
    each predicate is one more count_if on the single
    groupBy(partition) stats pass, so three arbitrary row constraints
    cost zero extra scans. Fail-closed: FALSE-or-NULL rows violate."""
    from data_check_spark.plans.suite import CheckSuite, ExprCheck, StatsCheck

    d = _t(spark, sf_dir, "documents")
    suite = CheckSuite(
        [
            StatsCheck(thresholds={"text": {"max_null_rate": 0.05}}, approx=False),
            ExprCheck(name="nchars_nonneg", predicate_sql="n_chars >= 0",
                      max_violation_ratio=0.0),
            ExprCheck(name="text_len_matches",
                      predicate_sql="length(text) = n_chars",
                      max_violation_ratio=0.5),
            ExprCheck(name="lang_known",
                      predicate_sql="lang IN ('en','de','fr','es')",
                      max_violation_ratio=0.9),
        ]
    )
    return suite.run(spark, d, "source").verdicts


def _q_observed(spark, sf_dir):
    """Zero-extra-scan inline validation (plans/observed.ObservedSuite):
    the suite's stat thresholds + expr predicates compile into ONE
    df.observe() CollectMetrics node riding the caller's own action —
    here a noop write standing in for the write that materializes the
    table version. No second read of the data; verdict rows follow the
    batch VERDICT_COLS contract at partition='*'. Exact-only metrics
    (null rate, row count, byte mass, fail-closed expr ratios) so the
    DuckDB oracle reproduces every value bit-for-bit; text_short is a
    deliberately failing gate (both verdict directions exercised).

    ref parity: the reference re-reads the table it just validated
    (data_processor.py run loop issues fresh queries per check); the
    observation rides the write instead — the Spark-native upgrade."""
    from data_check_spark.plans.observed import ObservedSuite
    from data_check_spark.plans.suite import CheckSuite, ExprCheck, StatsCheck

    d = _t(spark, sf_dir, "documents")
    suite = CheckSuite(
        [
            StatsCheck(
                thresholds={
                    "text": {
                        "max_null_rate": 0.05,
                        "min_rows": 1.0,
                        "min_avg_bytes": 10.0,
                    }
                },
            ),
            ExprCheck(name="nchars_nonneg", predicate_sql="n_chars >= 0",
                      max_violation_ratio=0.0),
            ExprCheck(name="lang_known",
                      predicate_sql="lang IN ('en','de','fr','es')",
                      max_violation_ratio=0.9),
            ExprCheck(name="text_short",
                      predicate_sql="length(text) < n_chars",
                      max_violation_ratio=0.0),
        ]
    )
    osuite = ObservedSuite(suite)
    observed, obs = osuite.attach(d)
    observed.write.format("noop").mode("overwrite").save()
    return osuite.verdicts(spark, obs)


def _q_suite_profile(spark, sf_dir):
    """Declarative categorical-health gates (plans/suite.ProfileCheck)
    riding the fused profile scan: lang must keep >=1 bit of entropy
    with no value over 60% (both pass on the synth corpus) and source
    must stay under 4 distinct values (fails: there are 20) — both
    directions exercised. NULLs planted into lang (doc_id%17==3, the
    col_profile construction) so the non-null renormalization is
    oracle-checked. The DuckDB twin re-derives every verdict from raw
    value counts."""
    from data_check_spark.plans.suite import CheckSuite, ProfileCheck

    d = _t(spark, sf_dir, "documents").withColumn(
        "lang",
        F.when(F.col("doc_id") % 17 == 3, F.lit(None).cast("string")).otherwise(
            F.col("lang")
        ),
    )
    suite = CheckSuite(
        [
            ProfileCheck("lang", min_entropy=1.0, max_mode_share=0.6),
            ProfileCheck("source", min_distinct=2, max_distinct=3),
        ]
    )
    return suite.run(spark, d, "source").verdicts.orderBy("column", "check")


_CONTAM_PHRASE = " zeta eta theta iota kappa lambda mu nu"


def _q_fd_violations(spark, sf_dir):
    """Functional-dependency gate (operators/unique.fd_violations):
    the BASELINE.json per-row invariant — byte-identical text per url
    — hunted as a data check. documents has no url column, so one is
    PLANTED row-locally (doc_id % 31: 31 colliding url classes, each
    carrying >1 distinct text) with the identical construction in the
    DuckDB twin; the invariant-HOLDS direction is pytest-covered on
    the synthetic pages table (tests/test_suite.py)."""
    from data_check_spark.operators.unique import fd_violations

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc"), (F.col("doc_id") % 31).cast("string")).alias("url"),
        "text",
    )
    return fd_violations(pages, "url", ["text"]).select(
        F.col("key_value").alias("url"), "n_variants", "n_rows"
    )


def _q_suite_fd(spark, sf_dir):
    """FunctionalDependencyCheck declared in CheckSuite: per-partition
    verdict rows counting urls whose text is NOT byte-identical across
    their rows. Partition = doc_id % 5 and url = doc_id % 31 (coprime:
    CRT guarantees within-partition collisions), both re-derived
    identically by the oracle."""
    from data_check_spark.plans.suite import CheckSuite, FunctionalDependencyCheck

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("p"), (F.col("doc_id") % 5).cast("string")).alias("part"),
        F.concat(F.lit("doc"), (F.col("doc_id") % 31).cast("string")).alias("url"),
        "text",
    )
    suite = CheckSuite([FunctionalDependencyCheck("url", ("text",))])
    return suite.run(spark, pages, "part").verdicts


def _q_url_canon(spark, sf_dir):
    """URL canonicalization (functions/urls.add_canonical_url): raw
    crawl urls collapse onto their canonical key before url-keyed
    dedup/uniqueness/FD. documents has no url column, so messy raw
    urls are PLANTED row-locally (host-case / default-port / tracking-
    param / param-order / fragment variants by doc_id residues) with
    the identical construction in the DuckDB twin; the twin then
    re-derives every canonical url through canonical_url_sql — the
    engine-portability contract (functions/pii, functions/splits
    pattern). Output: canonical url, row count, distinct raw forms
    merged."""
    from data_check_spark.functions.urls import add_canonical_url

    d = spread_cpu(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    m3, m4 = F.col("doc_id") % 3, F.col("doc_id") % 4
    host = (
        F.when(m3 == 0, F.lit("http://Example.COM"))
        .when(m3 == 1, F.lit("http://example.com:80"))
        .otherwise(F.lit("HTTP://EXAMPLE.com"))
    )
    qs = (
        F.when(m4 == 0, F.lit(""))
        .when(m4 == 1, F.lit("?utm_source=x&b=2&a=1"))
        .when(m4 == 2, F.lit("?a=1&b=2"))
        .otherwise(F.lit("?b=2&utm_medium=y&a=1#frag"))
    )
    raw = F.concat(host, F.lit("/p/"), (F.col("doc_id") % 17).cast("string"), qs)
    out = add_canonical_url(d.select(raw.alias("url")))
    return out.groupBy("url_canon").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("url").alias("n_raw_forms"),
    )


def _q_html_extract(spark, sf_dir):
    """HTML → text extraction invariant (functions/html.html_to_text):
    the BASELINE.json input_hint check that the text column IS the
    extraction of the html BINARY payload. documents has no html
    column, so a realistic page — title, style block, script block
    (with `<` and a fake tag inside), comment, entity-escaped body —
    is PLANTED row-locally from (doc_id, lang, text), cast through
    BINARY, extracted back, and compared against the independently
    predicted text (title + whitespace-collapsed body). The DuckDB
    twin rebuilds the page, round-trips it through encode()/decode()
    (the BLOB leg), and re-derives the extraction via
    html_to_text_sql — the engine-portability contract (functions/
    urls, functions/splits pattern). Output: per-row extracted text +
    invariant verdict for doc_id < 400."""
    from data_check_spark.functions.html import html_to_text_from_binary

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    body = F.substring("text", 1, 160)
    esc = F.replace(
        F.replace(
            F.replace(body, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    page = F.concat(
        F.lit("<html><head><title>"), F.coalesce(F.col("lang"), F.lit("")),
        F.lit('</title><style>p{margin:0}</style>'
              '<script>if(1<2){var x="<p>"}</script></head><body><!-- id '),
        F.col("doc_id").cast("string"),
        F.lit(" --><p>"), esc, F.lit("</p></body></html>"),
    )
    expected = F.trim(
        F.regexp_replace(
            F.concat(F.coalesce(F.col("lang"), F.lit("")), F.lit(" "), body),
            "[ \t\n\f\r]+", " ",
        )
    )
    extracted = html_to_text_from_binary(page.cast("binary"))
    return d.select(
        "doc_id",
        extracted.alias("extracted"),
        (
            (extracted.isNull() & expected.isNull()) | (extracted == expected)
        ).alias("matches_expected"),
    )


def _q_heavy_hitters(spark, sf_dir):
    """Exact top-k heavy hitters (operators/topk.heavy_hitters): the
    hot-key diagnostic feeding the engine's skew defenses (uniqueness
    salting, dedup buckets, AQE skew joins) — top-10 users by event
    count per event type, rank ties broken by key so the result is
    parallelism- and engine-deterministic."""
    from data_check_spark.operators.topk import heavy_hitters

    e = _t(spark, sf_dir, "events")
    return heavy_hitters(e, "user_id", k=10, group="event_type").select(
        F.col("group").alias("event_type"),
        F.col("key_value").alias("user_id"),
        "n",
        "rank",
    )


def _q_embedding_stats(spark, sf_dir):
    """Embedding-column quality gate (operators/similarity.
    embedding_stats): NULL / wrong-dim / NaN / off-unit-norm counts in
    one fused scan. The synth vectors are clean, so NULLs are PLANTED
    row-locally (vec_id%97) with the identical construction in the
    DuckDB twin; the other detectors are pytest-covered on crafted
    corrupt frames."""
    from data_check_spark.operators.similarity import embedding_stats

    e = _t(spark, sf_dir, "embeddings")
    dirty = e.select(
        F.when(F.col("vec_id") % 97 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding")
    )
    return embedding_stats(dirty, "embedding", dim=64)


def _q_pack_contract(spark, sf_dir):
    """Sequence-packing CONTRACT (operators/packing.py): bin packing
    has no SQL twin, so — like the simhash/lsh entries — this emits
    the invariants as DuckDB-re-derivable values: every doc packed
    exactly once, token mass conserved, no pack over budget, mean
    fill of multi-doc packs >= 0.9 (FFD on this length distribution
    packs far tighter; 0.9 is the contract floor)."""
    from data_check_spark.operators.packing import pack_sequences, pack_summary

    max_len = 1000
    d = _t(spark, sf_dir, "documents")
    packed = pack_sequences(d, "doc_id", "n_chars", max_len, num_shards=8)
    summ = pack_summary(packed, max_len)
    a = packed.agg(
        F.count(F.lit(1)).alias("n_docs_packed"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.sum("n_tokens").alias("tokens_packed"),
    )
    b = summ.agg(
        F.count_if(
            (~F.col("oversize")) & (F.col("total_tokens") > max_len)
        ).alias("n_over_budget"),
        F.avg(F.when(F.col("n_docs") > 1, F.col("fill_ratio"))).alias("mean_fill"),
    )
    c = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("tokens_in"),
    )
    return (
        a.crossJoin(b)
        .crossJoin(c)
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_docs_packed") == F.col("n_docs")).alias("all_packed"),
            (F.col("n_distinct_docs") == F.col("n_docs")).alias("each_once"),
            (F.col("tokens_packed") == F.col("tokens_in")).alias("tokens_conserved"),
            (F.col("n_over_budget") == 0).alias("no_over_budget"),
            (F.col("mean_fill") >= 0.9).alias("fill_ok"),
        )
    )


def _q_outlier_counts(spark, sf_dir):
    """Tukey-fence outlier counts (operators/stats.iqr_outlier_counts)
    over documents.n_chars and events.value — exact-percentile fences
    (no float-summation-order dependence), fence rounding via Spark
    round (HALF_UP, same as DuckDB) so the oracle is exact."""
    from data_check_spark.operators.stats import iqr_outlier_counts

    a = iqr_outlier_counts(_t(spark, sf_dir, "documents"), ["n_chars"])
    b = iqr_outlier_counts(_t(spark, sf_dir, "events"), ["value"])
    return a.unionByName(b)


def _q_col_profile(spark, sf_dir):
    """Categorical column profile (operators/stats.categorical_profile)
    over documents lang/source/n_chars — the deequ-analyzer family
    (entropy, distinctness, uniqueness, unique-value ratio, mode
    share) in one melted scan. NULLs are planted into lang
    (doc_id%17==3, row-local, identical construction in the DuckDB
    twin) so the null-accounting path is exercised. Ratios are single
    IEEE divisions (bit-exact cross-engine); entropy is rounded to
    6 dp (the PSI precedent) to absorb libm/summation-order ulps."""
    from data_check_spark.operators.stats import categorical_profile

    d = _t(spark, sf_dir, "documents").withColumn(
        "lang",
        F.when(F.col("doc_id") % 17 == 3, F.lit(None).cast("string")).otherwise(
            F.col("lang")
        ),
    )
    return categorical_profile(d, ["lang", "source", "n_chars"])


def _q_suggest_constraints(spark, sf_dir):
    """Constraint suggestion (plans/suggest.suggest_constraints):
    profile documents once and emit the gates a new user should start
    from — null-rate locks/slack gates, candidate keys, categorical
    vocabulary ceilings, per-partition volume floor. Partition-aware
    (partition_col='source': null gates derive from the HOTTEST
    partition, the volume floor from the SMALLEST) and exact
    (approx=False) so the DuckDB twin re-derives every rule from raw
    counts. NULLs planted into lang (doc_id%17==3, the col_profile
    construction) so the slack path fires. The reference has no
    counterpart — its user supplies the checks (models/table.py);
    this is the inverse direction a 10^12-row onboarding needs."""
    from data_check_spark.plans.suggest import suggest_constraints

    d = _t(spark, sf_dir, "documents").withColumn(
        "lang",
        F.when(F.col("doc_id") % 17 == 3, F.lit(None).cast("string")).otherwise(
            F.col("lang")
        ),
    )
    return suggest_constraints(d, partition_col="source", approx=False)


def _q_metric_anomalies(spark, sf_dir):
    """Metric-history anomaly gate (plans/history.metric_anomalies):
    median/MAD verdicts over an audit trail of per-run metrics — the
    deequ anomaly-detection direction the reference lacks (it compares
    two tables, never a table against its own past). The audit trail
    is synthesized deterministically from documents: five pseudo-runs
    ((doc_id%97)%5 slices — 97 is coprime with the source period so
    every (run, source) cell is populated and every key carries a
    4-run history; plain doc_id%5 would align runs with sources and
    leave only the NULL-history path), metric = per-source mean
    n_chars (integer-sum mean — cross-engine exact at any summation
    order), current run = 'r4' judged against r0-r3 with k=1 MAD and
    a 1% relative floor. The DuckDB twin re-derives median, MAD,
    tolerance and verdicts from the same slices."""
    from data_check_spark.plans.history import metric_anomalies

    d = _t(spark, sf_dir, "documents")
    audit = (
        d.groupBy(
            F.concat(
                F.lit("r"), ((F.col("doc_id") % 97) % 5).cast("string")
            ).alias("run_id"),
            F.col("source"),
        )
        .agg(F.round(F.avg("n_chars"), 6).alias("metric"))
        .select(
            "run_id",
            F.lit("*").alias("partition"),
            F.col("source").alias("column"),
            F.lit("avg_n_chars").alias("check"),
            "metric",
        )
    )
    return metric_anomalies(audit, "r4", k=1.0, min_rel=0.01)


def _q_quarantine(spark, sf_dir):
    """Quarantine routing (operators/quarantine.route_rows): every row
    flows on or lands in quarantine with the sorted list of rules it
    broke — the unbounded filter-and-quarantine pass in front of an
    ingest, complementing the suite's bounded violation dumps. Planted
    dirt, identical construction in the DuckDB twin: NULL langs
    (doc_id%17==3), a pk that collides in pairs (doc_id%10==9 maps to
    doc_id-1 — exercising the unique rule's min-id exemplar keep AND
    the fd rule poisoning both members, since the pair's texts
    differ). Reasons ship comma-joined (the driver compare is
    array-free by contract)."""
    from data_check_spark.operators.quarantine import (
        ExprRule,
        FDRule,
        NotNullRule,
        UniqueRule,
        route_rows,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 17 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.when(F.col("doc_id") % 10 == 9, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .alias("pk"),
    )
    routed = route_rows(
        d,
        [
            ExprRule("text_nonempty", "length(text) > 0"),
            NotNullRule("lang"),
            UniqueRule("pk", id_col="doc_id"),
            FDRule("pk", deps=("text",)),
        ],
    )
    return routed.select(
        "doc_id",
        F.array_join("quarantine_reasons", ",").alias("reasons"),
        (F.size("quarantine_reasons") == 0).alias("is_clean"),
    )


def _q_quarantine_gopher(spark, sf_dir):
    """Gopher §A1 quality routing (operators/quarantine.gopher_rules,
    Rae et al. 2021): the standard pre-training curation gates (word
    count, mean word length, alphabetic-word fraction, bullet/ellipsis
    line fractions) as a shuffle-free route_rows pack over documents.
    The synth corpus's repeat-count spread (1-64 phrase repeats) makes
    min_words fire on short docs while long ones pass, so both verdict
    directions are oracle-checked; the DuckDB twin re-derives every
    metric from the same regex definitions the proven token-stats
    oracles use, including the fail-closed NULL semantics (NULL text
    planted via doc_id%23==5)."""
    from data_check_spark.operators.quarantine import gopher_rules, route_rows

    d = _docs_text(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 5, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    routed = route_rows(d, gopher_rules())
    return routed.select(
        "doc_id",
        F.array_join("quarantine_reasons", ",").alias("reasons"),
        (F.size("quarantine_reasons") == 0).alias("is_clean"),
    )


def _q_quarantine_encoding(spark, sf_dir):
    """Decode-quality routing (operators/quarantine.encoding_rules):
    zero-tolerance gates on U+FFFD / mojibake digraphs / C0 controls,
    over the same planted scars as ``encoding_scan`` plus fail-closed
    NULL text (doc_id%23==5). The DuckDB twin re-derives every
    counter with the shared replace-length arithmetic and rebuilds
    the sorted reason list with the same fail-closed CASE logic."""
    from data_check_spark.operators.quarantine import encoding_rules, route_rows

    d = _docs_text(spark, sf_dir)
    planted = _planted_scar_text()
    d = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 5, F.lit(None).cast("string"))
        .otherwise(planted)
        .alias("text"),
    )
    routed = route_rows(d, encoding_rules())
    return routed.select(
        "doc_id",
        F.array_join("quarantine_reasons", ",").alias("reasons"),
        (F.size("quarantine_reasons") == 0).alias("is_clean"),
    )


def _q_contamination(spark, sf_dir):
    """Benchmark-contamination counts per train doc (operators/dedup.
    contamination_check): eval = doc_id%10==0, train = the rest; a
    known 8-word phrase is PLANTED into every eval doc and into train
    docs with doc_id%13==1 (row-local, identical construction in the
    DuckDB twin) so contamination is non-trivial by construction on
    top of the corpus's natural n-gram overlaps."""
    from data_check_spark.operators.dedup import contamination_check

    d = _t(spark, sf_dir, "documents")
    txt = F.when(
        (F.col("doc_id") % 10 == 0) | (F.col("doc_id") % 13 == 1),
        F.concat(F.col("text"), F.lit(_CONTAM_PHRASE)),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", txt.alias("text"))
    train = base.filter(F.col("doc_id") % 10 != 0)
    ev = base.filter(F.col("doc_id") % 10 == 0)
    return contamination_check(train, ev, "doc_id", "text", n=8)


def _q_crossdoc_ngram(spark, sf_dir):
    """Cross-document duplicated-n-gram counts (operators/dedup.
    cross_doc_ngram_duplicates, Lee et al. dedup signal): per doc, how
    many of its distinct 8-grams appear in at least one other doc.
    md5 gram keys → DuckDB re-derives every value exactly."""
    from data_check_spark.operators.dedup import cross_doc_ngram_duplicates

    d = _t(spark, sf_dir, "documents")
    return cross_doc_ngram_duplicates(d, "doc_id", "text", n=8)


def _lined_pages(spark, sf_dir):
    """documents is single-line, so a multi-line corpus is PLANTED
    row-locally for the line-dedup oracles (the fd_violations
    precedent): a shared header (every doc — normalization exercised
    via the double space), a 40-char prefix line, a 7-class footer
    (~1/7 of docs each) and the full text (duplicated only across the
    synth generator's planted exact-dup groups). The DuckDB twin
    builds the identical text with the identical expressions."""
    d = _docs_text(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("About  Us"),
            F.substring("text", 1, 40),
            F.concat(F.lit("Footer "), (F.col("doc_id") % 7).cast("string")),
            F.col("text"),
        ).alias("text"),
    )


def _q_line_dedup_stats(spark, sf_dir):
    """CCNet/RefinedWeb corpus-level line dedup, census direction
    (operators/linededup.line_duplicate_stats): per doc, how many of
    its line segments recur (normalized) in >= 2 documents. md5 line
    keys -> DuckDB re-derives every value exactly."""
    from data_check_spark.operators.linededup import line_duplicate_stats

    return line_duplicate_stats(_lined_pages(spark, sf_dir), "doc_id", "text", min_docs=2)


def _q_line_dedup_strip(spark, sf_dir):
    """CCNet/RefinedWeb corpus-level line dedup, rewrite direction
    (operators/linededup.strip_duplicate_lines): boilerplate lines
    removed, survivors rejoined in original order with original
    bytes. Exact oracle including the reconstructed text_clean."""
    from data_check_spark.operators.linededup import strip_duplicate_lines

    return strip_duplicate_lines(_lined_pages(spark, sf_dir), "doc_id", "text", min_docs=2)


def _q_suite_linedup(spark, sf_dir):
    """LineDupCheck through the declarative suite: the corpus
    boilerplate-mass gate (fraction of line segments recurring in
    >= 2 docs). GENUINE oracle: DuckDB re-derives the verdict row
    from raw normalized-line counts over the same planted multi-line
    corpus. Threshold 0.3 deliberately FAILS here (the planted header
    + footer alone put the mass > 0.5) — exercising the fail-closed
    verdict direction through the suite."""
    from data_check_spark.plans.suite import CheckSuite, LineDupCheck

    pages = _lined_pages(spark, sf_dir).withColumn(
        "part", (F.col("doc_id") % 4).cast("string")
    )
    res = CheckSuite(
        [LineDupCheck(max_dup_line_frac=0.3, dump_violations=False)]
    ).run(spark, pages, "part")
    return res.verdicts


def _q_repetition(spark, sf_dir):
    """Gopher-style within-document repetition metrics (Rae et al.
    2021 §A1.1): duplicate-line / duplicate-n-gram / top-n-gram
    fractions — the standard crawled-text boilerplate filter. Pure
    per-row JVM HOF work (functions/textstats.repetition_metrics)."""
    return repetition_metrics(_docs_text(spark, sf_dir), "text")


def _q_domain_cap(spark, sf_dir):
    """Per-domain document quota (functions/splits.cap_per_key): keep
    at most 5 docs per domain, selected by md5(id:salt) order so the
    kept set is re-run stable and engine-portable. documents has no
    domain column, so one is PLANTED row-locally (doc_id % 31 → 31
    domains, the fd_violations precedent) with the identical
    construction in the DuckDB twin, which re-derives the exact kept
    set with a plain row_number() window."""
    from data_check_spark.functions.splits import cap_per_key

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), (F.col("doc_id") % 31).cast("string")).alias("domain"),
        "doc_id",
    )
    return cap_per_key(d, "domain", cap=5, id_col="doc_id")


def _q_train_split(spark, sf_dir):
    """Deterministic md5-bucketed train/val/test assignment
    (functions/splits.py): engine-portable (the DuckDB oracle
    recomputes every label from the same md5 hex prefix), re-run
    stable, shuffle-free. Emits the per-split audit summary."""
    d = _t(spark, sf_dir, "documents")
    return split_summary(d, "doc_id", weight_col="n_chars")


def _q_tdigest(spark, sf_dir):
    """Real t-digest quantiles (operators/sketch.py t-digest family,
    k1 scale function, delta=300). Contract oracle (approx_stats
    pattern): the estimates are partitioning-specific, so Spark emits
    per q the EXACT interpolated quantile (re-derived by DuckDB's
    quantile_cont) plus a rank-error check — |cdf(estimate) − q| ≤
    0.02, the two-level k1 merge guarantee (≈ 2·q(1−q)/δ per level)
    with margin. Raw estimates are pytest-covered (tests/test_sketch.py)."""
    from data_check_spark.operators.sketch import quantiles_via_tdigest

    d = _t(spark, sf_dir, "documents")
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    # the digest readout is already a driver-side 5-row result — lift
    # the estimates to literals so the rank check is 5 count_ifs in ONE
    # scan (no crossJoin of estimates against the table)
    est = {
        r["q"]: r["value"]
        for r in quantiles_via_tdigest(d, "n_chars", qs, delta=300.0).collect()
    }
    v = F.col("n_chars").cast("double")
    agg = d.agg(
        F.count("n_chars").alias("_n"),
        *[F.count_if(v <= F.lit(est[q])).alias(f"_le{i}") for i, q in enumerate(qs)],
        *[
            F.round(F.percentile("n_chars", F.lit(q)), 4).alias(f"_e{i}")
            for i, q in enumerate(qs)
        ],
    )
    stacked = agg.select(
        F.expr(
            "stack(5, "
            + ", ".join(
                f"{q}D, _e{i}, _le{i} / cast(_n as double)" for i, q in enumerate(qs)
            )
            + ") as (q, exact_value, _cdf)"
        )
    )
    return stacked.select(
        "q",
        "exact_value",
        (F.abs(F.col("_cdf") - F.col("q")) <= 0.02).alias("rank_err_ok"),
    ).orderBy("q")


# fingerprint cols: string-cast-portable types only (ints, strings,
# date) — o_totalprice (double) is deliberately left out, see the
# float caveat in operators/fingerprint.py
_FP_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"]


# the self-trained CCNet LM: shared CTE prefix (tokenize → bigrams →
# counts → vocabulary → per-bigram exact-integer quantized smoothed
# probability) reused by lm_scores (per-doc scores) and
# suite_lm_verdicts (the corpus fluency verdict row)
_LM_SELF_SQL_CTES = r"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents
), b AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
    FROM w WHERE len(ws) >= 2)
), cbg AS (SELECT w1, w2, count(*) AS c_bg FROM b GROUP BY w1, w2),
cw1 AS (SELECT w1, count(*) AS c_w1 FROM b GROUP BY w1),
v AS (SELECT count(DISTINCT w2) AS v FROM b),
q AS (
  SELECT b.doc_id, cbg.c_bg,
         CAST((2 * CAST(COALESCE(cbg.c_bg, 0) + 1 AS HUGEINT) * 1000000000
               + (COALESCE(cw1.c_w1, 0) + v.v))
              // (2 * (COALESCE(cw1.c_w1, 0) + v.v)) AS BIGINT) AS q
  FROM b LEFT JOIN cbg USING (w1, w2) LEFT JOIN cw1 USING (w1) CROSS JOIN v
)"""

# the CCNet cross-trained LM oracle: train on the even half, score
# the odd half. Shared verbatim by lm_scores_crosstrain AND
# lm_scores_incremental — the incremental query trains two quarter-
# corpus LMs and merges them, so agreeing with THIS whole-even-corpus
# SQL is exactly the merge-correctness claim.
_LM_CROSSTRAIN_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents
), btrain AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
    FROM w WHERE len(ws) >= 2 AND doc_id % 2 = 0)
), bscore AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
    FROM w WHERE len(ws) >= 2 AND doc_id % 2 = 1)
), cbg AS (SELECT w1, w2, count(*) AS c_bg FROM btrain GROUP BY w1, w2),
cw1 AS (SELECT w1, count(*) AS c_w1 FROM btrain GROUP BY w1),
v AS (SELECT count(DISTINCT w2) AS v FROM btrain),
q AS (
  SELECT b.doc_id, cbg.c_bg,
         CAST((2 * CAST(COALESCE(cbg.c_bg, 0) + 1 AS HUGEINT) * 1000000000
               + (COALESCE(cw1.c_w1, 0) + v.v))
              // (2 * (COALESCE(cw1.c_w1, 0) + v.v)) AS BIGINT) AS q
  FROM bscore b LEFT JOIN cbg USING (w1, w2) LEFT JOIN cw1 USING (w1) CROSS JOIN v
)
SELECT doc_id,
       count(*) AS n_bigrams,
       count(*) FILTER (WHERE c_bg IS NULL) AS n_unseen,
       count(*) FILTER (WHERE COALESCE(c_bg, 0) <= 1) AS n_rare,
       CAST((2 * sum(q) + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000000 AS mean_p
FROM q GROUP BY doc_id"""


def _fp_enc_sql(col: str) -> str:
    """DuckDB twin of fingerprint.py's injective length-prefix
    encoding, over the string-cast column."""
    s = f"CAST({col} AS VARCHAR)"
    return (
        f"CASE WHEN {s} IS NULL THEN 'N' "
        f"ELSE CAST(length({s}) AS VARCHAR) || ':' || {s} END"
    )


_FP_HASH_SQL = (
    "SELECT substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS part,\n"
    "       md5(concat_ws('|', "
    + ", ".join(_fp_enc_sql(c) for c in _FP_COLS)
    + ")) AS h\nFROM {side}"
)

# hex lane → BIGINT via DuckDB's '0x' string cast; Spark uses
# conv(hex, 16, 10) — verified bit-identical (tests/test_fingerprint.py)
_FP_LANES_SQL = (
    "CAST(SUM(CAST(('0x' || substring(h, 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS fp_lo,\n"
    "       CAST(SUM(CAST(('0x' || substring(h, 16, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS fp_hi"
)


def _with_month(df):
    return df.withColumn(
        "omonth", F.substring(F.col("o_orderdate").cast("string"), 1, 7)
    )


def _q_partition_fp(spark, sf_dir):
    """Order-independent per-partition content fingerprints
    (operators/fingerprint.py): md5 row hash → two 60-bit lanes →
    exact DECIMAL sums per month partition. The DuckDB oracle
    re-derives every fingerprint bit-for-bit — the engine-portability
    claim of the audit story, checked end-to-end."""
    t1, _ = _orders_versions(spark, sf_dir)
    # orders ships as one file with 2 row groups → the per-row md5
    # encode otherwise runs 2-way on 32 cores (operators/spread.py)
    fp = partition_fingerprint(
        spread_cpu(_with_month(t1), "o_orderkey"), "omonth", _FP_COLS
    )
    # DECIMAL(38,0) loses precision through DuckDB's pandas fetch
    # (float64) — ship the opaque fingerprint as its digit string
    return fp.select(
        "partition",
        "n_rows",
        F.col("fp_lo").cast("string").alias("fp_lo"),
        F.col("fp_hi").cast("string").alias("fp_hi"),
    )


def _q_changed_partitions(spark, sf_dir):
    """Partition-level version diff: which months of orders v1→v2
    were added/removed/changed/equal, from fingerprints alone — the
    scale-first prefilter that prunes the row diff to changed
    partitions (operators/fingerprint.py diff_changed_partitions)."""
    t1, t2 = _orders_versions(spark, sf_dir)
    # see _q_partition_fp: spread both sides' md5 encode passes (a
    # single-scan explode-both-sides variant was A/B'd at 4.6 s vs
    # 2.9 s for this form — HOF array/explode is interpreted, codegen
    # md5 over two spread scans wins)
    return changed_partitions(
        spread_cpu(_with_month(t1), "o_orderkey"),
        spread_cpu(_with_month(t2), "o_orderkey"),
        "omonth",
        _FP_COLS,
    ).orderBy("partition")


def _q_lm_scores(spark, sf_dir):
    """CCNet-style bigram-LM quality scores, self-trained
    (operators/lm.bigram_lm_scores): add-one-smoothed p(w2|w1) per
    bigram, per-doc mean quantized to 1e-9 via exact integer HALF_UP
    — no libm anywhere in the compared columns, so DuckDB re-derives
    every value bit-exactly. No reference counterpart (the reference
    has no text modeling); lineage is Wenzek et al. CCNet."""
    from data_check_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


def _q_lm_scores_crosstrain(spark, sf_dir):
    """The real CCNet deployment shape: LM trained on a REFERENCE
    corpus (even doc_ids), scoring a TARGET corpus (odd doc_ids) —
    exercises the unseen-bigram/OOV smoothing path (n_unseen > 0)
    that self-training can never reach."""
    from data_check_spark.operators.lm import bigram_lm, bigram_lm_scores

    d = _t(spark, sf_dir, "documents")
    lm = bigram_lm(d.filter(F.col("doc_id") % 2 == 0))
    return bigram_lm_scores(d.filter(F.col("doc_id") % 2 == 1), lm=lm)


def _q_lm_scores_incremental(spark, sf_dir):
    """Incremental LM lifecycle (operators/lm.merge_bigram_lm): two
    shard-trained LMs (doc_id % 4 == 0 and % 4 == 2) merged by
    count-sum, scoring the odd docs. GENUINE oracle: the DuckDB twin
    trains on the WHOLE even corpus in one pass — the results agree
    only if merged shard counts are exactly the whole-corpus counts
    (and the re-derived |V| matches), which is the incremental-path
    correctness claim."""
    from data_check_spark.operators.lm import (
        bigram_lm,
        bigram_lm_scores,
        merge_bigram_lm,
    )

    d = _t(spark, sf_dir, "documents")
    lm = merge_bigram_lm(
        [
            bigram_lm(d.filter(F.col("doc_id") % 4 == 0)),
            bigram_lm(d.filter(F.col("doc_id") % 4 == 2)),
        ]
    )
    return bigram_lm_scores(d.filter(F.col("doc_id") % 2 == 1), lm=lm)


def _q_source_mix(spark, sf_dir):
    """Training-mix construction (operators/mixing.source_mix):
    sources src0/src1/src2 reweighted 5:3:2 with up to 3 epochs of
    repetition — the binding source (src0) runs 3 full epochs, the
    others land fractional rates (1.8, 1.2) realized as md5-bucket
    decisions. GENUINE oracle: DuckDB re-derives the availability
    counts, the mix plan (same HALF_UP expression structure — integer
    weights make the normalization exact in both engines), and every
    per-(row, epoch) keep decision; sum(doc_id) witnesses membership,
    not just counts."""
    from data_check_spark.operators.mixing import source_mix

    d = _t(spark, sf_dir, "documents")
    out = source_mix(
        d, "doc_id", "source", {"src0": 5, "src1": 3, "src2": 2}, max_epochs=3.0
    )
    return out.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


def _q_suite_lm(spark, sf_dir):
    """LMCheck through the declarative suite: the CCNet corpus
    fluency gate — fraction of docs whose exact-integer-quantized
    mean bigram probability falls outside [0.032, 1.0] must stay
    under 0.4. GENUINE oracle: DuckDB re-trains the same whole-corpus
    LM and re-derives the verdict row bit-for-bit (mean_p is
    libm-free, so the only rounding is the shared round(ratio, 6)
    convention). The band's low edge sits inside the observed mean_p
    distribution so both verdict directions stay reachable as sf
    changes — the oracle recomputes whatever the truth is."""
    from data_check_spark.plans.suite import CheckSuite, LMCheck

    d = _t(spark, sf_dir, "documents").withColumn(
        "part", (F.col("doc_id") % 4).cast("string")
    )
    res = CheckSuite(
        [LMCheck(min_mean_p=0.032, max_mean_p=1.0, max_outlier_frac=0.4,
                 dump_violations=False)]
    ).run(spark, d, "part")
    return res.verdicts


def _q_shard_manifest(spark, sf_dir):
    """Deterministic shard-export manifest (operators/export.
    shard_manifest): md5-bucket shard assignment (the splits
    convention) + per-shard row count and the two-lane DECIMAL
    content fingerprint (the partition_fingerprint machinery). The
    DuckDB oracle re-derives every shard id and fingerprint digit —
    the export-verification claim, checked end-to-end. Lanes ship as
    digit strings (DECIMAL(38,0) loses precision through DuckDB's
    pandas fetch)."""
    from data_check_spark.operators.export import shard_manifest

    d = spread_cpu(_t(spark, sf_dir, "documents"), "doc_id")
    m = shard_manifest(d, "doc_id", 8)
    return m.select(
        "shard",
        "n_rows",
        F.col("fp_lo").cast("string").alias("fp_lo"),
        F.col("fp_hi").cast("string").alias("fp_hi"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full check-suite verdicts over sf0.001 documents."""
    return _q_suite_verdicts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pk_census": _q_pk_census,
        "exclusive_pks_1": _q_exclusive_1,
        "exclusive_pks_2": _q_exclusive_2,
        "column_match_ratios": _q_ratios,
        "row_diff": _q_row_diff,
        "unique_violations": _q_unique,
        "refint_violations": _q_refint,
        "refint_hashed": _q_refint_hashed,
        "refint_bloom": _q_refint_bloom,
        "stats_documents": _stats_documents,
        "psi_lang": _q_psi_lang,
        "psi_nchars": _q_psi_nchars,
        "hist_nchars": _q_hist_nchars,
        "ks_nchars": _q_ks_nchars,
        "sample_aligned": _q_sample_aligned,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard": _q_ngram_jaccard,
        "knn_bruteforce": _q_knn,
        "cosine_neardup": _q_cosine_neardup,
        "token_stats": _q_token_stats,
        "quality_scores": _q_quality,
        "langid": _q_langid,
        "lang_mismatch": _q_lang_mismatch,
        "text_normalize": _q_text_normalize,
        "text_metrics": _q_text_metrics,
        "fingerprint": _q_fingerprint,
        "events_hourly": _q_events_hourly,
        "asof_join_events": _q_asof_join,
        "range_join_events": _q_range_join,
        "sessionize_events": _q_sessionize,
        "pii_scan": _q_pii_scan,
        "stratified_sample": _q_stratified_sample,
        "tpch_q1": _q_tpch_q1,
        "window_topk_orders": _q_window_topk,
        "multimodal_meta": _q_multimodal,
        "array_canon": _q_array_canon,
        "sql_source": _q_sql_source,
        "percentiles": _q_percentiles,
        "sketch_quantiles": _q_sketch_quantiles,
        "cosine_neardup_lsh": _q_cosine_neardup_lsh,
        "approx_stats": _q_approx_stats,
        "hll_distinct": _q_hll_distinct,
        "suite_schema_verdicts": _q_suite_schema,
        "suite_drift_profile": _q_suite_drift_profile,
        "schema_diff": _q_schema_diff,
        "minhash_pairs": _q_minhash,
        "dup_clusters": _q_dup_clusters,
        "neardup_strip": _q_neardup_strip,
        "encoding_scan": _q_encoding_scan,
        "cluster_incremental": _q_cluster_incremental,
        "suite_neardup_verdicts": _q_suite_neardup,
        "minhash_incremental": _q_minhash_incremental,
        "dedup_incremental": _q_dedup_incremental,
        "suite_verdicts": _q_suite_verdicts,
        "suite_bytes_verdicts": _q_suite_bytes,
        "suite_compare_verdicts": _q_suite_compare,
        "suite_expr_verdicts": _q_suite_expr,
        "observed_verdicts": _q_observed,
        "suite_profile_verdicts": _q_suite_profile,
        "suite_fingerprint": _q_suite_fingerprint,
        "fd_violations": _q_fd_violations,
        "suite_fd_verdicts": _q_suite_fd,
        "url_canon": _q_url_canon,
        "html_extract": _q_html_extract,
        "heavy_hitters": _q_heavy_hitters,
        "repetition_metrics": _q_repetition,
        "crossdoc_ngram": _q_crossdoc_ngram,
        "lm_scores": _q_lm_scores,
        "lm_scores_crosstrain": _q_lm_scores_crosstrain,
        "lm_scores_incremental": _q_lm_scores_incremental,
        "suite_lm_verdicts": _q_suite_lm,
        "source_mix": _q_source_mix,
        "shard_manifest": _q_shard_manifest,
        "line_dedup_stats": _q_line_dedup_stats,
        "line_dedup_strip": _q_line_dedup_strip,
        "domain_cap": _q_domain_cap,
        "token_budget_cut": _q_token_budget_cut,
        "suite_linedup_verdicts": _q_suite_linedup,
        "contamination": _q_contamination,
        "outlier_counts": _q_outlier_counts,
        "col_profile": _q_col_profile,
        "suggest_constraints": _q_suggest_constraints,
        "metric_anomalies": _q_metric_anomalies,
        "quarantine": _q_quarantine,
        "quarantine_gopher": _q_quarantine_gopher,
        "quarantine_encoding": _q_quarantine_encoding,
        "pack_contract": _q_pack_contract,
        "embedding_stats": _q_embedding_stats,
        "train_split": _q_train_split,
        "tdigest_quantiles": _q_tdigest,
        "partition_fingerprint": _q_partition_fp,
        "changed_partitions": _q_changed_partitions,
        # xxhash64-simhash / seeded-LSH values have no DuckDB twin, so
        # these three emit their structural CONTRACTS instead
        # (planted-dup coverage, banded-vs-exact equality, recall ≥
        # 0.9 vs an in-plan brute-force twin) as DuckDB-re-derivable
        # counts + booleans — the approx_stats pattern; the raw
        # pair/top-k outputs stay pytest-covered
        # (tests/test_dedup_similarity.py, tests/test_entry_lsh.py)
        "simhash_neardup": _q_simhash,
        "simhash_hamming": _q_simhash_hamming,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk,
    }


# DuckDB twins of the three text-metric entries — module constants so
# the fused text_metrics oracle can recompose them as CTEs
_TOKEN_STATS_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
       round(list_sum(list_transform(regexp_extract_all(text, '\S+'), w -> length(w))) * 1.0
             / nullif(len(regexp_extract_all(text, '\S+')), 0), 4) AS mean_word_len,
       round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) * 1.0
             / nullif(length(regexp_replace(text, '\s', '', 'g')), 0), 6) AS punct_ratio,
       round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / nullif(length(regexp_replace(text, '\s', '', 'g')), 0), 6) AS digit_ratio
FROM documents"""

_QUALITY_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\S+')) * 1.0 AS n_tok,
         coalesce(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) * 1.0
                  / nullif(length(regexp_replace(text, '\s', '', 'g')), 0), 0.0) AS p,
         coalesce(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                  / nullif(length(regexp_replace(text, '\s', '', 'g')), 0), 0.0) AS d,
         coalesce(list_sum(list_transform(regexp_extract_all(text, '\S+'), w -> length(w))) * 1.0
                  / nullif(len(regexp_extract_all(text, '\S+')), 0), 0.0) AS mwl,
         coalesce(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) * 1.0
                  / nullif(len(regexp_extract_all(text, '\S+')), 0), 0.0) AS sw
  FROM documents
)
SELECT doc_id,
       CASE WHEN n_tok IS NULL THEN NULL ELSE
       round(0.35 * least(n_tok / 100.0, 1.0)
             + 0.3 * greatest(0.0, 1.0 - 2.0 * (p + d))
             + 0.15 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END)
             + 0.2 * least(sw * 5.0, 1.0), 6) END AS quality
FROM base"""

_LANGID_ORACLE = r"""
SELECT doc_id,
  CASE
    WHEN text IS NULL THEN NULL
    WHEN len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|mit|auf)\b'))
     AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) >= len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|des|du|que|pour)\b'))
     AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) >= len(regexp_extract_all(lower(text), '\b(el|la|los|las|y|es|una|del|que|por)\b'))
     AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that|it|for)\b')) > 0 THEN 'en'
    WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|mit|auf)\b')) >= len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|des|du|que|pour)\b'))
     AND len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|mit|auf)\b')) >= len(regexp_extract_all(lower(text), '\b(el|la|los|las|y|es|una|del|que|por)\b'))
     AND len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|zu|mit|auf)\b')) > 0 THEN 'de'
    WHEN len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|des|du|que|pour)\b')) >= len(regexp_extract_all(lower(text), '\b(el|la|los|las|y|es|una|del|que|por)\b'))
     AND len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|des|du|que|pour)\b')) > 0 THEN 'fr'
    WHEN len(regexp_extract_all(lower(text), '\b(el|la|los|las|y|es|una|del|que|por)\b')) > 0 THEN 'es'
    ELSE 'und'
  END AS lang_guess
FROM documents"""



# THE exact-Jaccard pair + recursive connected-components CTE chain
# shared by dup_clusters / neardup_strip / cluster_incremental /
# suite_neardup_verdicts: ONE definition of the planted-duplicate
# corpus, the 3-gram shingle set, the inverted-index pair Jaccard
# (threshold 0.8) and the min-id component labels, so the four
# oracles that promise "the same pair/component derivation" cannot
# drift apart (the _VERSIONS_CTE / _LM_SELF_SQL_CTES precedent).
_JACCARD_COMPONENTS_CTES = r"""WITH RECURSIVE docs AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
),
w AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM docs WHERE text IS NOT NULL),
g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM w WHERE len(ws) >= 3),
n AS (SELECT doc_id, len(sh) AS n FROM g),
t AS (SELECT doc_id, unnest(sh) AS tok FROM g),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
j AS (SELECT id_a, id_b,
             round(inter * 1.0 / nullif(na.n + nb.n - inter, 0), 6) AS jaccard
      FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b),
e AS (SELECT id_a AS a, id_b AS b FROM j WHERE jaccard >= 0.8
      UNION
      SELECT id_b AS a, id_a AS b FROM j WHERE jaccard >= 0.8),
nodes AS (SELECT DISTINCT a AS node FROM e),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.b AS node, reach.r FROM reach JOIN e ON e.a = reach.node
),
comp AS (SELECT node AS id, min(r) AS component FROM reach GROUP BY node)"""


def oracle_sql() -> dict[str, str]:
    from data_check_spark.functions.html import html_to_text_sql
    from data_check_spark.functions.urls import canonical_url_sql

    eps = "0.000001"
    return {
        "pk_census": _VERSIONS_CTE + """
SELECT count(*) AS total_rows,
       count(*) FILTER (WHERE a.o_orderkey IS NULL) AS missing_primary_keys_table1,
       count(*) FILTER (WHERE b.o_orderkey IS NULL) AS missing_primary_keys_table2,
       round(count(*) FILTER (WHERE a.o_orderkey IS NULL) * 1.0 / count(*), 6) AS missing_primary_keys_table1_ratio,
       round(count(*) FILTER (WHERE b.o_orderkey IS NULL) * 1.0 / count(*), 6) AS missing_primary_keys_table2_ratio
FROM t1 a FULL OUTER JOIN t2 b ON a.o_orderkey = b.o_orderkey""",
        "exclusive_pks_1": _VERSIONS_CTE + f"""
SELECT o_orderkey, {', '.join(f'{c} AS {c}__1' for c in _ORDERS_COLS)}
FROM t1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t2)
ORDER BY o_orderkey LIMIT 500""",
        "exclusive_pks_2": _VERSIONS_CTE + f"""
SELECT o_orderkey, {', '.join(f'{c} AS {c}__2' for c in _ORDERS_COLS)}
FROM t2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t1)
ORDER BY o_orderkey LIMIT 500""",
        "column_match_ratios": _ratio_oracle(),
        "row_diff": _VERSIONS_CTE + """
SELECT a.o_orderkey,
       a.o_orderstatus AS o_orderstatus__1, b.o_orderstatus AS o_orderstatus__2,
       a.o_orderpriority AS o_orderpriority__1, b.o_orderpriority AS o_orderpriority__2
FROM t1 a JOIN t2 b USING (o_orderkey)
WHERE coalesce(a.o_orderstatus, 'none') <> coalesce(b.o_orderstatus, 'none')
   OR coalesce(a.o_orderpriority, 'none') <> coalesce(b.o_orderpriority, 'none')""",
        "unique_violations": """
SELECT l_orderkey AS key_value, count(*) AS n
FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1""",
        "refint_violations": """
SELECT l_partkey AS ref_key, count(*) AS n_rows
FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 10 <> 4)
GROUP BY l_partkey""",
        "refint_hashed": """
SELECT l_partkey AS ref_key, count(*) AS n_rows
FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 10 <> 4)
GROUP BY l_partkey""",
        "refint_bloom": """
SELECT l_partkey AS ref_key, count(*) AS n_rows
FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 10 <> 4)
GROUP BY l_partkey""",
        "stats_documents": _stats_oracle(),
        "psi_lang": f"""
WITH f1 AS (SELECT lang AS category, count(*) * 1.0 / (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS p
            FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
     f2 AS (SELECT lang AS category, count(*) * 1.0 / (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS q
            FROM documents WHERE doc_id % 2 = 1 GROUP BY lang),
     j AS (SELECT coalesce(p, {eps}) AS p, coalesce(q, {eps}) AS q
           FROM f1 FULL OUTER JOIN f2
           ON f1.category IS NOT DISTINCT FROM f2.category)
SELECT round(sum((p - q) * ln(p / q)), 6) AS psi, count(*) AS n_categories FROM j""",
        "psi_nchars": f"""
WITH h1 AS (SELECT greatest(0, least(19, CAST(floor(n_chars / 30.0) AS INT))) AS bucket, count(*) AS n
            FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1),
     h2 AS (SELECT greatest(0, least(19, CAST(floor(n_chars / 30.0) AS INT))) AS bucket, count(*) AS n
            FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
     f1 AS (SELECT bucket, n * 1.0 / (SELECT sum(n) FROM h1) AS p FROM h1),
     f2 AS (SELECT bucket, n * 1.0 / (SELECT sum(n) FROM h2) AS q FROM h2),
     j AS (SELECT coalesce(p, {eps}) AS p, coalesce(q, {eps}) AS q
           FROM f1 FULL OUTER JOIN f2 USING (bucket))
SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM j""",
        "hist_nchars": """
WITH h AS (SELECT greatest(0, least(19, CAST(floor(n_chars / 30.0) AS INT))) AS bucket, count(*) AS n
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1)
SELECT bucket, n, round(n * 1.0 / (SELECT sum(n) FROM h), 6) AS freq FROM h""",
        "ks_nchars": """
WITH h1 AS (SELECT greatest(0, least(59, CAST(floor(n_chars / 10.0) AS INT))) AS bucket, count(*) AS n
            FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1),
     h2 AS (SELECT greatest(0, least(59, CAST(floor(n_chars / 10.0) AS INT))) AS bucket, count(*) AS n
            FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
     f1 AS (SELECT bucket, n * 1.0 / (SELECT sum(n) FROM h1) AS p FROM h1),
     f2 AS (SELECT bucket, n * 1.0 / (SELECT sum(n) FROM h2) AS q FROM h2),
     j AS (SELECT coalesce(f1.bucket, f2.bucket) AS bucket, coalesce(p, 0) AS p, coalesce(q, 0) AS q
           FROM f1 FULL OUTER JOIN f2 ON f1.bucket = f2.bucket),
     cdf AS (SELECT sum(p) OVER (ORDER BY bucket) - sum(q) OVER (ORDER BY bucket) AS d FROM j)
SELECT round(max(abs(d)), 6) AS ks FROM cdf""",
        "sample_aligned": "SELECT o_orderkey FROM orders WHERE o_orderkey % 100 < 10",
        "dedup_exact": _DOCS_DUPS_CTE + """
SELECT md5(text) AS text_hash, count(*) AS n,
       array_to_string(list_transform(list_slice(list_sort(list(doc_id)), 1, 5),
                                      x -> CAST(x AS VARCHAR)), ',') AS doc_ids
FROM docs WHERE text IS NOT NULL
GROUP BY md5(text) HAVING count(*) > 1""",
        "ngram_jaccard": r"""
WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents),
     g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh FROM w),
     p AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents WHERE doc_id % 10 = 0),
     j AS (SELECT id_a, id_b, ga.sh AS sa, gb.sh AS sb
           FROM p JOIN g ga ON ga.doc_id = p.id_a JOIN g gb ON gb.doc_id = p.id_b)
SELECT id_a, id_b,
       round(len(list_intersect(sa, sb)) * 1.0
             / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM j""",
        "knn_bruteforce": """
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                     c.vec_id) AS INT) AS rank
FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
WHERE q.vec_id < 5
QUALIFY rank <= 5""",
        "cosine_neardup": """
WITH aug AS (
  SELECT * FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding, label FROM embeddings WHERE vec_id % 25 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.99""",
        "token_stats": _TOKEN_STATS_ORACLE,
        "quality_scores": _QUALITY_ORACLE,
        "langid": _LANGID_ORACLE,
        # declared-vs-detected agreement over the same lang_guess twin
        "lang_mismatch": f"""
WITH l AS ({_LANGID_ORACLE})
SELECT d.lang,
       count(*) AS n_docs,
       count(*) FILTER (WHERE l.lang_guess <> d.lang) AS n_mismatch,
       round((count(*) FILTER (WHERE l.lang_guess <> d.lang)) * 1.0
             / count(*), 6) AS mismatch_rate
FROM documents d JOIN l ON l.doc_id = d.doc_id
GROUP BY d.lang""",
        # utf8proc NFC must agree with Python unicodedata byte-for-byte
        "text_normalize": r"""
WITH p AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 9 = 2 THEN 'e' || chr(769) ELSE '' END
           || CASE WHEN doc_id % 9 = 4 THEN chr(8203) || 'x' || chr(173) ELSE '' END
           AS t
  FROM documents
),
c AS (
  SELECT doc_id, t,
         nfc_normalize(regexp_replace(
           t, '[\x{200B}\x{200C}\x{200D}\x{00AD}\x{FEFF}]', '', 'g')) AS canon
  FROM p
)
SELECT doc_id, md5(canon) AS canon_hash, canon <> t AS changed
FROM c""",
        # fused single-pass twin of the three entries above: same
        # expressions, one scan (functions/textstats.add_text_metrics)
        "text_metrics": f"""
WITH tok AS ({_TOKEN_STATS_ORACLE}),
q AS ({_QUALITY_ORACLE}),
l AS ({_LANGID_ORACLE})
SELECT tok.doc_id, tok.n_tokens, tok.n_bpe_tokens, tok.mean_word_len,
       tok.punct_ratio, tok.digit_ratio, q.quality, l.lang_guess
FROM tok JOIN q USING (doc_id) JOIN l USING (doc_id)""",
        "fingerprint": r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '\S+'))), ' ')) AS fp
FROM documents""",
        "sql_source": """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 100000""",
        "array_canon": r"""
SELECT doc_id,
       array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '\S+'))), ',') AS canon
FROM documents""",
        "sketch_quantiles": """
WITH w AS (
  SELECT least(599, greatest(0, CAST(floor(n_chars) AS INT))) AS idx, count(*) AS wt
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
),
c AS (SELECT idx, CAST(idx + 0.5 AS DOUBLE) AS center,
             sum(wt) OVER (ORDER BY idx) AS cum
      FROM w),
t AS (SELECT sum(wt) AS total FROM w)
SELECT q, (SELECT min(center) FROM c, t WHERE cum >= q * total) AS value
FROM (SELECT unnest([0.25, 0.5, 0.9]::DOUBLE[]) AS q)""",
        "percentiles": """
SELECT round(quantile_cont(n_chars, 0.25), 4) AS p25,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90
FROM documents""",
        "events_hourly": """
WITH g AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS s,
         count(value) AS c
  FROM events GROUP BY 1, 2)
SELECT hour, event_type, n,
       CAST((2 * s * 10000 + c * 1000000) // (2 * c * 1000000) AS DOUBLE) / 10000 AS avg_value,
       CAST((2 * s + 10000) // 20000 AS DOUBLE) / 100 AS sum_value
FROM g""",
        "asof_join_events": """
WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'view')
SELECT l.event_id, l.user_id, l.ts, l.value,
       (SELECT r.ts FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS ts_asof,
       (SELECT r.value FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS value_asof,
       (SELECT r.event_id FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
        ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS event_id_asof
FROM l""",
        "range_join_events": """
WITH p AS (SELECT event_id AS click_id, ts FROM events WHERE event_type = 'click'),
     iv AS (SELECT event_id AS error_id, ts AS start_ts,
                   ts + INTERVAL 120 SECOND AS end_ts
            FROM events WHERE event_type = 'error')
SELECT p.click_id, iv.error_id, p.ts, iv.start_ts
FROM p JOIN iv ON p.ts >= iv.start_ts AND p.ts <= iv.end_ts""",
        "sessionize_events": """
WITH o AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events),
     s AS (
  SELECT user_id, ts, value,
         CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 7200000000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
  FROM o)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM s GROUP BY user_id, session_seq""",
        "pii_scan": """
WITH dirty AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              WHEN doc_id % 11 = 0
                THEN text || ' visit https://example.org/p/' || CAST(doc_id AS VARCHAR)
                     || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
              ELSE text END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9./_%?=&:#~+@-]+')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
       CAST(length(
         regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[A-Za-z0-9./_%?=&:#~+@-]+', '<URL>', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IPV4>', 'g')) AS INT) AS n_chars_clean
FROM dirty""",
        "stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':dcs-strat'), 1, 2) <
      CASE lang WHEN 'en' THEN '80' WHEN 'fr' THEN '40'
                WHEN 'zh' THEN '20' ELSE '10' END""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "window_topk_orders": """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
FROM orders QUALIFY rn <= 3""",
        "schema_diff": """
WITH s1 AS (SELECT column_name AS col,
                   CASE lower(data_type) WHEN 'varchar' THEN 'string'
                                         WHEN 'integer' THEN 'int'
                                         WHEN 'timestamp' THEN 'timestamp_ntz'
                                         ELSE lower(data_type) END AS t
            FROM information_schema.columns WHERE table_name = 'orders'),
     s2 AS (SELECT column_name AS col,
                   CASE lower(data_type) WHEN 'varchar' THEN 'string'
                                         WHEN 'integer' THEN 'int'
                                         WHEN 'timestamp' THEN 'timestamp_ntz'
                                         ELSE lower(data_type) END AS t
            FROM information_schema.columns WHERE table_name = 'lineitem'),
j AS (SELECT coalesce(s1.col, s2.col) AS c, s1.t AS type_1, s2.t AS type_2
      FROM s1 FULL OUTER JOIN s2 ON s1.col = s2.col)
SELECT c AS "column",
       CASE WHEN type_1 IS NULL THEN 'exclusive_2'
            WHEN type_2 IS NULL THEN 'exclusive_1'
            WHEN type_1 <> type_2 THEN 'type_mismatch'
            ELSE 'common' END AS status,
       type_1, type_2
FROM j""",
        # avg octet_length: exact integer sums divided once per group
        "suite_bytes_verdicts": """
WITH b AS (
  SELECT CAST(source AS VARCHAR) AS part,
         avg(octet_length(encode(text))) AS ab
  FROM documents GROUP BY 1
),
v AS (
  SELECT part, 'text' AS col, 'min_avg_bytes' AS chk, ab AS metric,
         10.0 AS threshold, coalesce(ab >= 10.0, FALSE) AS passed FROM b
  UNION ALL
  SELECT part, 'text', 'max_avg_bytes', ab, 100000.0,
         coalesce(ab <= 100000.0, FALSE) FROM b
),
summary AS (
  SELECT part, '*' AS col, 'all' AS chk,
         CAST(count(*) FILTER (WHERE NOT passed) AS DOUBLE) AS metric,
         0.0 AS threshold,
         count(*) FILTER (WHERE NOT passed) = 0 AS passed
  FROM v GROUP BY part
)
SELECT part AS "partition", col AS "column", chk AS "check",
       metric, threshold, passed
FROM (SELECT * FROM v UNION ALL SELECT * FROM summary)""",
        "suite_verdicts": """
WITH base AS (
  SELECT CAST(source AS VARCHAR) AS part,
         count(*) AS n_rows,
         count(*) FILTER (WHERE text IS NULL) * 1.0 / count(*) AS nr_text,
         count(*) FILTER (WHERE lang IS NULL) * 1.0 / count(*) AS nr_lang,
         count(DISTINCT lang) AS nd_lang
  FROM documents GROUP BY 1
),
dups AS (
  SELECT part, CAST(count(*) AS DOUBLE) AS dup_keys FROM (
    SELECT CAST(source AS VARCHAR) AS part, doc_id, count(*) AS c
    FROM documents GROUP BY 1, 2 HAVING count(*) > 1
  ) GROUP BY 1
),
b AS (SELECT base.*, coalesce(dup_keys, 0.0) AS dup_keys FROM base LEFT JOIN dups USING (part)),
v AS (
  SELECT part, 'text' AS col, 'max_null_rate' AS chk, nr_text AS metric, 0.05 AS threshold, nr_text <= 0.05 AS passed FROM b
  UNION ALL SELECT part, 'text', 'min_rows', CAST(n_rows AS DOUBLE), 1.0, n_rows >= 1 FROM b
  UNION ALL SELECT part, 'lang', 'max_null_rate', nr_lang, 0.05, nr_lang <= 0.05 FROM b
  UNION ALL SELECT part, 'lang', 'min_distinct', CAST(nd_lang AS DOUBLE), 2.0, nd_lang >= 2 FROM b
),
summary AS (
  SELECT part, '*' AS col, 'all' AS chk,
         CAST(count(*) FILTER (WHERE NOT passed) AS DOUBLE) AS metric,
         0.0 AS threshold,
         count(*) FILTER (WHERE NOT passed) = 0 AS passed
  FROM v GROUP BY part
),
uniq AS (
  SELECT part, 'doc_id' AS col, 'unique' AS chk, dup_keys AS metric, 0.0 AS threshold, dup_keys <= 0 AS passed FROM b
)
SELECT part AS "partition", col AS "column", chk AS "check", metric, threshold, passed
FROM (SELECT * FROM v UNION ALL SELECT * FROM summary UNION ALL SELECT * FROM uniq)""",
        "suite_profile_verdicts": """
WITH src AS (
  SELECT CASE WHEN doc_id % 17 = 3 THEN NULL ELSE lang END AS lang, source
  FROM documents
), lc AS (
  SELECT lang AS v, count(*) AS n FROM src WHERE lang IS NOT NULL GROUP BY lang
), lm AS (
  SELECT CAST(sum(n) AS DOUBLE) AS nt, max(n) AS mx,
         sum(n * log2(CAST(n AS DOUBLE))) AS snl
  FROM lc
), sm AS (
  SELECT count(DISTINCT source) AS nd FROM src WHERE source IS NOT NULL
)
SELECT '*' AS "partition", 'lang' AS "column", 'profile_entropy' AS "check",
       round(log2(nt) - snl / nt, 6) AS metric, 1.0 AS threshold,
       round(log2(nt) - snl / nt, 6) >= 1.0 AS passed FROM lm
UNION ALL
SELECT '*', 'lang', 'profile_mode_share', mx / nt, 0.6, mx / nt <= 0.6 FROM lm
UNION ALL
SELECT '*', 'source', 'profile_max_distinct', CAST(nd AS DOUBLE), 3.0, nd <= 3 FROM sm
UNION ALL
SELECT '*', 'source', 'profile_min_distinct', CAST(nd AS DOUBLE), 2.0, nd >= 2 FROM sm
ORDER BY "column", "check" """,
        "observed_verdicts": """
WITH b AS (
  SELECT count(*) AS n_rows,
         count(*) FILTER (WHERE text IS NULL) AS n_null,
         avg(octet_length(encode(text))) AS ab,
         count(*) FILTER (WHERE NOT coalesce(n_chars >= 0, FALSE)) AS x_nonneg,
         count(*) FILTER (WHERE NOT coalesce(lang IN ('en','de','fr','es'), FALSE)) AS x_lang,
         count(*) FILTER (WHERE NOT coalesce(length(text) < n_chars, FALSE)) AS x_short
  FROM documents
),
v AS (
  SELECT '*' AS part, 'text' AS col, 'max_null_rate' AS chk,
         n_null * 1.0 / n_rows AS metric, 0.05 AS threshold,
         n_null * 1.0 / n_rows <= 0.05 AS passed FROM b
  UNION ALL SELECT '*', 'text', 'min_avg_bytes', ab, 10.0,
         coalesce(ab >= 10.0, FALSE) FROM b
  UNION ALL SELECT '*', 'text', 'min_rows', CAST(n_rows AS DOUBLE), 1.0,
         n_rows >= 1 FROM b
),
summary AS (
  SELECT '*' AS part, '*' AS col, 'all' AS chk,
         CAST(count(*) FILTER (WHERE NOT passed) AS DOUBLE) AS metric,
         0.0 AS threshold,
         count(*) FILTER (WHERE NOT passed) = 0 AS passed
  FROM v
),
x AS (
  SELECT '*' AS part, 'nchars_nonneg' AS col, 'expr' AS chk,
         x_nonneg * 1.0 / n_rows AS metric, 0.0 AS threshold,
         x_nonneg * 1.0 / n_rows <= 0.0 AS passed FROM b
  UNION ALL SELECT '*', 'lang_known', 'expr',
         x_lang * 1.0 / n_rows, 0.9, x_lang * 1.0 / n_rows <= 0.9 FROM b
  UNION ALL SELECT '*', 'text_short', 'expr',
         x_short * 1.0 / n_rows, 0.0, x_short * 1.0 / n_rows <= 0.0 FROM b
)
SELECT part AS "partition", col AS "column", chk AS "check",
       metric, threshold, passed
FROM (SELECT * FROM v UNION ALL SELECT * FROM summary UNION ALL SELECT * FROM x)""",
        "suite_expr_verdicts": """
WITH base AS (
  SELECT CAST(source AS VARCHAR) AS part,
         count(*) AS n_rows,
         count(*) FILTER (WHERE text IS NULL) * 1.0 / count(*) AS nr_text,
         count(*) FILTER (WHERE NOT coalesce(n_chars >= 0, FALSE)) AS x_nonneg,
         count(*) FILTER (WHERE NOT coalesce(length(text) = n_chars, FALSE)) AS x_len,
         count(*) FILTER (WHERE NOT coalesce(lang IN ('en','de','fr','es'), FALSE)) AS x_lang
  FROM documents GROUP BY 1
),
v AS (
  SELECT part, 'text' AS col, 'max_null_rate' AS chk,
         nr_text AS metric, 0.05 AS threshold, nr_text <= 0.05 AS passed
  FROM base
),
summary AS (
  SELECT part, '*' AS col, 'all' AS chk,
         CAST(count(*) FILTER (WHERE NOT passed) AS DOUBLE) AS metric,
         0.0 AS threshold,
         count(*) FILTER (WHERE NOT passed) = 0 AS passed
  FROM v GROUP BY part
),
x AS (
  SELECT part, 'nchars_nonneg' AS col, 'expr' AS chk,
         x_nonneg * 1.0 / n_rows AS metric, 0.0 AS threshold,
         x_nonneg * 1.0 / n_rows <= 0.0 AS passed FROM base
  UNION ALL
  SELECT part, 'text_len_matches', 'expr',
         x_len * 1.0 / n_rows, 0.5, x_len * 1.0 / n_rows <= 0.5 FROM base
  UNION ALL
  SELECT part, 'lang_known', 'expr',
         x_lang * 1.0 / n_rows, 0.9, x_lang * 1.0 / n_rows <= 0.9 FROM base
)
SELECT part AS "partition", col AS "column", chk AS "check", metric, threshold, passed
FROM (SELECT * FROM v UNION ALL SELECT * FROM summary UNION ALL SELECT * FROM x)""",
        "suite_fingerprint": f"""
WITH h AS (
  SELECT CAST(source AS VARCHAR) AS part,
         md5(concat_ws('|', {_fp_enc_sql('doc_id')}, {_fp_enc_sql('text')}, {_fp_enc_sql('lang')})) AS h
  FROM documents),
f AS (SELECT part, COUNT(*) AS n_rows, {_FP_LANES_SQL} FROM h GROUP BY part)
SELECT part AS "partition", n_rows,
       CAST(fp_lo AS VARCHAR) AS fp_lo, CAST(fp_hi AS VARCHAR) AS fp_hi
FROM f""",
        "fd_violations": """
WITH p AS (
  SELECT 'doc' || CAST(doc_id % 31 AS VARCHAR) AS url, text FROM documents
)
SELECT url,
       CAST(count(DISTINCT text)
            + (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_variants,
       count(*) AS n_rows
FROM p GROUP BY url
HAVING count(DISTINCT text)
       + (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END) > 1""",
        "suite_fd_verdicts": """
WITH p AS (
  SELECT 'p' || CAST(doc_id % 5 AS VARCHAR) AS part,
         'doc' || CAST(doc_id % 31 AS VARCHAR) AS url, text
  FROM documents
),
v AS (
  SELECT part, url FROM p GROUP BY part, url
  HAVING count(DISTINCT text)
         + (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END) > 1
),
c AS (SELECT part, CAST(count(*) AS DOUBLE) AS metric FROM v GROUP BY part)
SELECT pa.part AS "partition", 'url' AS "column", 'fd' AS "check",
       coalesce(c.metric, 0.0) AS metric, 0.0 AS threshold,
       coalesce(c.metric, 0.0) <= 0.0 AS passed
FROM (SELECT DISTINCT 'p' || CAST(doc_id % 5 AS VARCHAR) AS part FROM documents) pa
LEFT JOIN c USING (part)""",
        "url_canon": f"""
WITH raw AS (
  SELECT (CASE WHEN doc_id % 3 = 0 THEN 'http://Example.COM'
               WHEN doc_id % 3 = 1 THEN 'http://example.com:80'
               ELSE 'HTTP://EXAMPLE.com' END)
         || '/p/' || CAST(doc_id % 17 AS VARCHAR)
         || (CASE WHEN doc_id % 4 = 0 THEN ''
                  WHEN doc_id % 4 = 1 THEN '?utm_source=x&b=2&a=1'
                  WHEN doc_id % 4 = 2 THEN '?a=1&b=2'
                  ELSE '?b=2&utm_medium=y&a=1#frag' END) AS url
  FROM documents
),
c AS (SELECT url, {canonical_url_sql('url')} AS url_canon FROM raw)
SELECT url_canon, count(*) AS n_rows, count(DISTINCT url) AS n_raw_forms
FROM c GROUP BY url_canon""",
        "html_extract": f"""
WITH raw AS (
  SELECT doc_id, lang, substr(text, 1, 160) AS body,
         '<html><head><title>' || coalesce(lang, '')
         || '</title><style>p{{margin:0}}</style>'
         || '<script>if(1<2){{var x="<p>"}}</script></head><body><!-- id '
         || CAST(doc_id AS VARCHAR) || ' --><p>'
         || replace(replace(replace(substr(text, 1, 160),
                    '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
         || '</p></body></html>' AS page
  FROM documents WHERE doc_id < 400
),
e AS (
  SELECT doc_id,
         {html_to_text_sql("decode(encode(page))")} AS extracted,
         trim(regexp_replace(coalesce(lang, '') || ' ' || body,
              '[ \t\n\f\r]+', ' ', 'g')) AS expected
  FROM raw
)
SELECT doc_id, extracted,
       ((extracted IS NULL AND expected IS NULL)
        OR extracted = expected) AS matches_expected
FROM e""",
        "heavy_hitters": """
SELECT event_type, user_id, n, rank FROM (
  SELECT event_type, user_id, count(*) AS n,
         row_number() OVER (
           PARTITION BY event_type ORDER BY count(*) DESC, user_id
         ) AS rank
  FROM events GROUP BY event_type, user_id
) WHERE rank <= 10""",
        "suite_compare_verdicts": _VERSIONS_CTE + f""",
cen AS (
  SELECT round(count(*) FILTER (WHERE a.o_orderkey IS NULL) * 1.0 / count(*), 6) AS m1,
         round(count(*) FILTER (WHERE b.o_orderkey IS NULL) * 1.0 / count(*), 6) AS m2
  FROM t1 a FULL OUTER JOIN t2 b ON a.o_orderkey = b.o_orderkey
),
rat AS ({_ratio_body()})
SELECT '*' AS "partition", 'o_orderkey' AS "column", 'pk_missing_ratio_1' AS "check",
       m1 AS metric, 0.01 AS threshold, m1 <= 0.01 AS passed FROM cen
UNION ALL
SELECT '*', 'o_orderkey', 'pk_missing_ratio_2', m2, 0.01, m2 <= 0.01 FROM cen
UNION ALL
SELECT '*', "column", 'ratio_equal', ratio_equal, 0.95,
       coalesce(ratio_equal >= 0.95, FALSE) FROM rat""",
        # GENUINE exact twin for the LSH path: recall on the seeded
        # sf0.01 data is exactly 1.0 (verified by
        # scripts/exp_lsh_oracle.py @ 415cb3d — deterministic
        # signatures), so the banded-LSH candidate generation +
        # exact-Jaccard verification must reproduce the exact
        # all-pairs answer bit-for-bit.
        "minhash_incremental": r"""
SELECT count(*) AS n_planted, TRUE AS planted_all_found
FROM documents
WHERE doc_id % 2 = 1 AND doc_id % 10 = 5
  AND text IS NOT NULL AND regexp_matches(text, '(\S+\s+){2}\S')""",
        "dedup_incremental": """
WITH stored AS (
  SELECT doc_id AS id, md5(text) AS text_hash
  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
),
per_hash AS (
  SELECT text_hash, count(*) AS n_stored,
         array_to_string(list_sort(list(id))[1:5], ',') AS stored_ids
  FROM stored GROUP BY text_hash
),
new AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 2 = 1 AND doc_id % 10 = 5 AND text IS NOT NULL
)
SELECT n.doc_id AS id_new, p.text_hash, p.n_stored, p.stored_ids
FROM new n JOIN per_hash p ON md5(n.text) = p.text_hash
WHERE n.text IS NOT NULL""",
        "minhash_pairs": r"""
WITH docs AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
),
w AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM docs WHERE text IS NOT NULL),
g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      FROM w WHERE len(ws) >= 3),
-- inverted-index formulation of the exact all-pairs Jaccard: unnest
-- shingles, equi-join on shingle, count shared shingles per pair —
-- identical answers to the naive quadratic join with per-pair
-- list_intersect, but hash-join/agg work only (the quadratic form ran
-- ~45 min single-threaded at sf0.1; this runs in seconds)
n AS (SELECT doc_id, len(sh) AS n FROM g),
t AS (SELECT doc_id, unnest(sh) AS tok FROM g),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
j AS (SELECT id_a, id_b,
             round(inter * 1.0 / nullif(na.n + nb.n - inter, 0), 6) AS jaccard
      FROM p JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8""",
        # same exact-Jaccard pair derivation as minhash_pairs, then
        # min-reachable-id per node via a recursive CTE — the
        # declarative twin of the large-star/small-star labels
        # (component = min id in component on both engines)
        "dup_clusters": _JACCARD_COMPONENTS_CTES + r""",
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT c.id, c.component, (c.id = c.component) AS is_exemplar, s.cluster_size
FROM comp c JOIN sizes s USING (component)
ORDER BY c.id""",
        # same components CTE as dup_clusters; keep = unclustered OR exemplar
        "neardup_strip": _JACCARD_COMPONENTS_CTES + r"""
SELECT d.doc_id, d.lang, d.n_chars
FROM docs d LEFT JOIN comp c ON c.id = d.doc_id
WHERE c.id IS NULL OR c.id = c.component""",
        # planted scars re-derived with the same replace-length
        # arithmetic; chr() keeps the needles encoding-independent
        "encoding_scan": r"""
WITH planted AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 3 THEN chr(65533) ELSE '' END
              || CASE WHEN doc_id % 11 = 5 THEN chr(195) || chr(169) ELSE '' END
              || CASE WHEN doc_id % 13 = 6 THEN chr(1) ELSE '' END AS t
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(length(t) - length(replace(t, chr(65533), '')) AS INT) AS n_replacement,
    CAST((length(t) - length(replace(t, chr(195) || chr(169), ''))) / 2
       + (length(t) - length(replace(t, chr(195) || chr(168), ''))) / 2
       + (length(t) - length(replace(t, chr(195) || chr(164), ''))) / 2
       + (length(t) - length(replace(t, chr(195) || chr(182), ''))) / 2
       + (length(t) - length(replace(t, chr(195) || chr(188), ''))) / 2
       + (length(t) - length(replace(t, chr(226) || chr(8364) || chr(8482), ''))) / 3
       + (length(t) - length(replace(t, chr(226) || chr(8364) || chr(339), ''))) / 3
       AS INT) AS n_mojibake,
    CAST(len(regexp_extract_all(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS INT) AS n_control
  FROM planted
)
SELECT doc_id, n_replacement, n_mojibake, n_control,
       (n_replacement > 0 OR n_mojibake > 0 OR n_control > 0) AS enc_suspect
FROM m""",
        # the incremental path must land on the FULL recompute: same
        # components CTE as dup_clusters, labels only
        "cluster_incremental": _JACCARD_COMPONENTS_CTES + r"""
SELECT id, component FROM comp ORDER BY id""",
        # the suite's near-dup MASS verdict re-derived: same pair +
        # component derivation, then non-exemplar count / count(doc_id)
        "suite_neardup_verdicts": _JACCARD_COMPONENTS_CTES + r""",
dropped AS (SELECT count(*) AS d FROM comp WHERE id <> component),
tot AS (SELECT count(doc_id) AS t FROM docs)
SELECT '*' AS "partition", 'text' AS "column", 'neardup_frac' AS "check",
       round(d * 1.0 / nullif(t, 0), 6) AS metric,
       0.05 AS threshold,
       coalesce(round(d * 1.0 / nullif(t, 0), 6) <= 0.05, FALSE) AS passed
FROM dropped, tot""",
        # exact twin of the banded hyperplane-LSH near-dup: the planted
        # pairs are exact vector copies (cosine 1.0 -> identical sign
        # bits in every band), so LSH recall is structurally 1.0 here
        "cosine_neardup_lsh": """
WITH aug AS (
  SELECT * FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding, label FROM embeddings WHERE vec_id % 25 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.99""",
        "approx_stats": """
SELECT count(*) AS n_docs,
       count(DISTINCT lang) AS distinct_lang,
       TRUE AS hll_text_within_5pct,
       TRUE AS p50_within_1pct
FROM documents""",
        "suite_drift_profile": f"""
WITH f1 AS (SELECT lang AS k, count(*) * 1.0 / (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS p
            FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
     f2 AS (SELECT lang AS k, count(*) * 1.0 / (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS q
            FROM documents WHERE doc_id % 2 = 1 GROUP BY lang),
     jc AS (SELECT coalesce(p, {eps}) AS p, coalesce(q, {eps}) AS q
            FROM f1 FULL OUTER JOIN f2 ON f1.k IS NOT DISTINCT FROM f2.k),
     h1 AS (SELECT greatest(0, least(19, CAST(floor(n_chars / 30.0) AS INT))) AS b, count(*) AS n
            FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1),
     h2 AS (SELECT greatest(0, least(19, CAST(floor(n_chars / 30.0) AS INT))) AS b, count(*) AS n
            FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
     g1 AS (SELECT b, n * 1.0 / (SELECT sum(n) FROM h1) AS p FROM h1),
     g2 AS (SELECT b, n * 1.0 / (SELECT sum(n) FROM h2) AS q FROM h2),
     jn AS (SELECT coalesce(p, {eps}) AS p, coalesce(q, {eps}) AS q
            FROM g1 FULL OUTER JOIN g2 USING (b)),
     pc AS (SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM jc),
     pn AS (SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM jn)
SELECT '*' AS "partition", 'lang' AS "column", 'psi_categorical' AS "check",
       psi AS metric, 0.01 AS threshold, psi <= 0.01 AS passed FROM pc
UNION ALL
SELECT '*', 'n_chars_hist', 'psi_numeric', psi, 0.01, psi <= 0.01 FROM pn""",
        "suite_schema_verdicts": """
WITH cols AS (
  SELECT column_name AS name,
         CASE data_type WHEN 'VARCHAR' THEN 'string' WHEN 'BIGINT' THEN 'bigint'
              WHEN 'INTEGER' THEN 'int' WHEN 'DOUBLE' THEN 'double'
              WHEN 'TIMESTAMP' THEN 'timestamp' WHEN 'DATE' THEN 'date'
              WHEN 'BLOB' THEN 'binary' ELSE lower(data_type) END AS t
  FROM information_schema.columns WHERE table_name = 'documents'
),
exp(name, want) AS (VALUES
  ('doc_id','bigint'), ('lang','string'), ('missing_col','string'),
  ('n_chars','bigint'), ('source','double'), ('text','string'))
SELECT '*' AS "partition", exp.name AS "column",
       CASE WHEN c.t IS NULL THEN 'schema_missing' ELSE 'schema' END AS "check",
       CASE WHEN coalesce(c.t = want, FALSE) THEN 1.0 ELSE 0.0 END AS metric,
       1.0 AS threshold,
       coalesce(c.t = want, FALSE) AS passed
FROM exp LEFT JOIN cols c ON c.name = exp.name
ORDER BY "column\"""",
        "hll_distinct": """
SELECT col AS "column", exact_distinct,
       TRUE AS union_within_5pct, TRUE AS direct_within_5pct
FROM (
  SELECT 'doc_id' AS col, count(DISTINCT CAST(doc_id AS VARCHAR)) AS exact_distinct FROM documents WHERE doc_id IS NOT NULL
  UNION ALL
  SELECT 'text', count(DISTINCT text) FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT 'lang', count(DISTINCT lang) FROM documents WHERE lang IS NOT NULL
) ORDER BY col""",
        "repetition_metrics": r"""
WITH toks AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '\S+') AS t
  FROM documents
), g AS (
  SELECT doc_id, text,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              ELSE [] END AS g2,
         CASE WHEN len(t) >= 3
              THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS g3,
         list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
  FROM toks
), t2 AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, gg, count(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS gg FROM g) GROUP BY doc_id, gg
  ) GROUP BY doc_id
), t3 AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, gg, count(*) AS c
    FROM (SELECT doc_id, unnest(g3) AS gg FROM g) GROUP BY doc_id, gg
  ) GROUP BY doc_id
)
SELECT g.doc_id,
       round(1.0 - len(list_distinct(lines)) * 1.0 / nullif(len(lines), 0), 6) AS dup_line_frac,
       round(1.0 - len(list_distinct(g2)) * 1.0 / nullif(len(g2), 0), 6) AS dup_2gram_frac,
       round(1.0 - len(list_distinct(g3)) * 1.0 / nullif(len(g3), 0), 6) AS dup_3gram_frac,
       round(t2.topc * 1.0 / nullif(len(g2), 0), 6) AS top_2gram_frac,
       round(t3.topc * 1.0 / nullif(len(g3), 0), 6) AS top_3gram_frac
FROM g LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)""",
        "crossdoc_ngram": r"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents
), g AS (
  SELECT doc_id, md5(gram) AS h FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(ws) - 6),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                  || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]))) AS gram
    FROM w WHERE len(ws) >= 8)
), pg AS (
  SELECT h, count(DISTINCT doc_id) AS docs FROM g GROUP BY h
)
SELECT doc_id,
       count(*) FILTER (WHERE docs > 1) AS n_shared_ngrams,
       count(*) AS n_ngrams
FROM g JOIN pg USING (h) GROUP BY doc_id""",
        # bigram-LM twins: the scored columns are pure integer
        # arithmetic (HALF_UP quantization by `div`, exact sums) so
        # DuckDB re-derives them bit-exactly — HUGEINT mirrors the
        # Spark side's decimal(38,0) overflow headroom
        "lm_scores": _LM_SELF_SQL_CTES + r"""
SELECT doc_id,
       count(*) AS n_bigrams,
       count(*) FILTER (WHERE c_bg IS NULL) AS n_unseen,
       count(*) FILTER (WHERE COALESCE(c_bg, 0) <= 1) AS n_rare,
       CAST((2 * sum(q) + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000000 AS mean_p
FROM q GROUP BY doc_id""",
        "lm_scores_crosstrain": _LM_CROSSTRAIN_SQL,
        # merged shard-trained counts == whole-even-corpus counts, so
        # the incremental query shares the crosstrain oracle verbatim
        "lm_scores_incremental": _LM_CROSSTRAIN_SQL,
        # training-mix twin: DuckDB re-derives availability, the
        # HALF_UP-quantized plan (identical expression structure to
        # mixing.mix_plan), and each (row, epoch) md5-bucket decision
        "source_mix": r"""
WITH avail AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), w(source, wn) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
t AS (
  SELECT min(a.n * 3.0 / (w.wn / 10.0)) AS t
  FROM avail a JOIN w ON a.source = w.source
), plan AS (
  SELECT a.source,
         CAST(floor(t.t * (w.wn / 10.0) / a.n * 256 + 0.5) AS BIGINT) AS q
  FROM avail a JOIN w ON a.source = w.source CROSS JOIN t
), p2 AS (SELECT source, q // 256 AS nf, q % 256 AS bd FROM plan),
j AS (
  SELECT d.doc_id, d.source, p2.nf, p2.bd,
         CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':dcs-mix'), 1, 2)) AS BIGINT) AS bkt
  FROM documents d JOIN p2 ON d.source = p2.source
), e AS (
  SELECT doc_id, source, nf, bd, bkt, unnest(range(0, nf + 1)) AS epoch FROM j
)
SELECT source, epoch, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM e WHERE epoch < nf OR bkt < bd
GROUP BY source, epoch""",
        # LMCheck verdict twin: the same self-trained CTEs reduced to
        # the one '*' verdict row the suite emits
        "suite_lm_verdicts": _LM_SELF_SQL_CTES + r""",
s AS (
  SELECT doc_id,
         CAST((2 * sum(q) + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000000 AS mean_p
  FROM q GROUP BY doc_id
), agg AS (
  SELECT count(*) FILTER (WHERE mean_p < 0.032 OR mean_p > 1.0) AS d,
         count(*) AS t
  FROM s
)
SELECT '*' AS "partition", 'text' AS "column", 'lm_outlier_frac' AS "check",
       round(d * 1.0 / nullif(t, 0), 6) AS metric,
       0.4 AS threshold,
       coalesce(round(d * 1.0 / nullif(t, 0), 6) <= 0.4, FALSE) AS passed
FROM agg""",
        # shard-export manifest twin: md5-bucket shard ids (the
        # train_split md5 convention) + the partition_fingerprint
        # lane machinery, re-derived per shard
        "shard_manifest": f"""
WITH h AS (
  SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':dcs-shard'), 1, 15)) AS BIGINT) % 8 AS INT) AS shard,
         md5(concat_ws('|', {', '.join(_fp_enc_sql(c) for c in ['doc_id', 'text', 'lang', 'source', 'n_chars'])})) AS h
  FROM documents
)
SELECT shard, COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(('0x' || substring(h, 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS fp_lo,
       CAST(CAST(SUM(CAST(('0x' || substring(h, 16, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS fp_hi
FROM h GROUP BY shard""",
        # line-dedup twins: the multi-line corpus is PLANTED with the
        # exact expressions _lined_pages uses (concat_ws skips NULL
        # text identically in both engines)
        "line_dedup_stats": r"""
WITH src AS (
  SELECT doc_id,
         concat_ws(chr(10), 'About  Us', substring(text, 1, 40),
                   'Footer ' || CAST(doc_id % 7 AS VARCHAR), text) AS t
  FROM documents
), nl AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) AS h
  FROM (SELECT doc_id, unnest(regexp_split_to_array(t, '\n')) AS line FROM src)
  WHERE trim(regexp_replace(lower(line), '\s+', ' ', 'g')) <> ''
), ph AS (
  SELECT h, count(DISTINCT doc_id) AS docs FROM nl GROUP BY h
)
SELECT doc_id,
       count(*) AS n_lines,
       count(*) FILTER (WHERE docs >= 2) AS n_dup_lines
FROM nl JOIN ph USING (h) GROUP BY doc_id""",
        "suite_linedup_verdicts": r"""
WITH src AS (
  SELECT doc_id,
         concat_ws(chr(10), 'About  Us', substring(text, 1, 40),
                   'Footer ' || CAST(doc_id % 7 AS VARCHAR), text) AS t
  FROM documents
), nl AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) AS h
  FROM (SELECT doc_id, unnest(regexp_split_to_array(t, '\n')) AS line FROM src)
  WHERE trim(regexp_replace(lower(line), '\s+', ' ', 'g')) <> ''
), ph AS (
  SELECT h, count(DISTINCT doc_id) AS docs FROM nl GROUP BY h
), agg AS (
  SELECT count(*) FILTER (WHERE docs >= 2) AS d, count(*) AS t
  FROM nl JOIN ph USING (h)
)
SELECT '*' AS "partition", 'text' AS "column", 'dup_line_frac' AS "check",
       round(d * 1.0 / nullif(t, 0), 6) AS metric,
       0.3 AS threshold,
       coalesce(round(d * 1.0 / nullif(t, 0), 6) <= 0.3, FALSE) AS passed
FROM agg""",
        # the two-phase cut must equal ONE global running-sum window
        "token_budget_cut": r"""
WITH w AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':dcs-budget') AS h,
         CAST(coalesce(len(regexp_extract_all(text, '\S+')), 0) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM w
)
SELECT doc_id, n_tokens FROM c WHERE cum <= 20000""",
        "domain_cap": r"""
SELECT domain, doc_id FROM (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':dcs-cap'),
                                     doc_id) AS rn
  FROM (SELECT 'd' || CAST(doc_id % 31 AS VARCHAR) AS domain, doc_id
        FROM documents))
WHERE rn <= 5""",
        "line_dedup_strip": r"""
WITH src AS (
  SELECT doc_id,
         concat_ws(chr(10), 'About  Us', substring(text, 1, 40),
                   'Footer ' || CAST(doc_id % 7 AS VARCHAR), text) AS t
  FROM documents
), arr AS (
  SELECT doc_id, regexp_split_to_array(t, '\n') AS a FROM src
), nl AS (
  SELECT doc_id, pos, line,
         md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))) AS h
  FROM (SELECT doc_id, unnest(a) AS line,
               unnest(range(1, len(a) + 1)) AS pos FROM arr)
  WHERE trim(regexp_replace(lower(line), '\s+', ' ', 'g')) <> ''
), ph AS (
  SELECT h, count(DISTINCT doc_id) AS docs FROM nl GROUP BY h
)
SELECT doc_id,
       count(*) AS n_lines,
       count(*) FILTER (WHERE docs >= 2) AS n_dropped,
       coalesce(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE docs < 2), '') AS text_clean
FROM nl JOIN ph USING (h) GROUP BY doc_id""",
        "embedding_stats": """
WITH d AS (
  SELECT CASE WHEN vec_id % 97 = 0 THEN NULL ELSE embedding END AS embedding
  FROM embeddings)
SELECT count(*) AS n_rows,
       count(*) FILTER (WHERE embedding IS NULL) AS n_null,
       count(*) FILTER (WHERE embedding IS NOT NULL AND len(embedding) <> 64) AS n_wrong_dim,
       count(*) FILTER (WHERE embedding IS NOT NULL
                        AND len(list_filter(embedding, x -> isnan(x))) > 0) AS n_nan,
       count(*) FILTER (WHERE embedding IS NOT NULL
                        AND len(list_filter(embedding, x -> isnan(x))) = 0
                        AND len(embedding) = 64
                        AND abs(list_sum(list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) - 1.0) > 0.001) AS n_norm_off
FROM d""",
        "pack_contract": """
SELECT count(*) AS n_docs, TRUE AS all_packed, TRUE AS each_once,
       TRUE AS tokens_conserved, TRUE AS no_over_budget, TRUE AS fill_ok
FROM documents""",
        "outlier_counts": """
WITH dq AS (SELECT quantile_cont(n_chars, 0.25) AS q1, quantile_cont(n_chars, 0.75) AS q3,
                   count(*) AS n FROM documents),
     df AS (SELECT n, round(q1, 6) AS q1, round(q3, 6) AS q3,
                   round(q1 - 1.5 * (q3 - q1), 6) AS lo, round(q3 + 1.5 * (q3 - q1), 6) AS hi
            FROM dq),
     eq AS (SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3,
                   count(*) AS n FROM events),
     ef AS (SELECT n, round(q1, 6) AS q1, round(q3, 6) AS q3,
                   round(q1 - 1.5 * (q3 - q1), 6) AS lo, round(q3 + 1.5 * (q3 - q1), 6) AS hi
            FROM eq)
SELECT 'n_chars' AS "column", n AS n_rows, q1, q3, lo AS lo_fence, hi AS hi_fence,
       (SELECT count(*) FROM documents, df WHERE n_chars < lo) AS n_below,
       (SELECT count(*) FROM documents, df WHERE n_chars > hi) AS n_above
FROM df
UNION ALL
SELECT 'value', n, q1, q3, lo, hi,
       (SELECT count(*) FROM events, ef WHERE value < lo),
       (SELECT count(*) FROM events, ef WHERE value > hi)
FROM ef""",
        "col_profile": """
WITH src AS (
  SELECT CASE WHEN doc_id % 17 = 3 THEN NULL ELSE lang END AS lang,
         source, n_chars
  FROM documents
), m AS (
  SELECT 'lang' AS col, lang AS value FROM src
  UNION ALL SELECT 'source', source FROM src
  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM src
), c AS (
  SELECT col, value, count(*) AS n FROM m GROUP BY col, value
)
SELECT col AS "column",
       CAST(coalesce(sum(n) FILTER (WHERE value IS NOT NULL), 0) AS BIGINT) AS n_nonnull,
       CAST(coalesce(sum(n) FILTER (WHERE value IS NULL), 0) AS BIGINT) AS n_null,
       count(*) FILTER (WHERE value IS NOT NULL) AS n_distinct,
       CAST(count(*) FILTER (WHERE value IS NOT NULL) AS DOUBLE)
         / CAST(sum(n) FILTER (WHERE value IS NOT NULL) AS DOUBLE) AS distinctness,
       CAST(count(*) FILTER (WHERE value IS NOT NULL AND n = 1) AS DOUBLE)
         / CAST(sum(n) FILTER (WHERE value IS NOT NULL) AS DOUBLE) AS uniqueness,
       CAST(count(*) FILTER (WHERE value IS NOT NULL AND n = 1) AS DOUBLE)
         / CAST(count(*) FILTER (WHERE value IS NOT NULL) AS DOUBLE) AS unique_ratio,
       CAST(max(n) FILTER (WHERE value IS NOT NULL) AS DOUBLE)
         / CAST(sum(n) FILTER (WHERE value IS NOT NULL) AS DOUBLE) AS mode_share,
       round(log2(CAST(sum(n) FILTER (WHERE value IS NOT NULL) AS DOUBLE))
             - coalesce(sum(n * log2(CAST(n AS DOUBLE))) FILTER (WHERE value IS NOT NULL), 0.0)
               / CAST(sum(n) FILTER (WHERE value IS NOT NULL) AS DOUBLE), 6) AS entropy
FROM c GROUP BY col ORDER BY col""",
        "suggest_constraints": """
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 17 = 3 THEN NULL ELSE lang END AS lang,
         source, n_chars
  FROM documents
), g AS (
  SELECT 'doc_id' AS col, FALSE AS is_string, count(*) AS n_rows,
         count(*) FILTER (WHERE doc_id IS NULL) AS n_null,
         count(DISTINCT doc_id) AS n_distinct FROM d
  UNION ALL SELECT 'text', TRUE, count(*),
         count(*) FILTER (WHERE text IS NULL), count(DISTINCT text) FROM d
  UNION ALL SELECT 'lang', TRUE, count(*),
         count(*) FILTER (WHERE lang IS NULL), count(DISTINCT lang) FROM d
  UNION ALL SELECT 'source', TRUE, count(*),
         count(*) FILTER (WHERE source IS NULL), count(DISTINCT source) FROM d
  UNION ALL SELECT 'n_chars', FALSE, count(*),
         count(*) FILTER (WHERE n_chars IS NULL), count(DISTINCT n_chars) FROM d
), p AS (
  SELECT source AS part, count(*) AS pn,
         count(*) FILTER (WHERE doc_id IS NULL) AS nn_doc_id,
         count(*) FILTER (WHERE text IS NULL) AS nn_text,
         count(*) FILTER (WHERE lang IS NULL) AS nn_lang,
         count(*) FILTER (WHERE source IS NULL) AS nn_source,
         count(*) FILTER (WHERE n_chars IS NULL) AS nn_n_chars
  FROM d GROUP BY source
), r AS (
  SELECT min(pn) AS min_part_rows,
         max(nn_doc_id / CAST(pn AS DOUBLE)) AS mr_doc_id,
         max(nn_text / CAST(pn AS DOUBLE)) AS mr_text,
         max(nn_lang / CAST(pn AS DOUBLE)) AS mr_lang,
         max(nn_source / CAST(pn AS DOUBLE)) AS mr_source,
         max(nn_n_chars / CAST(pn AS DOUBLE)) AS mr_n_chars
  FROM p
), gm AS (
  SELECT g.*,
         greatest(CAST(n_null AS DOUBLE) / n_rows,
                  CASE g.col WHEN 'doc_id' THEN r.mr_doc_id
                             WHEN 'text' THEN r.mr_text
                             WHEN 'lang' THEN r.mr_lang
                             WHEN 'source' THEN r.mr_source
                             ELSE r.mr_n_chars END) AS gate_rate
  FROM g, r
)
SELECT col AS "column", 'stats' AS check_kind, 'max_null_rate' AS param,
       CASE WHEN n_null = 0 THEN 0.0
            ELSE round(least(1.0, gate_rate * 1.25 + 0.001), 6) END AS value,
       round(gate_rate, 6) AS observed,
       CASE WHEN n_null = 0 THEN 'column is complete; lock it in'
            ELSE 'observed null rate with slack' END AS rationale
FROM gm
UNION ALL
SELECT col, 'uniqueness', 'max_duplicate_keys', 0.0,
       round(CAST(n_distinct AS DOUBLE) / (n_rows - n_null), 6),
       'values are distinct; candidate key'
FROM gm
WHERE n_null = 0 AND n_rows > 0
  AND CAST(n_distinct AS DOUBLE) / n_rows >= 1.0
UNION ALL
SELECT col, 'profile', 'max_distinct', ceil(n_distinct * 1.5),
       CAST(n_distinct AS DOUBLE),
       'low-cardinality vocabulary; gate its growth'
FROM gm WHERE is_string AND n_distinct BETWEEN 2 AND 100
UNION ALL
SELECT '*', 'table', 'min_rows',
       CAST(floor(min_part_rows * 0.5) AS DOUBLE),
       CAST(min_part_rows AS DOUBLE),
       'per-partition floor at half the smallest partition'
FROM r""",
        "metric_anomalies": """
WITH a AS (
  SELECT 'r' || CAST((doc_id % 97) % 5 AS VARCHAR) AS run_id,
         '*' AS part, source AS col, 'avg_n_chars' AS chk,
         round(avg(n_chars), 6) AS metric
  FROM documents GROUP BY 1, source
), cur AS (SELECT * FROM a WHERE run_id = 'r4'),
h AS (SELECT * FROM a WHERE run_id <> 'r4'),
m AS (
  SELECT part, col, chk, median(metric) AS hm, count(*) AS nh
  FROM h GROUP BY part, col, chk
), d2 AS (
  SELECT h.part, h.col, h.chk, median(abs(h.metric - m.hm)) AS hmad
  FROM h JOIN m USING (part, col, chk) GROUP BY h.part, h.col, h.chk
)
SELECT cur.part AS "partition", cur.col AS "column", cur.chk AS "check",
       cur.metric AS metric,
       round(m.hm, 6) AS history_median,
       round(d2.hmad, 6) AS history_mad,
       coalesce(m.nh, 0) AS n_history,
       round(greatest(1.0 * d2.hmad, 0.0, 0.01 * abs(m.hm)), 6) AS tolerance,
       CASE WHEN m.hm IS NULL OR m.nh < 3 THEN TRUE
            ELSE coalesce(abs(cur.metric - m.hm)
                 <= greatest(1.0 * d2.hmad, 0.0, 0.01 * abs(m.hm)), FALSE) END AS passed
FROM cur
LEFT JOIN m USING (part, col, chk)
LEFT JOIN d2 USING (part, col, chk)
ORDER BY "partition", "column", "check" """,
        "quarantine": """
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 17 = 3 THEN NULL ELSE lang END AS lang,
         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS pk
  FROM documents
), g AS (
  SELECT pk, count(*) AS n, min(doc_id) AS exemplar,
         count(DISTINCT text) AS nv
  FROM d GROUP BY pk
), r AS (
  SELECT d.doc_id,
         list_sort(list_filter([
           CASE WHEN NOT coalesce(length(d.text) > 0, FALSE)
                THEN 'expr:text_nonempty' END,
           CASE WHEN d.lang IS NULL THEN 'not_null:lang' END,
           CASE WHEN g.n > 1 AND d.doc_id <> g.exemplar
                THEN 'unique:pk' END,
           CASE WHEN g.nv > 1 THEN 'fd:pk' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM d JOIN g USING (pk)
)
SELECT doc_id,
       coalesce(array_to_string(reasons, ','), '') AS reasons,
       len(reasons) = 0 AS is_clean
FROM r""",
        "quarantine_gopher": r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 5 THEN NULL ELSE text END AS text
  FROM documents
), m AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '\S+')) * 1.0 AS n_tok,
         length(regexp_replace(text, '\s', '', 'g')) * 1.0
           / nullif(len(regexp_extract_all(text, '\S+')), 0) AS mwl,
         len(list_filter(regexp_extract_all(text, '\S+'),
                         x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
           / nullif(len(regexp_extract_all(text, '\S+')), 0) AS alpha,
         list_filter(str_split(text, chr(10)),
                     l -> length(trim(l)) > 0) AS lines,
         text IS NOT NULL AS present
  FROM d
), m2 AS (
  SELECT doc_id, n_tok, mwl, alpha, present,
         len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) * 1.0
           / nullif(len(lines), 0) AS bullet,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) * 1.0
           / nullif(len(lines), 0) AS ellipsis
  FROM m
), r AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN NOT coalesce(n_tok >= 50.0, FALSE)
                THEN 'expr:gopher_min_words' END,
           CASE WHEN NOT coalesce(n_tok <= 100000.0, FALSE)
                THEN 'expr:gopher_max_words' END,
           CASE WHEN NOT coalesce(mwl >= 3.0, FALSE)
                THEN 'expr:gopher_min_mean_word_len' END,
           CASE WHEN NOT coalesce(mwl <= 10.0, FALSE)
                THEN 'expr:gopher_max_mean_word_len' END,
           CASE WHEN NOT coalesce(alpha >= 0.8, FALSE)
                THEN 'expr:gopher_alpha_words' END,
           CASE WHEN NOT coalesce(coalesce(bullet <= 0.9, present), FALSE)
                THEN 'expr:gopher_bullet_lines' END,
           CASE WHEN NOT coalesce(coalesce(ellipsis <= 0.3, present), FALSE)
                THEN 'expr:gopher_ellipsis_lines' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM m2
)
SELECT doc_id,
       coalesce(array_to_string(reasons, ','), '') AS reasons,
       len(reasons) = 0 AS is_clean
FROM r""",
        # same planted scars as encoding_scan + fail-closed NULL text
        "quarantine_encoding": r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 5 THEN NULL
              ELSE text
                || CASE WHEN doc_id % 7 = 3 THEN chr(65533) ELSE '' END
                || CASE WHEN doc_id % 11 = 5 THEN chr(195) || chr(169) ELSE '' END
                || CASE WHEN doc_id % 13 = 6 THEN chr(1) ELSE '' END
         END AS t
  FROM documents
), m AS (
  SELECT doc_id,
    length(t) - length(replace(t, chr(65533), '')) AS n_repl,
    (length(t) - length(replace(t, chr(195) || chr(169), ''))) / 2
      + (length(t) - length(replace(t, chr(195) || chr(168), ''))) / 2
      + (length(t) - length(replace(t, chr(195) || chr(164), ''))) / 2
      + (length(t) - length(replace(t, chr(195) || chr(182), ''))) / 2
      + (length(t) - length(replace(t, chr(195) || chr(188), ''))) / 2
      + (length(t) - length(replace(t, chr(226) || chr(8364) || chr(8482), ''))) / 3
      + (length(t) - length(replace(t, chr(226) || chr(8364) || chr(339), ''))) / 3
      AS n_moj,
    len(regexp_extract_all(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS n_ctl
  FROM d
), r AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN NOT coalesce(n_repl <= 0, FALSE)
                THEN 'expr:enc_replacement' END,
           CASE WHEN NOT coalesce(n_moj <= 0, FALSE)
                THEN 'expr:enc_mojibake' END,
           CASE WHEN NOT coalesce(n_ctl <= 0, FALSE)
                THEN 'expr:enc_control' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM m
)
SELECT doc_id,
       coalesce(array_to_string(reasons, ','), '') AS reasons,
       len(reasons) = 0 AS is_clean
FROM r""",
        "contamination": r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 OR doc_id % 13 = 1
              THEN text || ' zeta eta theta iota kappa lambda mu nu'
              ELSE text END AS text
  FROM documents
), w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM d
), g AS (
  SELECT doc_id, md5(gram) AS h FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(ws) - 6),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                  || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]))) AS gram
    FROM w WHERE len(ws) >= 8)
), t AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
   e AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 0)
SELECT t.doc_id,
       count(*) FILTER (WHERE e.h IS NOT NULL) AS n_contaminated_ngrams,
       count(*) AS n_ngrams
FROM t LEFT JOIN e ON t.h = e.h GROUP BY t.doc_id""",
        "train_split": """
WITH s AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':dcs'), 1, 2) < 'cd' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':dcs'), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents)
SELECT split, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS weight_sum
FROM s GROUP BY split""",
        "tdigest_quantiles": """
SELECT CAST(0.01 AS DOUBLE) AS q, (SELECT round(quantile_cont(n_chars, 0.01), 4) FROM documents) AS exact_value, TRUE AS rank_err_ok
UNION ALL
SELECT CAST(0.25 AS DOUBLE), (SELECT round(quantile_cont(n_chars, 0.25), 4) FROM documents), TRUE
UNION ALL
SELECT CAST(0.5 AS DOUBLE), (SELECT round(quantile_cont(n_chars, 0.5), 4) FROM documents), TRUE
UNION ALL
SELECT CAST(0.75 AS DOUBLE), (SELECT round(quantile_cont(n_chars, 0.75), 4) FROM documents), TRUE
UNION ALL
SELECT CAST(0.99 AS DOUBLE), (SELECT round(quantile_cont(n_chars, 0.99), 4) FROM documents), TRUE""",
        "partition_fingerprint": _VERSIONS_CTE + f""",
h AS ({_FP_HASH_SQL.format(side='t1')}),
f AS (SELECT part, COUNT(*) AS n_rows, {_FP_LANES_SQL} FROM h GROUP BY part)
SELECT part AS "partition", n_rows,
       CAST(fp_lo AS VARCHAR) AS fp_lo, CAST(fp_hi AS VARCHAR) AS fp_hi
FROM f""",
        "changed_partitions": _VERSIONS_CTE + f""",
h1 AS ({_FP_HASH_SQL.format(side='t1')}),
h2 AS ({_FP_HASH_SQL.format(side='t2')}),
f1 AS (SELECT part, COUNT(*) AS n_rows, {_FP_LANES_SQL} FROM h1 GROUP BY part),
f2 AS (SELECT part, COUNT(*) AS n_rows, {_FP_LANES_SQL} FROM h2 GROUP BY part)
SELECT coalesce(f1.part, f2.part) AS "partition",
       CASE WHEN f1.n_rows IS NULL THEN 'added'
            WHEN f2.n_rows IS NULL THEN 'removed'
            WHEN f1.n_rows = f2.n_rows AND f1.fp_lo = f2.fp_lo
                 AND f1.fp_hi = f2.fp_hi THEN 'equal'
            ELSE 'changed' END AS status,
       f1.n_rows AS n_rows_1, f2.n_rows AS n_rows_2
FROM f1 FULL OUTER JOIN f2 ON f1.part = f2.part
ORDER BY "partition\"""",
        "multimodal_meta": """
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE CAST(octet_length(encode(text)) AS INT) END AS byte_len,
       CASE WHEN text IS NULL THEN NULL ELSE 'unknown' END AS format,
       CASE WHEN text IS NULL THEN NULL ELSE CAST(octet_length(encode(text)) % 64 + 1 AS INT) END AS width,
       CASE WHEN text IS NULL THEN NULL ELSE CAST(octet_length(encode(text)) % 48 + 1 AS INT) END AS height,
       text IS NOT NULL AS ok
FROM documents""",
        # contract oracles (approx_stats pattern): the counts are
        # genuinely re-derived from the documents/embeddings tables;
        # the booleans assert Spark-side structural guarantees
        # (planted coverage / pigeonhole equality / LSH recall) hold
        # the doc_id < 100000 bound mirrors the Spark-side planted
        # filter exactly (originals only, below the planted offset) —
        # omitting it here would let the two sides drift silently at a
        # scale factor where documents reaches 100000 rows (the build-
        # time headroom assert also fails loudly there)
        "simhash_neardup": r"""
SELECT count(*) AS n_planted,
       count(*) AS n_covered,
       TRUE AS all_planted_covered,
       TRUE AS groups_cover_planted
FROM documents
WHERE doc_id < 100000 AND doc_id % 10 = 0 AND text IS NOT NULL
  AND len(regexp_extract_all(text, '\S')) > 0""",
        "simhash_hamming": """
SELECT (SELECT count(*) FROM documents)
       + (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_docs,
       (SELECT count(*) FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL) AS n_planted,
       TRUE AS banded_equals_exact""",
        "lsh_topk": """
SELECT count(DISTINCT vec_id) AS n_queries, 5 AS k,
       count(DISTINCT vec_id) AS n_strong,
       1.0 AS strong_recall, TRUE AS strong_recall_ge_0_9
FROM embeddings WHERE vec_id < 5""",
        "ivf_topk": """
SELECT count(DISTINCT vec_id) AS n_queries, 5 AS k,
       count(DISTINCT vec_id) AS n_strong,
       1.0 AS strong_recall, TRUE AS strong_recall_ge_0_9
FROM embeddings WHERE vec_id < 5""",
    }
