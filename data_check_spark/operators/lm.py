"""Bigram language-model quality scoring (the CCNet signal).

CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks Common-Crawl documents by the
perplexity of a small LM and keeps the fluent tail; Gopher and most
successors inherit the idea. This module is that filter rebuilt as
DataFrame algebra: train an add-one-smoothed bigram model over one
corpus (or the scored corpus itself), then score every document by
its bigrams' conditional probabilities

    p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)

where ``c(w1 w2)`` counts bigram occurrences, ``c(w1 ·)`` counts
occurrences of ``w1`` as a bigram head, and ``V`` is the distinct
next-token vocabulary. No reference counterpart (`/root/reference`
has no text modeling at all — data_check/query/bigquery.py builds
diff SQL only); lineage is the public CCNet/KenLM recipe.

Cross-engine determinism (the events_hourly lesson, generalized):
the hash-compared score never touches libm. Each bigram's smoothed
probability is quantized to 1e-9 by EXACT integer arithmetic —
``q = (2·a·10⁹ + b) div (2·b)`` is HALF_UP ``round(a/b·10⁹)`` done
entirely in integers (decimal(38,0) on Spark, HUGEINT in DuckDB, so
a hot bigram's count can reach 10¹² without overflow) — then summed
(exact, associative, partitioning-independent) and mean-divided the
same way. ``mean_p`` is that integer divided by 10⁹: one IEEE
division of exact integers, bit-identical in any engine. The float
``avg_neg_log2p`` / ``perplexity`` columns (opt-in) are the
practical CCNet ranking signal but go through ``log2`` — Java and
libm may differ in the last ulp, so they are documented
non-hash-comparable.

Scale (10¹² docs): one tokenize+explode pass produces the bigram
frame; ``localCheckpoint`` (opt-out ``checkpoint=False``) pins it so
the three model aggregations and the scoring join reuse one
materialization instead of re-running the explode four times (the
cross_doc_ngram lesson). All shuffles are linear in corpus token
count: two hash aggregations (bigram counts, head counts), one
scalar distinct, one shuffle join on (w1, w2) — hot keys ("of the")
are ONE row on the build side, so skew sits on the probe side where
AQE skew-split handles it — and one ``maybe_broadcast`` join on the
head-count table (vocab-sized: broadcast when small, size-aware
shuffle otherwise, same policy as ReferentialCheck). Token strings
can be replaced by xxhash64((w1,w2)) join keys at extreme scale (the
crossdoc_ngram option); kept as strings here so the DuckDB oracle
re-derives every value.

Doc-id width dominates the bigram frame (O(tokens) rows each
carrying the id): keying by a ~36-char url string instead of an
8-byte int64 triples the checkpoint footprint — measured at 1M docs
× ~134 tokens, the url-keyed run OOMs a 32 GB single-JVM heap while
the xxhash64(url)-keyed run fits (scripts/ab_lm.py @ 415cb3d). At
production scale map urls to int64 ids before scoring and join the scores back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_check_spark.operators.refint import maybe_broadcast
from data_check_spark.operators.spread import spread_cpu

_Q = 1_000_000_000  # 1e-9 probability quantum (9 significant digits)


def bigram_frame(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per bigram OCCURRENCE: (_id, w1, w2). Tokenization is
    the corpus-wide convention (lowercase, split on '\\s+', drop
    empties — shared with _words in operators/dedup.py; DuckDB's
    regexp_extract_all(lower, '\\S+') yields the identical stream) so
    every engine re-derives identical counts. Docs with < 2 tokens
    contribute no rows (and are absent from scores — documented
    contract)."""
    # conditional CPU spread (operators/spread.py): tokenize + explode
    # is the dominant map cost; a few-row-group source would otherwise
    # serialize it on one core (no-op on a well-split 100 TB source)
    slim = spread_cpu(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")), "_id"
    )
    return (
        slim.select(
            "_id",
            F.filter(
                F.split(F.lower(F.col("_txt")), r"\s+"), lambda w: F.length(w) > 0
            ).alias("_ws"),
        )
        .filter(F.size("_ws") >= 2)
        .select(
            "_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_ws) - 1), i -> "
                    "struct(element_at(_ws, i) AS w1, element_at(_ws, i + 1) AS w2))"
                )
            ).alias("_b"),
        )
        .select("_id", F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    )


def _lm_from_frame(b: DataFrame) -> dict[str, DataFrame]:
    """The model definition, in ONE place (self-training in
    bigram_lm_scores shares it, so the two paths cannot drift)."""
    return {
        "c_bg": b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg")),
        "c_w1": b.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1")),
        "v": b.agg(F.count_distinct("w2").alias("v")),
    }


def bigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", checkpoint: bool = True
) -> dict[str, DataFrame]:
    """Train the model: returns {'c_bg': (w1, w2, c_bg),
    'c_w1': (w1, c_w1), 'v': 1-row (v)} count frames. Persist c_bg /
    c_w1 as parquet to score later corpora against a frozen reference
    LM (the real CCNet deployment shape)."""
    b = bigram_frame(df, id_col, text_col)
    if checkpoint:
        b = b.localCheckpoint(eager=False)
    return _lm_from_frame(b)


def merge_bigram_lm(lms: list[dict[str, DataFrame]]) -> dict[str, DataFrame]:
    """Merge trained LMs (the incremental-corpus path, same shape as
    the minhash signature store / HLL sketch union): bigram and head
    counts are additive — union + groupBy-sum, associative at any
    fan-in — and the next-token vocabulary is re-derived as the
    DISTINCT w2 of the merged bigram table (|V| itself is NOT
    additive across shards; deriving it from c_bg is exact). A
    month's new crawl trains its own counts, merges with the stored
    model, and never re-scans validated months."""
    if not lms:
        raise ValueError("merge_bigram_lm needs at least one LM")
    c_bg = lms[0]["c_bg"]
    c_w1 = lms[0]["c_w1"]
    for lm in lms[1:]:
        c_bg = c_bg.unionByName(lm["c_bg"])
        c_w1 = c_w1.unionByName(lm["c_w1"])
    c_bg = c_bg.groupBy("w1", "w2").agg(F.sum("c_bg").alias("c_bg"))
    return {
        "c_bg": c_bg,
        "c_w1": c_w1.groupBy("w1").agg(F.sum("c_w1").alias("c_w1")),
        "v": c_bg.agg(F.count_distinct("w2").alias("v")),
    }


def save_bigram_lm(lm: dict[str, DataFrame], out_dir: str, mode: str = "error") -> None:
    """Persist a trained LM as parquet (c_bg/, c_w1/) — the frozen
    reference model CCNet deploys. ``v`` is re-derived on load, so a
    stored model and a merged-then-stored model are interchangeable."""
    base = out_dir.rstrip("/")
    lm["c_bg"].write.mode(mode).parquet(base + "/c_bg")
    lm["c_w1"].write.mode(mode).parquet(base + "/c_w1")


def load_bigram_lm(spark, in_dir: str) -> dict[str, DataFrame]:
    base = in_dir.rstrip("/")
    c_bg = spark.read.parquet(base + "/c_bg")
    return {
        "c_bg": c_bg,
        "c_w1": spark.read.parquet(base + "/c_w1"),
        "v": c_bg.agg(F.count_distinct("w2").alias("v")),
    }


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm: dict[str, DataFrame] | None = None,
    with_perplexity: bool = False,
) -> DataFrame:
    """Score each document under the LM (self-trained when ``lm`` is
    None). Output per doc (docs with >= 2 tokens):

      n_bigrams  — bigram occurrences scored
      n_unseen   — bigrams absent from the LM (0 when self-trained;
                   the OOV mass when scoring against a reference LM)
      n_rare     — bigrams with corpus count <= 1 (self-trained:
                   bigrams unique to this doc — high ratio means
                   nothing else writes like this)
      mean_p     — mean smoothed p(w2|w1), 1e-9-quantized via exact
                   integer HALF_UP (hash-comparable across engines
                   and partitionings; LOW mean_p = surprising text)
      avg_neg_log2p, perplexity — only when ``with_perplexity``; the
                   standard CCNet ranking values, float-summed, so
                   their low digits are engine/partitioning-dependent
                   (keep them OUT of hash-compared outputs).
    """
    if lm is None:
        # checkpoint unconditionally: self-training reads the frame
        # four times (three model aggs + the scoring join)
        b = bigram_frame(df, id_col, text_col).localCheckpoint(eager=False)
        lm = _lm_from_frame(b)
    else:
        b = bigram_frame(df, id_col, text_col)

    j = (
        b.join(lm["c_bg"], ["w1", "w2"], "left")
        .join(maybe_broadcast(lm["c_w1"]), ["w1"], "left")
        .crossJoin(F.broadcast(lm["v"]))
        .select(
            "_id",
            F.col("c_bg").alias("_cbg"),
            (F.coalesce(F.col("c_bg"), F.lit(0)) + 1).alias("_a"),
            (F.coalesce(F.col("c_w1"), F.lit(0)) + F.col("v")).alias("_d"),
        )
        # q = HALF_UP round(_a/_d * 1e9) in EXACT integer arithmetic;
        # decimal(38,0) so _a up to ~1e12 (hot bigram at 10^12 rows)
        # survives the *2e9 blow-up that overflows int64.
        # _d = c_w1 + v is 0 only for a DEGENERATE reference LM (empty
        # training corpus, v = 0) scoring an unseen w1: non-ANSI `div`
        # would yield NULL silently and _q would drop out of the sum,
        # quietly corrupting mean_p — raise instead (lazy CaseWhen
        # branch: zero cost on every valid row).
        .withColumn(
            "_q",
            F.when(
                F.col("_d") <= 0,
                F.raise_error(
                    F.lit(
                        "bigram_lm_scores: reference LM has an empty "
                        "vocabulary (v = 0) — train it on a non-empty corpus"
                    )
                ).cast("bigint"),
            ).otherwise(
                F.expr(
                    f"cast((2 * cast(_a as decimal(38,0)) * {_Q} + _d) div (2 * _d) as bigint)"
                )
            ),
        )
    )
    aggs = [
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count_if(F.col("_cbg").isNull()).alias("n_unseen"),
        F.count_if(F.coalesce(F.col("_cbg"), F.lit(0)) <= 1).alias("n_rare"),
        F.sum("_q").alias("_sq"),
    ]
    if with_perplexity:
        aggs.append(
            F.avg(-F.log2(F.col("_a").cast("double") / F.col("_d"))).alias("avg_neg_log2p")
        )
    out = j.groupBy(F.col("_id").alias(id_col)).agg(*aggs)
    out = out.withColumn(
        "mean_p",
        F.expr("cast((2 * _sq + n_bigrams) div (2 * n_bigrams) as double)") / _Q,
    ).drop("_sq")
    if with_perplexity:
        out = out.withColumn("perplexity", F.pow(F.lit(2.0), F.col("avg_neg_log2p")))
    return out
