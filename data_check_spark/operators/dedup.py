"""Deduplication operators for web-scale text corpora (not in the
reference — first-class additions for a training-data pipeline).

All hot-path math is JVM-side (xxhash64, higher-order array
functions) — no Python in the per-row loop.

* **exact_duplicates** — hash-groupBy on md5(text). At 100 TB the
  shuffle carries (16-byte hash, count) partials only, never text.
* **minhash_lsh_pairs** — word-shingle MinHash signatures →
  LSH banding → candidate pairs from same-bucket self-join →
  exact-Jaccard verification. The self-join happens per (band,
  bucket), so only colliding documents ever meet; signature
  computation is a map-only pass.
* **simhash64** — 64-bit SimHash from per-word xxhash64 bit votes;
  near-dups = equal (or low-Hamming) simhash. One explode + one
  groupBy(doc) pass.
* **ngram_jaccard** — exact Jaccard over distinct word n-grams for
  a candidate pair set (verification primitive).
* **embedding near-dup** — see operators/similarity.py (cosine path).

Hashing is byte-exact: visually-identical strings with different
bytes (decomposed accents, zero-width injections) do NOT collapse —
apply ``functions/normalize.canonical_text`` to the text column
first when the corpus carries them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_check_spark.operators.spread import spread_cpu


def duplicate_groups(
    keyed: DataFrame,
    group_col: str,
    id_col: str,
    n_exemplars: int = 5,
    salt_buckets: int = 64,
    min_n: int = 2,
) -> DataFrame:
    """(group_col, n, doc_ids) for groups with n > 1, where doc_ids is
    a comma-joined CAPPED exemplar list (the ``n_exemplars`` smallest
    ids) — never the full membership.

    Skew-safe two-phase plan: phase 1 groups on (group, salt) so a
    pathological duplicate group (10^7 copies of boilerplate at CC
    scale) is split across ``salt_buckets`` reducers, each holding at
    most group_size/salt_buckets ids in its agg buffer before the
    slice; phase 2 merges ≤ salt_buckets bounded arrays per group.
    The capped output is deterministic (global smallest ids) for any
    salt assignment. doc_ids is a STRING, not array — array columns
    break order-insensitive result canonicalization downstream.
    """
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(salt_buckets))
    p1 = (
        keyed.groupBy(F.col(group_col), salt.alias("_salt"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.slice(F.sort_array(F.collect_list(id_col)), 1, n_exemplars).alias("_ex"),
        )
    )
    exemplars = F.slice(F.array_sort(F.flatten(F.collect_list("_ex"))), 1, n_exemplars)
    return (
        p1.groupBy(group_col)
        .agg(
            F.sum("_n").alias("n"),
            F.array_join(
                F.transform(exemplars, lambda x: x.cast("string")), ","
            ).alias("doc_ids"),
        )
        .filter(F.col("n") >= min_n)
        .orderBy(group_col)
    )


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_exemplars: int = 5
) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n, doc_ids).
    Only the 32-hex-char md5 is shuffled — never the text bytes; the
    id list is capped to ``n_exemplars`` (see duplicate_groups) so a
    degenerate group can't materialize 10^7 ids on one reducer."""
    h = F.md5(F.col(text_col).cast("binary")).alias("text_hash")
    keyed = df.filter(F.col(text_col).isNotNull()).select(h, F.col(id_col))
    return duplicate_groups(keyed, "text_hash", id_col, n_exemplars)


def _words(text_col: Column) -> Column:
    return F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda w: F.length(w) > 0
    )


def word_shingles_from(words: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from a MATERIALIZED words-array column.

    ``words`` must be a bound column (not a nested expression): Spark
    does not run codegen inside higher-order-function lambdas, so an
    expression referenced k times per element is RE-EVALUATED each
    time — passing the raw split() expression here turns shingling
    into O(n²) string splitting. Call sites materialize the words
    array with a select first (see minhash_lsh_pairs)."""
    n = F.size(words)
    # guard n < k: sequence(1, 0) would DESCEND ([1, 0]) and ANSI-mode
    # element_at would throw on the out-of-range indices
    idx = F.sequence(F.lit(1), n - (k - 1))
    shingle = lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)])  # noqa: E731
    return F.when(n >= k, F.array_distinct(F.transform(idx, shingle))).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Convenience wrapper for small inputs/tests; hot paths should
    materialize the words column and use word_shingles_from."""
    return word_shingles_from(_words(text_col), k)


_MERSENNE = (1 << 31) - 1


def shingle_base_hashes(shingles: Column) -> Column:
    """xxhash64 of each shingle, reduced mod p — compute ONCE and bind
    to a column before feeding minhash_from_base (HOF lambdas
    re-evaluate nested expressions per element)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def minhash_from_base(base: Column, num_hashes: int = 32, seed: int = 42) -> Column:
    """MinHash signature via the standard affine-permutation trick:
    each shingle is hashed ONCE (shingle_base_hashes), then the i-th
    permutation is (a_i·h + b_i) mod p — one expensive pass instead of
    num_hashes passes over the shingle array. Arithmetic stays under
    2^62 (h is already reduced mod p) so ANSI-mode overflow checks
    never trip. Empty shingle sets yield NULL mins."""
    import random

    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_hashes)]

    def perm(a: int, b: int):
        # closure factory: a 1-arg lambda (Spark counts lambda params
        # to pick the higher-order-function arity)
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE))

    return F.array(
        *[F.array_min(F.transform(base, perm(a, b))) for a, b in coeffs]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 10_000,
    pair_mode: str = "all",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via MinHash + LSH.

    Not lazy: building the frame runs Spark jobs. The banded
    signatures, the candidate pairs and the candidates' shingles are
    eager ``localCheckpoint``s (see the comments below), so a call pays
    the shingle + minhash pipeline before it returns, even when the
    caller only explains or composes the result.

    Plan shape: one map pass computes signatures; explode to (band,
    band_hash, id); groupBy bucket; pairs emitted only inside buckets
    (the LSH point: candidate generation without an all-pairs join);
    exact Jaccard over distinct shingles verifies candidates.

    Buckets with more than ``max_bucket`` members are dropped before
    the self-join (standard LSH hygiene): a degenerate bucket —
    boilerplate shingles hashing together — would otherwise cost
    O(m²) candidate pairs on one reducer. Members of a dropped bucket
    remain candidates through their other bands; truly identical
    boilerplate is the exact-dedup operator's job anyway.

    ``pair_mode``:
    * ``"all"`` (default) — every within-bucket pair is a candidate:
      the COMPLETE verified pair list (what the DuckDB all-pairs
      oracle checks). On a template-heavy corpus (the realistic web
      case: m near-identical members per bucket) this is inherently
      O(m²) — because the ANSWER is O(m²) pairs.
    * ``"chain"`` — each bucket member pairs only with its successor
      in id order: O(m) candidates per bucket, one window instead of
      a self-join. The pair LIST is deliberately incomplete, but the
      CONNECTIVITY of every genuinely-similar bucket group is
      preserved (its members form a verified chain), which is the
      only property cluster consumers (duplicate_clusters /
      NearDupCheck) need. A dissimilar interloper sorted between two
      similar members can break one band's chain; the other bands'
      independent orders make a lost genuine pair need the interloper
      adjacent in EVERY shared bucket. Use for cluster/mass metrics
      at scale, never for pair-list parity.
    """
    if pair_mode not in ("all", "chain"):
        raise ValueError(f"pair_mode must be 'all' or 'chain', got {pair_mode!r}")
    rows = num_hashes // bands
    # the signature computation is the CPU-heavy map pass — spread it
    # over all cores even when the source has few input splits (small
    # parquet files at test scale; at 100 TB the source supplies
    # enough splits and this repartition coalesces away under AQE)
    par = df.sparkSession.sparkContext.defaultParallelism
    # cheap ≥k-tokens pre-filter on the RAW text. Filtering on
    # size(shingles)>0 instead would let predicate-pushdown inline the
    # whole shingle expression below the exchange — re-running the
    # O(n²) interpreted HOF on however few input splits the source has
    # (observed: 14 s on 2 tasks vs <1 s here).
    has_k_tokens = F.col("_txt").rlike(r"(\S+\s+){%d}\S" % (shingle_k - 1))
    slim = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .filter(F.col("_txt").isNotNull() & has_k_tokens)
        .repartition(par, "_id")
    )
    # materialize words → shingles → base-hashes as separate columns:
    # each is computed once per row (HOF lambdas would otherwise
    # re-evaluate nested expressions per element)
    tok = slim.select("_id", _words(F.col("_txt")).alias("_w"))
    sh = tok.select("_id", word_shingles_from(F.col("_w"), shingle_k).alias("_sh"))
    sig = sh.withColumn("_base", shingle_base_hashes(F.col("_sh"))).withColumn(
        "_sig", minhash_from_base(F.col("_base"), num_hashes)
    )
    # (band, bucket, id) only — shingle arrays do NOT ride through the
    # candidate join; they are re-attached for survivors afterwards.
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.element_at("_sig", b * rows + r + 1) for r in range(rows)]).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    # checkpoint the banded frame (bands × n_docs SKINNY rows, ~24 B
    # each — orders below the text they derive from): the hot-bucket
    # `sizes` broadcast below is a SEPARATE subtree, and without the
    # checkpoint its build job re-runs the whole shingle+minhash
    # pipeline a second time (the reusable exchange carries raw text,
    # so "reuse" still re-pays the signature CPU). One materialization
    # feeds sizes, the cap anti-join and both self-join sides.
    # Measured: minhash_pairs 5.2 s -> ~4 s at sf1.0/local[32].
    banded = banded.localCheckpoint()
    # hot-bucket cap: drop buckets whose self-join would be quadratic
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_m"))
    banded = banded.join(
        F.broadcast(sizes.filter(F.col("_m") > max_bucket).select("band", "bucket")),
        ["band", "bucket"],
        "left_anti",
    )

    if pair_mode == "chain":
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket").orderBy("_id")
        cand = (
            banded.withColumn("_prev", F.lag("_id").over(w))
            .filter(F.col("_prev").isNotNull())
            .select(F.col("_prev").alias("id_a"), F.col("_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    # exact-Jaccard verification: shingle each DISTINCT doc touched by
    # a candidate pair ONCE, then join the (distinct-set) shingle
    # arrays onto the pairs. Shingle work is O(#candidate docs), not
    # O(#pairs) — on a template-heavy corpus one doc sits in hundreds
    # of pairs and the per-pair re-shingle was the bottleneck (1000
    # synth pages: 187 s -> ~14 s). The semi-join prunes the corpus
    # scan to candidate docs before any shingling.
    #
    # cand is referenced twice below (candidate-id derivation AND the
    # pair joins); checkpointing the (id_a, id_b) frame — two keys per
    # pair, the smallest thing in this plan — runs the signature +
    # bucket lineage exactly ONCE and gives Catalyst real size stats,
    # so the id semi-join broadcasts instead of shuffling the corpus.
    # This makes the operator EAGER at the candidate stage (the
    # checkpoint is an action); every consumer materializes the pairs
    # anyway. A/B in equally pristine windows on the low-duplicate
    # documents corpus at sf0.1: 2.79 s (old per-pair shape) vs
    # 4.41 s (two lineage runs) vs 2.42 s (this) — the broadcast
    # semi-join beats the old shape even where per-pair ≈ per-doc.
    cand = cand.localCheckpoint()
    cids = (
        cand.select(F.col("id_a").alias("_id"))
        .unionByName(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    csh = (
        slim.join(cids, "_id", "left_semi")
        .select("_id", _words(F.col("_txt")).alias("_w"))
        .select("_id", word_shingles_from(F.col("_w"), shingle_k).alias("_sh"))
    )
    # csh feeds BOTH pair joins below, but each side re-aliases _id
    # (id_a vs id_b) so the two exchange subtrees are not canonically
    # equal and ReuseExchange never fires — without this checkpoint the
    # corpus semi-join + candidate re-shingle runs TWICE (plan showed
    # two full scan+shingle lineages). The frame is bounded by the
    # CANDIDATE set (ids touched by a pair), not the corpus, so the
    # materialization is small at any scale.
    csh = csh.localCheckpoint()
    pairs = cand.join(
        csh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(
        csh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(F.try_divide(inter, union), 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 2,
) -> DataFrame:
    """Exact Jaccard over distinct word k-shingles for given
    (id_a, id_b) pairs — the verification primitive."""
    sh = df.select(
        F.col(id_col).alias("_id"), word_shingles(F.col(text_col), shingle_k).alias("_sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "id_a", "id_b", F.round(F.try_divide(inter, union), 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """63-bit SimHash per document (bit 63 left unused to keep the
    value positive in a signed bigint): explode words, one
    groupBy(doc) with 63 conditional-count aggregates (bit votes),
    reassemble. Near-dups share simhash or low Hamming distance."""
    w = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc"), F.explode(_words(F.col(text_col))).alias("w"))
        .withColumn("h", F.xxhash64("w"))
    )
    votes = [
        F.count_if(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1).alias(f"b{b}")
        for b in range(63)
    ]
    agg = w.groupBy("doc").agg(F.count(F.lit(1)).alias("n"), *votes)
    sim = None
    for b in range(63):
        bit = F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = bit * F.lit(1 << b).cast("bigint")
        sim = term if sim is None else sim + term
    return agg.select(F.col("doc").alias(id_col), sim.alias("simhash")).orderBy(id_col)


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_exemplars: int = 5
) -> DataFrame:
    """Documents sharing an identical simhash → (simhash, n, doc_ids).
    doc_ids is a capped comma-joined exemplar string (duplicate_groups);
    for genuine near-dups (Hamming ≤ d) use simhash_hamming_pairs."""
    s = simhash64(df, text_col, id_col)
    return duplicate_groups(s, "simhash", id_col, n_exemplars)


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ max_hamming,
    via a banded bucket join (no all-pairs): split the 63-bit simhash
    into ``bands`` contiguous bit-bands; by pigeonhole, any pair with
    Hamming ≤ bands-1 agrees exactly on at least one full band, so
    bucketing on (band_index, band_bits) and self-joining inside
    buckets has recall 1.0 for max_hamming ≤ bands-1. Survivors are
    verified with an exact popcount on the XOR.

    Buckets larger than ``max_bucket`` (boilerplate pile-ups) are
    dropped before the self-join — standard LSH hygiene; the quadratic
    blowup of one hot bucket would otherwise dominate the stage. The
    members of a dropped bucket are still identical-band docs, so they
    surface through simhash_near_duplicates' exact grouping instead.

    Output: (id_a, id_b, hamming), id_a < id_b, sorted.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= max_hamming+1 "
            f"(pigeonhole recall guarantee); got bands={bands}"
        )
    s = simhash64(df, text_col, id_col).select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("_sh")
    )
    band_bits = 63 // bands
    mask = (1 << band_bits) - 1
    banded = s.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("_sh"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sh", "bb.band", "bb.bits")
    # hot-bucket cap: count members per bucket first, drop oversized
    sizes = banded.groupBy("band", "bits").agg(F.count(F.lit(1)).alias("_m"))
    capped = banded.join(
        F.broadcast(sizes.filter(F.col("_m") > max_bucket).select("band", "bits")),
        ["band", "bits"],
        "left_anti",
    )
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming).orderBy("id_a", "id_b")


def cross_doc_ngram_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-DOCUMENT duplicated n-gram detection (the training-data
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better": long spans repeated across documents are
    memorization fuel even when no document pair is a near-dup as a
    whole). Distinct from functions/textstats.repetition_metrics,
    which is within-document.

    Per document: the count of its distinct word n-grams that also
    appear in at least one OTHER document, plus its total distinct
    n-gram count → (id, n_shared_ngrams, n_ngrams). Documents with
    zero qualifying n-grams (shorter than n tokens, NULL text) are
    omitted — there is nothing to share.

    Scale shape: ONE shingle pass per row (materialized words array —
    see word_shingles_from's codegen note), explode to distinct
    (gram, id) pairs keyed by a gram hash, ONE shuffle of those pairs
    by hash. The per-gram doc counts are derived from the
    already-partitioned frame (shingles are array_distinct per doc, so
    plain count(*) == count_distinct(id)), which lets Catalyst reuse
    the exchange for the co-partitioned join back — `.explain` shows
    a single scan and a single big Exchange (ReusedExchange on the
    probe side), then one partial-agg groupBy(id). Shuffle carries
    (hash, id), never gram text. Hot grams (boilerplate shared by
    millions of docs) are one counter row on the build side and an
    AQE-splittable join partition on the probe side: nothing here is
    quadratic in document count.

    ``hash_fn``: 'md5' (default) keys grams by the 32-char hex digest
    so an external engine (the DuckDB oracle) re-derives every value;
    'xxhash64' shuffles an 8-byte long instead — 4x less shuffle key
    weight, the right choice at 100 TB (cross-gram collisions can only
    overcount a shared gram, at ~n_grams²/2⁶⁴ probability)."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    gram_hash = (
        (lambda g: F.md5(g.cast("binary")))
        if hash_fn == "md5"
        else F.xxhash64
    )
    # conditional CPU spread (operators/spread.py): the shingle +
    # explode + hash map work below otherwise runs on however few row
    # groups the source supplies (ONE task on the single-row-group
    # bench tables); no-op on a well-split 100 TB source
    slim = spread_cpu(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")), "_id"
    )
    grams = slim.select(
        "_id", _words(F.col("_txt")).alias("_w")
    ).select(
        "_id", F.explode(word_shingles_from(F.col("_w"), n)).alias("_g")
    ).select("_id", gram_hash(F.col("_g")).alias("_h"))
    # one explicit shuffle by gram hash; the groupBy below needs no new
    # exchange (HashPartitioning(_h) satisfies its distribution) and the
    # join probe reuses the SAME exchange — shingle+explode runs once
    shuffled = grams.repartition("_h")
    per_gram = shuffled.groupBy("_h").agg(
        # (_h, _id) is distinct by construction (array_distinct per doc),
        # so count(_id) == count_distinct(_id) without the extra full
        # (_h, _id) shuffle Spark plans for distinct aggregates.
        # count(_id) — not count(*) — so column pruning cannot strip _id
        # from this branch: both exchange subtrees stay canonically
        # identical and ReuseExchange collapses them to one shuffle
        F.count("_id").alias("_docs")
    )
    return (
        shuffled.join(per_gram, "_h")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count_if(F.col("_docs") > 1).alias("n_shared_ngrams"),
            F.count(F.lit(1)).alias("n_ngrams"),
        )
    )


def _gram_hash_frame(df: DataFrame, id_col: str, text_col: str, n: int, hash_fn: str):
    """(_id, _h) distinct word-n-gram hashes per document — the SAME
    lowercase/split/shingle/hash derivation cross_doc_ngram_duplicates
    builds inline (kept inline there to preserve its exchange-reuse
    plan), so the two operators' counts are directly comparable and
    one DuckDB recipe oracles both."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    gram_hash = (
        (lambda g: F.md5(g.cast("binary"))) if hash_fn == "md5" else F.xxhash64
    )
    # same conditional CPU spread as cross_doc_ngram_duplicates: the
    # shingle pass is the dominant map cost and must not be serialized
    # by a few-row-group source
    slim = spread_cpu(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")), "_id"
    )
    return (
        slim.select("_id", _words(F.col("_txt")).alias("_w"))
        .select("_id", F.explode(word_shingles_from(F.col("_w"), n)).alias("_g"))
        .select("_id", gram_hash(F.col("_g")).alias("_h"))
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    hash_fn: str = "md5",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark-contamination scan (the decontamination step of
    GPT-3/Gopher-style pipelines): per TRAIN document, how many of its
    distinct word n-grams appear anywhere in the EVAL corpus →
    (id, n_contaminated_ngrams, n_ngrams). A pipeline then drops or
    flags train docs above a threshold before training.

    Scale shape — built around the asymmetry of the problem: eval
    suites are tiny (10³-10⁵ docs) while train is the 100 TB side.
    The eval side reduces to a DISTINCT gram-hash set (16 B/gram md5,
    8 B xxhash64) that is BROADCAST, so the train corpus is scanned
    ONCE map-side (shingle → hash → broadcast left-join probe) and
    the only train-side shuffle is the final per-doc partial-agg
    groupBy(id). Nothing is quadratic; a boilerplate gram shared by
    every train doc costs one broadcast-set hit per doc, not a pair
    explosion. Set ``broadcast_eval=False`` only if the eval gram set
    genuinely cannot fit an executor (then it's a plain shuffled
    left-join on the hash).

    Lineage: Lee et al. dedup + the eval-overlap protocol of Brown et
    al. (GPT-3 appendix C) / Rae et al. (Gopher). Reference engine has
    no analogue (/root/reference/ is validation-only)."""
    tg = _gram_hash_frame(train, id_col, text_col, n, hash_fn)
    eh = (
        _gram_hash_frame(eval_df, id_col, text_col, n, hash_fn)
        .select("_h")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        eh = F.broadcast(eh)
    return (
        tg.join(eh, "_h", "left")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count_if(F.col("_hit").isNotNull()).alias("n_contaminated_ngrams"),
            F.count(F.lit(1)).alias("n_ngrams"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Persistable per-doc MinHash signatures: (id, sig array<bigint>).

    The signature store is the INCREMENTAL-dedup baseline: ~8·k bytes
    per doc (256 B at k=32) vs the KBs of text it summarizes, so a
    validated 100 TB corpus reduces to a ~2 TB signature table that
    new crawl increments dedup against WITHOUT re-shingling the old
    text (minhash_pairs_against). Same signature math as
    minhash_lsh_pairs — one xxhash64 shingle pass, affine
    permutations — so signatures computed by either path agree
    bit-for-bit (fixed seed).

    Docs with < shingle_k tokens (or NULL text) have no shingles and
    are omitted, matching minhash_lsh_pairs' pre-filter."""
    par = df.sparkSession.sparkContext.defaultParallelism
    has_k_tokens = F.col("_txt").rlike(r"(\S+\s+){%d}\S" % (shingle_k - 1))
    slim = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .filter(F.col("_txt").isNotNull() & has_k_tokens)
        .repartition(par, "id")
    )
    tok = slim.select("id", _words(F.col("_txt")).alias("_w"))
    sh = tok.select("id", word_shingles_from(F.col("_w"), shingle_k).alias("_sh"))
    return sh.withColumn("_base", shingle_base_hashes(F.col("_sh"))).select(
        "id", minhash_from_base(F.col("_base"), num_hashes, seed).alias("sig")
    )


def minhash_pairs_against(
    new_df: DataFrame,
    stored_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.7,
    max_bucket: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidates of NEW docs against a STORED
    signature corpus (id_new, id_stored, est_jaccard) — incremental
    dedup: the validated corpus is never re-read or re-shingled; only
    its (id, sig) rows participate.

    ``est_jaccard`` is the signature estimate (matching-component
    fraction — the standard unbiased MinHash estimator, s.e.
    ≈ sqrt(J(1−J)/num_hashes) ≈ 0.08 at k=32, J=0.7), NOT the exact
    Jaccard minhash_lsh_pairs verifies: the old text is out of reach
    by design. Identical text ⇒ identical signature ⇒ est exactly
    1.0. Deterministic: round(matches/k, 6) of integer counts.

    Plan shape mirrors minhash_lsh_pairs: band both sides to (band,
    bucket, id) — the stored side needs only array ops over k longs
    per doc, no text — bucket-equi-join NEW × STORED only, drop
    hot buckets (combined membership > max_bucket), dedup candidate
    pairs, then re-attach both signatures by id for the estimate (the
    2 KB/doc sig array never rides the exploded banding shuffle).
    Within-new duplicates are minhash_lsh_pairs' job; run both for a
    full increment validation."""
    rows = num_hashes // bands

    def banded(sigs: DataFrame, side: str) -> DataFrame:
        return sigs.select(
            F.col("id").alias(f"id_{side}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(f"id_{side}", "bb.band", "bb.bucket")

    # checkpoint the NEW side's signatures (~8·num_hashes B/doc — the
    # persistable-store size this module's whole incremental design is
    # built around): they feed both the banding below and the
    # est_jaccard re-attach join (sa), which otherwise re-runs the
    # whole shingle+minhash pipeline over the increment a second time.
    # The stored side is NOT checkpointed: in production it is a
    # parquet signature table (re-reading is cheap; materializing a
    # 10^10-doc store in executor memory is not).
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, shingle_k, num_hashes, seed
    ).localCheckpoint()
    # checkpoint the new banded side (skinny (id, band, bucket) rows):
    # the combined `sizes` union below is a separate subtree that
    # would otherwise re-band it once more for the hot-bucket
    # broadcast build — see minhash_lsh_pairs. The stored side stays
    # lazy for the reason above: the union and the candidate join
    # each re-read the signature table, and a lost executor can
    # recompute it from there.
    bn = banded(new_sigs, "new").localCheckpoint()
    bs = banded(stored_sigs, "stored")
    # hot-bucket hygiene across BOTH sides: a boilerplate bucket costs
    # m_new × m_stored candidate pairs on one reducer
    sizes = (
        bn.select("band", "bucket").unionByName(bs.select("band", "bucket"))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    hot = F.broadcast(sizes.filter(F.col("_m") > max_bucket).select("band", "bucket"))
    bn = bn.join(hot, ["band", "bucket"], "left_anti")
    bs = bs.join(hot, ["band", "bucket"], "left_anti")

    cand = (
        bn.join(bs, ["band", "bucket"])
        .select("id_new", "id_stored")
        .dropDuplicates(["id_new", "id_stored"])
    )
    sa = new_sigs.select(F.col("id").alias("id_new"), F.col("sig").alias("_sa"))
    sb = stored_sigs.select(F.col("id").alias("id_stored"), F.col("sig").alias("_sb"))
    matches = F.size(
        F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda v: v)
    )
    return (
        cand.join(sa, "id_new")
        .join(sb, "id_stored")
        .withColumn(
            "est_jaccard",
            F.round(matches.cast("double") / F.lit(float(num_hashes)), 6),
        )
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_new", "id_stored", "est_jaccard")
        .orderBy("id_new", "id_stored")
    )


def exact_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Persistable exact-dup store: (id, text_hash md5-hex) — 16 bytes
    of content hash per doc, the exact-dedup twin of the MinHash
    signature store. NULL texts are omitted (they are not duplicates
    of each other)."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
    )


def exact_duplicates_against(
    new_df: DataFrame,
    stored_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_exemplars: int = 5,
) -> DataFrame:
    """New docs whose text is byte-identical to a doc in a STORED
    hash corpus: (id_new, text_hash, n_stored, stored_ids) — the
    incremental exact-dedup path. The validated corpus is never
    re-read: the stored side pre-aggregates to one capped-exemplar
    row per DISTINCT hash (bounded by the salt-free group cap below),
    so the join probe is hash-to-hash, never new-row × stored-row.

    Exactness: md5 over the text bytes — a match IS byte identity up
    to md5 collisions (~2⁻¹²⁸; same envelope as exact_duplicates).
    The stored aggregation reuses duplicate_groups' salted two-phase
    plan (min_n=1 keeps singleton hashes), so a degenerate boilerplate
    hash never collects 10⁷ ids in one agg buffer."""
    per_hash = duplicate_groups(
        stored_hashes, "text_hash", "id", n_exemplars, min_n=1
    ).select(
        "text_hash",
        F.col("n").alias("n_stored"),
        F.col("doc_ids").alias("stored_ids"),
    )
    new_hashed = exact_hashes(new_df, text_col, id_col).select(
        F.col("id").alias("id_new"), "text_hash"
    )
    return (
        new_hashed.join(per_hash, "text_hash")
        .select("id_new", "text_hash", "n_stored", "stored_ids")
        .orderBy("id_new")
    )
