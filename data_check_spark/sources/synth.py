"""Deterministic synthetic Common-Crawl-style web pages (BASELINE.json
input_hint / FIXTURES.md F3).

Schema: ``pages(url STRING, warc_ts TIMESTAMP, html BINARY,
text STRING, lang STRING)``.

Design constraints honored here:

* **Pure function of the row id** — every column derives from
  ``xxhash64`` of the id (and fixed seed literals), entirely with
  JVM-side functions over ``spark.range(n)``. Generation is therefore
  distributed (no driver data, no Python in the loop), identical at
  any parallelism level, and scales to arbitrary n.
* **Per-url text invariant** — ``text`` is a pure function of ``url``
  (not of id), so duplicate urls carry byte-identical text. This is
  the invariant BASELINE.json requires to hold byte-identically.
* **Skewed domains** — ~27% of rows land on 3 hot domains to exercise
  salting / AQE skew handling.
* **Controlled dirt** — duplicate urls (~2%), NULL text (~1%),
  NULL lang (~2%), Zipf-ish lang distribution over 20 codes.

``synth_pages_v2`` derives a perturbed second version (rows dropped /
added / mutated, lang distribution shifted) for row-diff and drift
checks; ``synth_domains`` is a dimension snapshot that deliberately
misses ~10% of domains for referential-violation checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.session import local_frame

SEED = 42
N_LANGS = 20
LANGS = [
    "en", "de", "fr", "es", "ru", "zh", "ja", "pt", "it", "nl",
    "pl", "tr", "ar", "ko", "sv", "cs", "el", "he", "da", "fi",
]
HOT_DOMAINS = ["hot-aggregator.com", "mega-portal.net", "viral-hub.org"]
N_COLD_DOMAINS = 5000

_WORDS = [
    "lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing",
    "elit", "sed", "do", "eiusmod", "tempor", "incididunt", "labore",
    "dolore", "magna", "aliqua", "enim", "minim", "veniam", "quis",
    "nostrud", "exercitation", "ullamco", "laboris", "nisi", "aliquip",
    "commodo", "consequat", "duis", "aute", "irure",
]


def _u(col: Column, salt: str, mod: int) -> Column:
    """Deterministic uniform integer in [0, mod) from (col, salt)."""
    return F.pmod(F.xxhash64(F.lit(f"{SEED}:{salt}"), col), F.lit(mod))


def _domain(src_id: Column) -> Column:
    hot = _u(src_id, "hot", 100) < 27
    hot_pick = _u(src_id, "hotpick", len(HOT_DOMAINS))
    # Zipf-ish cold tail: square a uniform to concentrate low ids.
    cold_u = _u(src_id, "cold", N_COLD_DOMAINS)
    cold = F.pmod(cold_u * cold_u, F.lit(N_COLD_DOMAINS))
    hot_expr = F.element_at(
        F.array(*[F.lit(d) for d in HOT_DOMAINS]), (hot_pick + 1).cast("int")
    )
    return F.when(hot, hot_expr).otherwise(
        F.concat(F.lit("site-"), cold.cast("string"), F.lit(".example.com"))
    )


def _url_for(src_id: Column) -> Column:
    return F.concat(
        F.lit("https://"), _domain(src_id), F.lit("/p/"), src_id.cast("string")
    )


def _text_for(url: Column) -> Column:
    """Pseudo-text as a pure function of url: a seed-picked phrase of
    ~8 words repeated k times, k log-normal-ish via product of two
    uniforms. Entirely JVM-side (concat/element_at/repeat)."""
    seed = F.xxhash64(F.lit(f"{SEED}:text"), url)
    words = F.array(*[F.lit(w) for w in _WORDS])
    phrase = F.concat_ws(
        " ",
        *[
            F.element_at(words, (F.pmod(seed + F.lit(i * 7919), F.lit(len(_WORDS))) + 1).cast("int"))
            for i in range(8)
        ],
    )
    # repeat count in [1, 64], skewed low: floor(((u1 * u2) / mod) * 63) + 1
    u1 = F.pmod(seed, F.lit(251))
    u2 = F.pmod(F.xxhash64(F.lit(f"{SEED}:len"), url), F.lit(251))
    k = ((u1 * u2) / F.lit(251.0 * 251.0) * 63.0).cast("int") + 1
    return F.concat(
        F.lit("DOC["), F.substring(F.sha2(url, 256), 1, 12), F.lit("] "),
        F.repeat(F.concat(phrase, F.lit(". ")), k),
    )


def _lang_for(url: Column, shift: int = 0) -> Column:
    """Zipf-ish language pick: square of a uniform concentrates on the
    head languages. ``shift`` rotates the mapping for drift tests."""
    u = F.pmod(F.xxhash64(F.lit(f"{SEED}:lang"), url), F.lit(N_LANGS * N_LANGS))
    idx = F.pmod(
        F.floor(F.sqrt(u.cast("double"))).cast("bigint") + F.lit(shift),
        F.lit(N_LANGS),
    )
    langs = F.array(*[F.lit(lang) for lang in LANGS])
    return F.element_at(langs, (idx + 1).cast("int"))


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Version-1 pages table, n rows, deterministic."""
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    df = rng.withColumnRenamed("id", "_id")
    # ~2% duplicate urls: ids divisible by 50 (except 0) reuse id-1's url.
    src = F.when(
        (F.pmod(F.col("_id"), F.lit(50)) == 0) & (F.col("_id") > 0),
        F.col("_id") - 1,
    ).otherwise(F.col("_id"))
    df = df.withColumn("_src", src).withColumn("url", _url_for(F.col("_src")))
    text = _text_for(F.col("url"))
    df = (
        df.withColumn(
            "warc_ts",
            F.to_timestamp(F.lit("2025-06-01 00:00:00"))
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0),
                (_u(F.col("_src"), "ts", 7 * 86400)).cast("double"),
            ),
        )
        .withColumn(
            "text",
            F.when(_u(F.col("url"), "nulltext", 100) == 0, F.lit(None)).otherwise(text),
        )
        .withColumn(
            "lang",
            F.when(_u(F.col("url"), "nulllang", 100) < 2, F.lit(None)).otherwise(
                _lang_for(F.col("url"))
            ),
        )
        .withColumn(
            "html",
            F.when(
                F.col("text").isNotNull(),
                F.concat(F.lit("<html><body>"), F.substring("text", 1, 64)).cast("binary"),
            ),
        )
    )
    return df.select("url", "warc_ts", "html", "text", "lang")


def synth_pages_v2(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Perturbed second version of the pages table, for row-diff /
    census / drift checks. Deterministic perturbations:

    * drop rows where u(id,'drop',97)==0 (~1%)
    * add ~1% new rows with ids in [n, n*1.01)
    * mutate text for u(url,'mut',41)==0 (~2.4%)
    * shift the lang mapping by 1 for ~10% of rows (distribution drift)
    """
    base = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    base = base.withColumnRenamed("id", "_id")
    base = base.filter(_u(F.col("_id"), "drop", 97) != 0)
    extra = spark.range(n, n + max(1, n // 100)).withColumnRenamed("id", "_id")
    ids = base.unionByName(extra)
    src = F.when(
        (F.pmod(F.col("_id"), F.lit(50)) == 0) & (F.col("_id") > 0) & (F.col("_id") < n),
        F.col("_id") - 1,
    ).otherwise(F.col("_id"))
    df = ids.withColumn("_src", src).withColumn("url", _url_for(F.col("_src")))
    text = _text_for(F.col("url"))
    mutated = F.concat(F.lit("EDITED "), text)
    text2 = F.when(_u(F.col("url"), "mut", 41) == 0, mutated).otherwise(text)
    df = (
        df.withColumn(
            "warc_ts",
            F.to_timestamp(F.lit("2025-06-08 00:00:00"))
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0),
                (_u(F.col("_src"), "ts2", 7 * 86400)).cast("double"),
            ),
        )
        .withColumn(
            "text",
            F.when(_u(F.col("url"), "nulltext", 100) == 0, F.lit(None)).otherwise(text2),
        )
        .withColumn(
            "lang",
            F.when(_u(F.col("url"), "nulllang", 100) < 2, F.lit(None)).otherwise(
                F.when(
                    _u(F.col("url"), "langmut", 10) == 0,
                    _lang_for(F.col("url"), shift=1),
                ).otherwise(_lang_for(F.col("url")))
            ),
        )
        .withColumn(
            "html",
            F.when(
                F.col("text").isNotNull(),
                F.concat(F.lit("<html><body>"), F.substring("text", 1, 64)).cast("binary"),
            ),
        )
    )
    return df.select("url", "warc_ts", "html", "text", "lang")


def synth_domains(spark: SparkSession) -> DataFrame:
    """Dimension snapshot of known domains. Deliberately misses cold
    domains whose index ≡ 4 (mod 10) — 4 IS a quadratic residue mod 10,
    so (unlike e.g. 7) such domains actually occur in the squared-
    uniform Zipf scheme of ``_domain`` — giving a referential check of
    pages.domain against this snapshot real violations to find."""
    rows = [(d, "hot") for d in HOT_DOMAINS] + [
        (f"site-{i}.example.com", "cold")
        for i in range(N_COLD_DOMAINS)
        if i % 10 != 4
    ]
    # an Arrow LocalRelation: Catalyst sizes it (rows × row width,
    # ≈216 KB), so refint.maybe_broadcast hints the broadcast without
    # its row-probe job, and no Python worker starts. A Python-list
    # createDataFrame would plan a LogicalRDD of unknown size instead
    return local_frame(spark, rows, "domain string, tier string")


def domain_of(url: Column) -> Column:
    """Extract the domain from a url (shared by checks and tests).

    Two substring_index calls instead of regexp_extract: byte-level
    UTF8String ops, no Java-regex NFA in the per-row hot path. For
    well-formed http(s) urls the result is identical; a scheme-less
    input yields the text before the first '/' rather than '' (no
    such rows exist in the synthetic tables)."""
    return F.substring_index(F.substring_index(url, "://", -1), "/", 1)
