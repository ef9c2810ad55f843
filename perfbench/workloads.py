"""The benchmark's workloads: how each one builds its inputs, the one
suite call it times, and how that call's output is checked.

Inputs come from ``data_check_spark.sources.synth``. A run's seed
keeps the N urls with the smallest seeded hash among the urls of a
2N-row synth table, with all their rows; the same selection is applied
to the v1 and v2 tables, so duplicate-url pairs and the v1/v2 pairing
survive.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.plans.suite import (
    CheckSuite,
    CompareCheck,
    FunctionalDependencyCheck,
    LineDupCheck,
    LMCheck,
    NearDupCheck,
    RepetitionCheck,
)
from data_check_spark.runner import default_pages_suite
from data_check_spark.sources.synth import synth_pages, synth_pages_v2

import oracle

VERDICT_SCHEMA = (
    "partition string, column string, check string, "
    "metric double, threshold double, passed boolean"
)


def seeded_hash(seed: int) -> Column:
    return F.xxhash64(F.lit(f"perfbench:{seed}"), F.col("url"))


def seeded_cut(spark: SparkSession, seed: int, docs: int) -> int:
    """The largest seeded url hash among the ``docs`` smallest of the
    2N-row synth table's distinct urls: ``hash <= cut`` keeps exactly
    ``docs`` urls, so the input size does not vary with the seed."""
    hashes = synth_pages(spark, 2 * docs).select(seeded_hash(seed).alias("h"))
    return hashes.distinct().orderBy("h").limit(docs).agg(F.max("h")).first()[0]


def materialize(spark: SparkSession, out: str, seed: int, docs: int, v2: bool) -> dict:
    """Write the seed's selection of the synth tables to parquet and
    return their paths: ``v1`` always, ``v2`` (the perturbed second
    version, same url selection) when asked. The two writes run
    concurrently."""
    keep = seeded_hash(seed) <= F.lit(seeded_cut(spark, seed, docs))
    tables = {"v1": synth_pages}
    if v2:
        tables["v2"] = synth_pages_v2
    paths = {name: os.path.join(out, name) for name in tables}
    with ThreadPoolExecutor(len(tables)) as pool:
        futures = [
            pool.submit(make(spark, 2 * docs).filter(keep).write.parquet, paths[name])
            for name, make in tables.items()
        ]
        for f in futures:
            f.result()
    return paths


def with_day(df: DataFrame) -> DataFrame:
    # the runner's partitioning: one partition per crawl day (7 days)
    return df.withColumn("warc_day", F.to_date("warc_ts"))


def validate_suite() -> CheckSuite:
    return CheckSuite(
        default_pages_suite(with_drift=True).checks
        + [
            CompareCheck(
                "diff",
                pk="url",
                columns=["text", "lang"],
                max_missing_ratio=0.05,
                min_ratio_equal=0.9,
            )
        ]
    )


def gates_suite() -> CheckSuite:
    # the thresholds of the README's corpus-gates CLI example
    return CheckSuite(
        [
            NearDupCheck(text_col="text", id_col="url", max_neardup_frac=0.05),
            LineDupCheck(text_col="text", id_col="url", max_dup_line_frac=0.3),
            LMCheck(
                text_col="text",
                id_col="url",
                min_mean_p=0.0005,
                max_mean_p=0.9,
                max_outlier_frac=0.05,
            ),
            RepetitionCheck(
                text_col="text",
                max_mean_dup_2gram=0.5,
                id_col="url",
                doc_dup_2gram_limit=0.9,
            ),
            FunctionalDependencyCheck("url", ("text",)),
        ]
    )


def run_suite(
    spark, suite: CheckSuite, paths: dict, tracer, force_violations: bool
) -> tuple[list, object]:
    """One timed suite call: ``run()``, then every verdict row
    collected and, if asked, every violation frame forced through a
    noop sink. Returns the verdict rows and the (still cached)
    SuiteResult."""
    df = with_day(spark.read.parquet(paths["v1"]))
    ref = spark.read.parquet(paths["v2"]) if "v2" in paths else None
    with tracer.span("plans.suite.run"):
        res = suite.run(spark, df, "warc_day", reference_df=ref)
    with tracer.span("plans.suite.force"):
        rows = [tuple(r) for r in res.verdicts.collect()]
        for viol in res.violations.values() if force_violations else ():
            viol.write.format("noop").mode("overwrite").save()
    return rows, res


@dataclass
class Workload:
    name: str
    docs: int  # urls kept from the 2N-row synth table (~1.02 rows each)
    needs_v2: bool
    # the corpus gates' violation dumps re-derive their per-doc frames
    # (~17 s of fixed cost per call), which the run's time budget
    # cannot hold; that workload times the verdicts only
    force_violations: bool
    suite: Callable[[], CheckSuite]
    # the suite's checks run by this workload, as the operator calls the
    # traced run times standalone (see layers.py)
    own_layers: tuple[str, ...]

    def expected(self, paths: dict) -> dict:
        if self.name == "validate":
            return oracle.validate_expected(paths["v1"], paths["v2"])
        return oracle.fd_expected(paths["v1"])

    def check(self, rows: list[tuple], expected: dict) -> list[str]:
        """Problems with one call's verdict rows (empty = correct)."""
        problems = oracle.compare_metrics(rows, expected)
        problems += oracle.check_passed_flags(rows)
        if self.name == "corpus_gates":
            parts = {k[0] for k in expected}
            keys = {(p, "url", "fd") for p in parts}
            keys |= {(p, "text", "repetition_mean_dup_2gram") for p in parts}
            keys |= {
                ("*", "text", c)
                for c in ("neardup_frac", "dup_line_frac", "lm_outlier_frac")
            }
            problems += oracle.check_rows(rows, keys)
        return problems


WORKLOADS = {
    "validate": Workload(
        "validate",
        docs=10_000,
        needs_v2=True,
        force_violations=True,
        suite=validate_suite,
        own_layers=(
            "operators.stats.partition_stats_pass",
            "operators.unique.uniqueness_violations",
            "operators.refint.referential_violations",
            "operators.drift.drift_profile",
            "operators.rowdiff.pk_census",
            "operators.rowdiff.column_match_ratios",
        ),
    ),
    "corpus_gates": Workload(
        "corpus_gates",
        docs=500,
        needs_v2=False,
        force_violations=False,
        suite=gates_suite,
        own_layers=(
            "operators.dedup.minhash_lsh_pairs",
            "operators.components.duplicate_clusters",
            "operators.linededup.line_duplicate_stats",
            "operators.lm.bigram_lm_scores",
            "operators.unique.fd_violations",
            "functions.textstats.repetition_metrics",
        ),
    ),
}
