"""The traced run's standalone calls into each module's public
functions, one span per call, on the workload's own input.

A workload's own operators run on its whole input. The other
workload's operators run on a fixed-size sample of it, so every layer
is measured on every workload; on that sample the prediction for an
unrelated change is no change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.functions.textstats import repetition_metrics
from data_check_spark.operators.components import duplicate_clusters
from data_check_spark.operators.dedup import minhash_lsh_pairs
from data_check_spark.operators.drift import drift_profile
from data_check_spark.operators.lm import bigram_lm_scores
from data_check_spark.operators.linededup import line_duplicate_stats
from data_check_spark.operators.refint import referential_violations
from data_check_spark.operators.rowdiff import column_match_ratios, pk_census
from data_check_spark.operators.stats import partition_stats_pass
from data_check_spark.operators.unique import fd_violations, uniqueness_violations
from data_check_spark.plans.audit import write_audit
from data_check_spark.plans.manifest import Manifest
from data_check_spark.sources.synth import domain_of, synth_domains

from resume import HOURS
from workloads import VERDICT_SCHEMA, WORKLOADS, with_day

SAMPLE_DOCS = 300  # docs a foreign workload's operators see
# columns the suites read: the scan layer's unit of work
SCAN_COLS = ["url", "warc_ts", "text", "lang"]
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.synth.materialize_s": "s",
    "sources.input_mb": "MB",
    "sources.scan_s": "s",
    "plans.suite.run_s": "s",
    "plans.suite.force_s": "s",
    "plans.suite.jobs": "count",
    "plans.suite.stages": "count",
    "plans.suite.tasks": "count",
    "plans.suite.input_scans": "count",
    "plans.suite.shuffle_write_mb": "MB",
    "plans.suite.spill_mb": "MB",
    "plans.suite.fusion_ratio": "ratio",
    "operators.stats.partition_stats_pass_s": "s",
    "operators.unique.uniqueness_violations_s": "s",
    "operators.refint.referential_violations_s": "s",
    "operators.drift.drift_profile_s": "s",
    "operators.rowdiff.pk_census_s": "s",
    "operators.rowdiff.column_match_ratios_s": "s",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.dedup.pairs": "count",
    "operators.components.duplicate_clusters_s": "s",
    "operators.linededup.line_duplicate_stats_s": "s",
    "operators.lm.bigram_lm_scores_s": "s",
    "operators.unique.fd_violations_s": "s",
    "functions.textstats.repetition_metrics_s": "s",
    "plans.manifest.pending_s": "s",
    "plans.manifest.mark_complete_s": "s",
    "plans.manifest.records": "count",
    "plans.audit.write_audit_s": "s",
    "plans.audit.bytes_written": "bytes",
    "plans.audit.files_written": "count",
}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample(df: DataFrame, docs: int) -> DataFrame:
    """A deterministic ~SAMPLE_DOCS-row subset of a ``docs``-row table."""
    mod = max(1, docs // SAMPLE_DOCS)
    return df.filter(F.pmod(F.xxhash64(F.lit("layer-sample"), F.col("url")), F.lit(mod)) == 0)


def _validate_ops(tracer, df: DataFrame, ref: DataFrame) -> None:
    spark = df.sparkSession
    thresholds = WORKLOADS["validate"].suite().checks[0].thresholds
    with tracer.span("operators.stats.partition_stats_pass"):
        partition_stats_pass(
            df, F.col("warc_day").cast("string"), thresholds, exact_distinct=("lang",)
        ).collect()
    with tracer.span("operators.unique.uniqueness_violations"):
        _noop(uniqueness_violations(df, "url"))
    with tracer.span("operators.refint.referential_violations"):
        _noop(
            referential_violations(
                df, domain_of(F.col("url")), synth_domains(spark), "domain"
            )
        )
    with tracer.span("operators.drift.drift_profile"):
        drift_profile(
            df, {"lang": F.col("lang")}, {"text_length": (F.length("text"), 0.0, 5000.0, 50)}
        ).collect()
    with tracer.span("operators.rowdiff.pk_census"):
        pk_census(df, ref, "url").collect()
    with tracer.span("operators.rowdiff.column_match_ratios"):
        column_match_ratios(df, ref, "url", columns=["text", "lang"]).collect()


def _gates_ops(tracer, df: DataFrame) -> int:
    """Returns the number of near-duplicate candidate pairs."""
    with tracer.span("operators.dedup.minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(
            df, text_col="text", id_col="url", jaccard_threshold=0.8, pair_mode="chain"
        ).localCheckpoint()
        n_pairs = pairs.count()
    with tracer.span("operators.components.duplicate_clusters"):
        _noop(duplicate_clusters(pairs))
    with tracer.span("operators.linededup.line_duplicate_stats"):
        _noop(line_duplicate_stats(df, id_col="url", text_col="text"))
    with tracer.span("operators.lm.bigram_lm_scores"):
        _noop(bigram_lm_scores(df.select("url", "text"), id_col="url", text_col="text"))
    with tracer.span("operators.unique.fd_violations"):
        _noop(fd_violations(df, "url", ["text"]))
    with tracer.span("functions.textstats.repetition_metrics"):
        _noop(repetition_metrics(df.select("url", "text"), "text"))
    return n_pairs


def run_layers(
    spark: SparkSession, tracer, workload: str, paths: dict, docs: int,
    verdict_rows: list[tuple], out: str,
) -> dict[str, float]:
    """Time every layer's standalone calls; return the counts that go
    with them (pairs, manifest records, audit bytes and files)."""
    with tracer.span("sources.scan"):
        _noop(spark.read.parquet(paths["v1"]).select(*SCAN_COLS))

    df = with_day(spark.read.parquet(paths["v1"]))
    if workload == "validate":
        _validate_ops(tracer, df, spark.read.parquet(paths["v2"]))
        n_pairs = _gates_ops(tracer, _sample(df, docs))
    else:
        # corpus_gates has no second version: the diffs compare the
        # table with itself
        _validate_ops(tracer, df, df)
        n_pairs = _gates_ops(tracer, df)

    manifest = Manifest(os.path.join(out, "manifest"))
    with tracer.span("plans.manifest.mark_complete"):
        for hour in HOURS[::2]:
            manifest.mark_complete(hour, tracer.run_id, {"checks": 1, "failed": 0})
    with tracer.span("plans.manifest.pending"):
        pending = manifest.pending(HOURS)
    with tracer.span("plans.manifest.mark_complete"):
        for hour in pending:
            manifest.mark_complete(hour, tracer.run_id, {"checks": 1, "failed": 0})
    records = len(manifest.completed())

    audit = os.path.join(out, "audit")
    with tracer.span("plans.audit.write_audit"):
        write_audit(
            spark.createDataFrame(verdict_rows, VERDICT_SCHEMA),
            f"{audit}/verdicts", tracer.run_id, "verdict",
        )
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(audit)
        for f in names
        if not f.startswith((".", "_"))
    ]
    return {
        "operators.dedup.pairs": float(n_pairs),
        "plans.manifest.records": float(records),
        "plans.audit.bytes_written": float(sum(os.path.getsize(f) for f in files)),
        "plans.audit.files_written": float(len(files)),
    }
