"""spark-submit entry point (north rule: "submitted via spark-submit
--py-files").

Usage:
    spark-submit --py-files dcs.zip data_check_spark/runner.py \
        --data /path/pages.parquet [--reference /path/pages_v2.parquet] \
        --out /path/out [--synthesize N] [--partitions K]

Runs the default web-pages check suite (per-column stat thresholds,
url uniqueness, domain referential integrity, lang + text-length
drift) partitioned by warc day, resumable via the manifest under
--out/manifest, verdicts + violations appended under --out/audit.
Exit code 0 = all partitions passed, 1 = failures, 2 = nothing pending.
"""

from __future__ import annotations

import argparse
import sys
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.plans.manifest import Manifest
from data_check_spark.plans.suite import (
    CategoricalDriftCheck,
    CheckSuite,
    NumericDriftCheck,
    ReferentialCheck,
    StatsCheck,
    UniquenessCheck,
)
from data_check_spark.session import CACHED_PLAN_AQE
from data_check_spark.sources.synth import domain_of, synth_domains, synth_pages, synth_pages_v2


# expected-extraction expression for the SYNTH corpus (synth_pages
# embeds the text's 64-char prefix in the html payload); a real corpus
# whose text column IS the full extraction passes plain "text"
SYNTH_EXTRACT_EXPECTED_SQL = (
    "trim(regexp_replace(substring(text, 1, 64), '[ \t\n\f\r]+', ' '))"
)


def default_pages_suite(
    with_drift: bool,
    with_repetition: bool = False,
    with_fd: bool = False,
    neardup_gate: float | None = None,
    lang_min_entropy: float | None = None,
    lang_max_mode_share: float | None = None,
    extract_expected_sql: str | None = None,
    linedup_gate: float | None = None,
    lm_gate: tuple[float, float, float] | None = None,
) -> CheckSuite:
    """The standard web-pages validation suite. ``with_repetition``
    adds the Gopher boilerplate gate (one extra scan of (partition,
    text) — see RepetitionCheck); ``with_fd`` adds the url → text
    functional-dependency gate (the BASELINE.json per-row invariant;
    one extra hash-pair scan — see FunctionalDependencyCheck). Every
    optional check defaults OFF because the benchmark's ``validate``
    workload (perfbench/workloads.py) runs
    ``default_pages_suite(with_drift=True)``: changing a default
    changes the verdict digests it has recorded. (Quantile thresholds
    — min_/max_ p50/p90/p99 — are available in StatsCheck for numeric columns;
    the pages schema has none, so they're exercised on the documents
    table instead.)"""
    checks: list = [
        StatsCheck(
            thresholds={
                # min_avg_tokens: token-level content check (one regex
                # tokenize pass, fused into the same aggregation)
                "text": {"max_null_rate": 0.05, "min_rows": 1, "min_avg_tokens": 3},
                "lang": {"max_null_rate": 0.05, "min_distinct": 2},
                "url": {"max_null_rate": 0.0},
            },
            # lang is ~20 values: exact two-key distinct beats the HLL
            # sketch at both parallelism levels (see StatsCheck)
            exact_distinct=("lang",),
        ),
        UniquenessCheck(key="url", max_duplicate_keys=0),
        ReferentialCheck(
            name="domain_in_snapshot",
            fact_key=lambda: domain_of(F.col("url")),
            dim=synth_domains,
            dim_key="domain",
            max_violation_rows=0,
        ),
    ]
    if with_drift:
        checks.append(CategoricalDriftCheck(column="lang", max_psi=0.2))
        checks.append(
            NumericDriftCheck(
                name="text_length",
                expr=lambda: F.length("text"),
                lo=0.0,
                hi=5000.0,
                max_psi=0.2,
            )
        )
    if with_repetition:
        from data_check_spark.plans.suite import RepetitionCheck

        checks.append(
            RepetitionCheck(
                text_col="text",
                max_mean_dup_2gram=0.5,
                id_col="url",
                doc_dup_2gram_limit=0.9,
            )
        )
    if with_fd:
        from data_check_spark.plans.suite import FunctionalDependencyCheck

        checks.append(FunctionalDependencyCheck("url", ("text",)))
    if lang_min_entropy is not None or lang_max_mode_share is not None:
        from data_check_spark.plans.suite import ProfileCheck

        # categorical-health gate on lang: entropy collapse (crawl
        # degraded to one language) / hot-value takeover; rides the
        # drift checks' fused profile scan — zero extra scans when
        # drift is on, one |categories|-row profile scan when not
        checks.append(
            ProfileCheck(
                "lang",
                min_entropy=lang_min_entropy,
                max_mode_share=lang_max_mode_share,
            )
        )
    if extract_expected_sql is not None:
        from data_check_spark.functions.html import html_to_text_sql
        from data_check_spark.plans.suite import ExprCheck

        # the input_hint invariant as a row predicate: the text column
        # must BE the extraction of the html payload (NULL html rows
        # are exempt — nothing to extract). Rides the fused stats pass
        # (zero extra scans); violating urls dump under
        # expr:html_text_invariant.
        checks.append(
            ExprCheck(
                "html_text_invariant",
                "html IS NULL OR "
                + html_to_text_sql("CAST(html AS STRING)", "spark")
                + " = (" + extract_expected_sql + ")",
                id_col="url",
            )
        )
    if neardup_gate is not None:
        from data_check_spark.plans.suite import NearDupCheck

        # global near-duplicate MASS gate (own MinHash+cluster pass —
        # not fused; opt-in like repetition/FD, see the docstring)
        checks.append(
            NearDupCheck(
                text_col="text", id_col="url", max_neardup_frac=neardup_gate
            )
        )
    if linedup_gate is not None:
        from data_check_spark.plans.suite import LineDupCheck

        # global CCNet boilerplate-mass gate (one scan+split+explode
        # pass; opt-in like repetition/FD, see the docstring)
        checks.append(
            LineDupCheck(
                text_col="text", id_col="url", max_dup_line_frac=linedup_gate
            )
        )
    if lm_gate is not None:
        from data_check_spark.plans.suite import LMCheck

        lo, hi, frac = lm_gate
        # global CCNet fluency-band gate: self-trained bigram LM, the
        # out-of-band doc fraction must stay under `frac`
        checks.append(
            LMCheck(
                text_col="text", id_col="url",
                min_mean_p=lo, max_mean_p=hi, max_outlier_frac=frac,
            )
        )
    return CheckSuite(checks)


def _stage_complete(spark: SparkSession, *paths: str) -> bool:
    """True iff every path carries Spark's _SUCCESS commit marker —
    the stage's writes all finished. Goes through the Hadoop
    FileSystem API so the check works on whatever filesystem the
    output URI names (HDFS/S3A/local), same as the write itself."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for path in paths:
        p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_SUCCESS")
        if not p.getFileSystem(conf).exists(p):
            return False
    return True


# what spark.read.parquet raises for an audit table with nothing
# stored yet: the directory is missing, or it holds no files
_NOTHING_STORED = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _stored(read: Callable):
    """``read()`` of an audit table, or None when nothing is stored
    there yet (a first run bootstraps it). Any other failure, such as a
    corrupt file, propagates: running on without the stored baseline
    would drop its gate silently."""
    try:
        return read()
    except ValueError:  # latest_run: the table holds no rows
        return None
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_STORED:
            return None
        raise


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", help="pages parquet path (else --synthesize)")
    ap.add_argument("--reference", help="previous-version parquet for drift/diff")
    ap.add_argument("--out", required=True)
    ap.add_argument("--synthesize", type=int, default=0, help="rows to synthesize")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--reset", action="store_true", help="clear the manifest")
    ap.add_argument(
        "--drift-from-audit",
        action="store_true",
        help="drift against the stored profile of the last validated "
        "run ({out}/audit/drift_profiles) instead of rescanning a "
        "--reference table; this run's own profile is appended for "
        "the next version",
    )
    ap.add_argument(
        "--schema-from-audit",
        action="store_true",
        help="fail fast on schema drift vs the last validated run's "
        "stored schema ({out}/audit/schemas; exact — new, dropped and "
        "retyped columns all fail); every audited run appends its own "
        "schema, so the first run bootstraps automatically",
    )
    ap.add_argument(
        "--neardup-gate",
        type=float,
        default=None,
        metavar="FRAC",
        help="add the global near-duplicate mass gate: fail when the "
        "fraction of pages a keep-one-exemplar dedup would drop "
        "(MinHash-LSH pairs -> connected-component clusters, keyed "
        "by url) exceeds FRAC; violations dump the non-exemplar "
        "members with cluster labels",
    )
    ap.add_argument(
        "--linedup-gate",
        type=float,
        default=None,
        metavar="FRAC",
        help="add the global CCNet boilerplate-mass gate: fail when "
        "the fraction of line segments whose normalized form recurs "
        "in >= 2 documents exceeds FRAC; worst documents dump under "
        "linedup:text",
    )
    ap.add_argument(
        "--lm-gate",
        default=None,
        metavar="LO:HI:FRAC",
        help="add the global CCNet fluency-band gate: self-train a "
        "bigram LM on the corpus, score each document's mean smoothed "
        "bigram probability, fail when the fraction of docs outside "
        "[LO, HI] exceeds FRAC (e.g. 0.0005:0.9:0.05); most-anomalous "
        "docs dump under lm:text",
    )
    ap.add_argument(
        "--repetition-gate",
        action="store_true",
        help="add the per-partition Gopher repetition gate (mean "
        "duplicate-2-gram fraction; one extra scan of (partition, "
        "text)); worst documents dump under repetition:text",
    )
    ap.add_argument(
        "--fd-check",
        action="store_true",
        help="add the url -> byte-identical-text functional-dependency "
        "gate (the input-table per-row invariant; one extra hash-pair "
        "scan)",
    )
    ap.add_argument(
        "--lang-min-entropy",
        type=float,
        default=None,
        metavar="BITS",
        help="add a ProfileCheck on lang: fail when the language "
        "distribution's Shannon entropy drops below BITS (a crawl "
        "collapsing to one language); rides the drift profile scan",
    )
    ap.add_argument(
        "--lang-max-mode-share",
        type=float,
        default=None,
        metavar="FRAC",
        help="add a ProfileCheck on lang: fail when any single "
        "language exceeds FRAC of non-null rows",
    )
    ap.add_argument(
        "--extract-check",
        nargs="?",
        const=SYNTH_EXTRACT_EXPECTED_SQL,
        default=None,
        metavar="EXPECTED_SQL",
        help="add the html→text extraction invariant (functions/html): "
        "every non-NULL html payload's extraction must equal "
        "EXPECTED_SQL (a Spark-SQL expression over the row; pass "
        "'text' when the text column is the full extraction). With "
        "no value, uses the synth-corpus form (64-char text prefix). "
        "Rides the fused stats pass — zero extra scans",
    )
    ap.add_argument(
        "--suite-config",
        default=None,
        metavar="JSON",
        help="replace the default pages suite with one built from a "
        "JSON config file (plans/config.py: {'checks': [{'kind': "
        "'stats', ...}, ...]}) — the version-controlled declarative "
        "surface; composes with --schema-from-audit (prepended) like "
        "the default suite",
    )
    ap.add_argument(
        "--suggest-to-audit",
        action="store_true",
        help="profile the input (one fused HLL stats pass + a "
        "count-only per-partition pass) and append the suggested "
        "constraints to {out}/audit/suggestions for review; a later "
        "run can build its suite from the stored (possibly "
        "human-edited) rows via --suite-from-suggestions",
    )
    ap.add_argument(
        "--suite-from-suggestions",
        action="store_true",
        help="replace the default pages suite with one assembled from "
        "the latest stored {out}/audit/suggestions rows; falls back "
        "to the default suite (with a message) when nothing is "
        "stored yet",
    )
    ap.add_argument(
        "--route-out",
        default=None,
        metavar="DIR",
        help="also run the quarantine router: write every input row to "
        "DIR/clean or DIR/quarantine (the latter with a "
        "quarantine_reasons column) per the standard pages rules — "
        "text/lang not null, url unique (whole duplicate groups "
        "quarantined: synth/crawl dup rows are byte-identical, so "
        "there is no deterministic exemplar to keep), url -> "
        "byte-identical text",
    )
    ap.add_argument(
        "--route-packs",
        default=None,
        metavar="PACKS",
        help="comma list of extra rule packs for --route-out: "
        "'gopher' (Rae et al. quality gates) and/or 'encoding' "
        "(decode-scar zero-tolerance); both are row-local and add "
        "zero shuffles to the routing pass",
    )
    ap.add_argument(
        "--dedup-out",
        default=None,
        metavar="DIR",
        help="also run the full fuzzy-dedup lifecycle and write the "
        "post-dedup corpus to DIR/corpus: MinHash-LSH pairs -> "
        "connected-component clusters -> keep one exemplar (min url) "
        "per cluster plus every unclustered row. Input is the routed "
        "clean corpus when --route-out ran, else the raw input",
    )
    ap.add_argument(
        "--dedup-threshold",
        type=float,
        default=0.8,
        metavar="J",
        help="Jaccard threshold for --dedup-out pair generation "
        "(default 0.8)",
    )
    ap.add_argument(
        "--mix-out",
        default=None,
        metavar="DIR",
        help="also build the training mix and write it to DIR/corpus "
        "(with an epoch column): sources reweighted to --mix-weights "
        "proportions with up to --mix-epochs repetitions "
        "(operators/mixing — deterministic md5-bucket decisions, "
        "re-run stable). Input is the latest upstream stage's output "
        "(deduped > routed clean > raw)",
    )
    ap.add_argument(
        "--mix-weights",
        default=None,
        metavar="JSON",
        help='target proportions for --mix-out, e.g. \'{"en": 5, '
        '"de": 3, "fr": 2}\' keyed by --mix-by values; integer '
        "weights keep the plan math engine-exact",
    )
    ap.add_argument(
        "--mix-by",
        default="lang",
        metavar="COL",
        help="source column for --mix-out (default lang: language-mix "
        "targets)",
    )
    ap.add_argument(
        "--mix-epochs",
        type=float,
        default=1.0,
        metavar="F",
        help="max repetition factor for --mix-out (default 1.0 = "
        "downsample only)",
    )
    ap.add_argument(
        "--shard-out",
        default=None,
        metavar="DIR",
        help="also export the final corpus (mixed > deduped > routed "
        "clean > raw, whichever ran last) as DIR/shard=K/ parquet with "
        "deterministic md5-bucket shard assignment keyed by url, "
        "plus the per-shard fingerprint manifest at DIR/_manifest; "
        "the written files are re-read and re-fingerprinted — the "
        "export is proven on disk (operators/export)",
    )
    ap.add_argument(
        "--resume-stages",
        action="store_true",
        help="skip any construction stage whose output is already "
        "complete on disk (Spark's _SUCCESS marker; for --shard-out, "
        "the _manifest written AFTER the on-disk verification): a "
        "failed shard export resumes without redoing the dedup that "
        "preceded it — the construction-side twin of the manifest "
        "resume the validation side already has. Off by default: a "
        "plain re-run recomputes every requested stage",
    )
    ap.add_argument(
        "--shards",
        type=int,
        default=16,
        metavar="N",
        help="shard count for --shard-out (default 16)",
    )
    ap.add_argument(
        "--anomaly-gate",
        type=float,
        default=None,
        metavar="K",
        help="after the suite, gate this run's metrics against the "
        "audit history of previous runs: fail when a metric moves "
        "more than K MADs from its per-(partition, column, check) "
        "historical median (1%% relative floor so constant histories "
        "don't flag float dust); runs with fewer than 3 prior runs "
        "pass — the gate arms itself as the audit trail grows",
    )
    args = ap.parse_args(argv)

    # fail flag typos BEFORE the (possibly hours-long) suite run, not
    # after it: a truncated --mix-weights JSON must die at parse time
    mix_weights = None
    if args.mix_out:
        if not args.mix_weights:
            ap.error("--mix-out requires --mix-weights")
        import json as _json

        try:
            mix_weights = _json.loads(args.mix_weights)
        except ValueError as e:
            ap.error(f"--mix-weights is not valid JSON: {e}")
        if not isinstance(mix_weights, dict) or not all(
            isinstance(v, (int, float)) for v in mix_weights.values()
        ):
            ap.error("--mix-weights must be a JSON object of numbers")
        if args.mix_epochs < 1.0:
            ap.error("--mix-epochs must be >= 1.0")
    lm_gate = None
    if args.lm_gate:
        try:
            lo, hi, frac = (float(x) for x in args.lm_gate.split(":"))
        except ValueError:
            ap.error(f"--lm-gate must be LO:HI:FRAC, got {args.lm_gate!r}")
        lm_gate = (lo, hi, frac)

    # spark-submit supplies master and shuffle width; getOrCreate also
    # applies CACHED_PLAN_AQE to a session that already exists
    spark = (
        SparkSession.builder.appName("data-check-spark-runner")
        .config(map=CACHED_PLAN_AQE)
        .getOrCreate()
    )

    if args.data:
        df: DataFrame = spark.read.parquet(args.data)
    elif args.synthesize:
        df = synth_pages(spark, args.synthesize, args.partitions)
    else:
        ap.error("need --data or --synthesize")
    ref = None
    if args.reference:
        ref = spark.read.parquet(args.reference)
    elif args.synthesize:
        ref = synth_pages_v2(spark, args.synthesize, args.partitions)

    manifest = Manifest(f"{args.out}/manifest")
    if args.reset:
        manifest.reset()
    ref_profile = None
    if args.drift_from_audit:
        from data_check_spark.plans.suite import drift_profile_from_audit

        # first version: nothing stored yet — run without drift
        # verdicts and bootstrap the profile below
        ref_profile = _stored(
            lambda: drift_profile_from_audit(spark, f"{args.out}/audit/drift_profiles")
        )
    suite = default_pages_suite(
        with_drift=ref is not None or ref_profile is not None,
        with_repetition=args.repetition_gate,
        with_fd=args.fd_check,
        neardup_gate=args.neardup_gate,
        lang_min_entropy=args.lang_min_entropy,
        lang_max_mode_share=args.lang_max_mode_share,
        extract_expected_sql=args.extract_check,
        linedup_gate=args.linedup_gate,
        lm_gate=lm_gate,
    )
    if args.suite_config:
        from data_check_spark.plans.config import load_suite

        suite = load_suite(args.suite_config)
        print(f"suite loaded from {args.suite_config}")
    if args.suite_from_suggestions:
        from data_check_spark.plans.suggest import (
            suggestions_from_audit,
            suite_from_suggestions,
        )

        stored = _stored(lambda: suggestions_from_audit(spark, f"{args.out}/audit"))
        if stored is None:
            print("no stored suggestions yet — running the default suite")
        else:
            suite = suite_from_suggestions(stored)
            print("suite assembled from stored suggestions")
    if args.schema_from_audit:
        from data_check_spark.plans.suite import SchemaCheck, schema_from_audit

        expected = _stored(lambda: schema_from_audit(spark, f"{args.out}/audit/schemas"))
        if expected is None:
            print("no stored schema yet — this run bootstraps it")
        else:
            suite = CheckSuite(
                [SchemaCheck(expected=expected, exact=True)] + suite.checks
            )
    if "warc_day" not in df.columns:
        df = df.withColumn("warc_day", F.to_date("warc_ts"))
    result = suite.run_resumable(
        spark,
        df,
        "warc_day",
        manifest,
        audit_path=f"{args.out}/audit",
        reference_df=ref,
        reference_profile=ref_profile,
    )
    constructing = bool(
        args.route_out or args.dedup_out or args.mix_out or args.shard_out
    )
    if result is None:
        print("nothing pending — all partitions complete per manifest")
        if not constructing:
            return 2
        # the validation side is complete, but the user asked for
        # corpus-construction outputs THIS run — produce them instead
        # of silently skipping the export they requested
        print("corpus-construction stages still run on the validated table")
    if result is not None and args.drift_from_audit and ref_profile is None and ref is None:
        # version-1 bootstrap: persist this table's profile so the
        # NEXT version's --drift-from-audit run has a baseline (one
        # extra profile scan, paid once per table lifetime)
        from data_check_spark.plans.audit import write_audit

        boot = default_pages_suite(with_drift=True).drift_profile_of(df)
        write_audit(
            boot, f"{args.out}/audit/drift_profiles", result.run_id, "drift_profile"
        )
        print("bootstrapped drift profile for the next version")
    if result is not None and args.suggest_to_audit:
        from data_check_spark.plans.suggest import (
            persist_suggestions,
            suggest_constraints,
        )

        sugg = suggest_constraints(df, partition_col="warc_day")
        persist_suggestions(sugg, f"{args.out}/audit", result.run_id)
        print(f"suggestions persisted for run {result.run_id}")
    # verdict tally up front: the construction stages below warn (not
    # silently ship) when the suite they ran alongside FAILED
    failed = (
        result.verdicts.filter(~F.col("passed")).count() if result is not None else 0
    )
    # corpus-construction stages chain: raw -> (routed clean) ->
    # (deduped) -> (mixed) -> (sharded); each stage reads the previous
    # stage's WRITTEN output, so a stage failure never ships a
    # half-built successor, and quarantined rows never reach the
    # dedup/mix/shard outputs
    corpus_path: str | None = None
    if failed and (args.mix_out or args.shard_out):
        print(
            f"WARNING: {failed} suite verdict(s) FAILED — the mix/shard "
            f"outputs below are built from a corpus the quality gates "
            f"rejected; inspect {args.out}/audit before training on them"
        )
    if args.route_out and args.resume_stages and _stage_complete(
        spark, f"{args.route_out}/clean", f"{args.route_out}/quarantine"
    ):
        print(f"routed: resumed from existing {args.route_out}")
        corpus_path = f"{args.route_out}/clean"
    elif args.route_out:
        from data_check_spark.operators.quarantine import (
            FDRule,
            NotNullRule,
            UniqueRule,
            encoding_rules,
            gopher_rules,
            route_rows,
            split,
        )

        rules = [
            NotNullRule("text"),
            NotNullRule("lang"),
            UniqueRule("url", id_col="warc_ts", keep_exemplar=False),
            FDRule("url", deps=("text",)),
        ]
        packs = {"gopher": gopher_rules, "encoding": encoding_rules}
        for pack in filter(None, (args.route_packs or "").split(",")):
            if pack.strip() not in packs:
                raise SystemExit(
                    f"unknown --route-packs entry {pack.strip()!r} "
                    f"(choose from {sorted(packs)})"
                )
            rules.extend(packs[pack.strip()]())
        routed = route_rows(df, rules).persist()
        clean, quarantined = split(routed)
        clean.write.mode("overwrite").parquet(f"{args.route_out}/clean")
        quarantined.write.mode("overwrite").parquet(f"{args.route_out}/quarantine")
        n_q = quarantined.count()
        routed.unpersist()
        print(f"routed: {n_q} row(s) quarantined to {args.route_out}/quarantine")
        corpus_path = f"{args.route_out}/clean"
    if args.dedup_out and args.resume_stages and _stage_complete(
        spark, f"{args.dedup_out}/corpus"
    ):
        print(f"dedup: resumed from existing {args.dedup_out}/corpus")
        corpus_path = f"{args.dedup_out}/corpus"
    elif args.dedup_out:
        from data_check_spark.operators.components import (
            duplicate_clusters,
            strip_duplicates,
        )
        from data_check_spark.operators.dedup import minhash_lsh_pairs

        # full fuzzy-dedup lifecycle from spark-submit: pairs ->
        # clusters -> post-dedup corpus. url is the retention id
        # (min url per component = keep the lexicographically first
        # crawl of the template); ids never leave 8 bytes... urls do,
        # but only for the clustered subset.
        src = spark.read.parquet(corpus_path) if corpus_path else df
        pairs = minhash_lsh_pairs(
            src.select(F.col("url").alias("doc_id"), "text"),
            jaccard_threshold=args.dedup_threshold,
        )
        clusters = duplicate_clusters(pairs)
        kept = strip_duplicates(src, clusters, "url")
        kept.write.mode("overwrite").parquet(f"{args.dedup_out}/corpus")
        n_in, n_kept = src.count(), kept.count()
        print(
            f"dedup: kept {n_kept}/{n_in} row(s) "
            f"({n_in - n_kept} near-dup non-exemplars dropped) "
            f"to {args.dedup_out}/corpus"
        )
        corpus_path = f"{args.dedup_out}/corpus"
    if args.mix_out and args.resume_stages and _stage_complete(
        spark, f"{args.mix_out}/corpus"
    ):
        print(f"mix: resumed from existing {args.mix_out}/corpus")
        corpus_path = f"{args.mix_out}/corpus"
    elif args.mix_out:
        from data_check_spark.operators.mixing import source_mix

        src_df = spark.read.parquet(corpus_path) if corpus_path else df
        mixed = source_mix(
            src_df, "url", args.mix_by, mix_weights, max_epochs=args.mix_epochs
        )
        mixed.write.mode("overwrite").parquet(f"{args.mix_out}/corpus")
        n_mix = spark.read.parquet(f"{args.mix_out}/corpus").count()
        print(
            f"mix: {n_mix} row(s) "
            f"({args.mix_by} reweighted to {mix_weights}, "
            f"max_epochs={args.mix_epochs}) to {args.mix_out}/corpus"
        )
        corpus_path = f"{args.mix_out}/corpus"
    if args.shard_out and args.resume_stages and _stage_complete(
        spark, f"{args.shard_out}/_manifest"
    ):
        # the _manifest is written AFTER verify_export proves the
        # shards on disk, so its marker certifies the whole export
        print(f"shards: resumed from existing {args.shard_out}")
    elif args.shard_out:
        from data_check_spark.operators.export import export_shards

        src_df = spark.read.parquet(corpus_path) if corpus_path else df
        manifest_df = export_shards(
            src_df, args.shard_out, "url", args.shards, mode="overwrite"
        )
        n_rows = sum(r["n_rows"] for r in manifest_df.collect())
        print(
            f"shards: {n_rows} row(s) across {args.shards} shard(s) "
            f"to {args.shard_out} (manifest verified on disk)"
        )
    if result is None:
        # construction outputs are written; keep the nothing-pending
        # exit code so resume loops still see a complete manifest
        return 2
    total = result.verdicts.count()
    print(f"run_id={result.run_id} verdicts={total} failed={failed}")
    if args.anomaly_gate is not None:
        from data_check_spark.plans.history import audit_anomalies

        anom = audit_anomalies(
            spark,
            f"{args.out}/audit",
            result.run_id,
            k=args.anomaly_gate,
            min_rel=0.01,
        ).cache()
        n_anom = anom.filter(~F.col("passed")).count()
        print(f"anomaly gate: {n_anom} metric(s) off historical median")
        for r in anom.filter(~F.col("passed")).limit(20).collect():
            print(
                f"  ANOMALY {r['partition']}/{r['column']}/{r['check']}: "
                f"{r['metric']} vs median {r['history_median']} "
                f"(+/- {r['tolerance']}, n={r['n_history']})"
            )
        anom.unpersist()
        failed += n_anom
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
