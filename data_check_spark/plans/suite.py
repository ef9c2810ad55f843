"""CheckSuite — declarative check specs compiled to as few Spark
passes as possible, emitting per-partition pass/fail verdict rows plus
violation DataFrames.

This generalizes the reference's five-check contract (SURVEY §2.9,
``/root/reference/data_check/streamlit_app.py:189-351`` drives them
one button-click at a time) into one declarative suite and preserves
its key performance idea: the fused single-pass aggregation
(``processors/bigquery.py:207-224``) — all stats thresholds for all
columns cost ONE groupBy(partition) pass over the table.

Each check kind is one class in ``plans/checks.py`` and contributes
everything the suite does for it: its ``scope`` (partition-scoped or
global under ``run_resumable``), the key its verdicts and violation
dumps are named by (with its duplicate-key error), its share of the
shared fused passes (stats aggregates, ``count_if`` predicates,
fingerprint columns, numeric histograms, drift-profile kinds), the
bounded Phase-1 actions it submits, its verdict rows as plain Python
tuples, and its lazy violation frames. Adding a check kind means
writing one class; ``run()`` is one planner plus one loop:

1. plan — reject unknown check types, gather every check's share of
   the fused passes, guard duplicate keys. No Spark job runs and no
   Phase-1 frame is built yet.
2. Phase 1 — submit the shared passes' and every check's bounded
   actions to one thread pool. Each action builds its frame and then
   collects it, so the plans' analysis overlaps on the pool threads
   as their job latencies do.
3. Phase 2 — each check turns the collected results into verdict rows
   in plain Python. The rows are sorted by (partition, check, column)
   with None first (Spark's ascending order) and returned as one local
   relation; violation frames stay lazy.

Uniform verdict schema:
    (partition string, column string, check string,
     metric double, threshold double, passed boolean)

Determinism: every verdict is an aggregate of a partition's rows —
independent of task layout — and every violation DataFrame is sorted
by key, so outputs are identical at local[8] and local[32].
"""

from __future__ import annotations

import uuid
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.operators.drift import drift_profile
from data_check_spark.operators.stats import verdict_frame
from data_check_spark.plans.audit import latest_run, write_audit
from data_check_spark.plans.checks import (  # noqa: F401  (the suite's public check kinds)
    CategoricalDriftCheck,
    Check,
    CompareCheck,
    ExprCheck,
    FingerprintCheck,
    FunctionalDependencyCheck,
    KSDigestDriftCheck,
    KSDriftCheck,
    LineDupCheck,
    LMCheck,
    NearDupCheck,
    NumericDriftCheck,
    ProfileCheck,
    ReferentialCheck,
    RepetitionCheck,
    Run,
    SchemaCheck,
    StatsCheck,
    UniquenessCheck,
)
from data_check_spark.plans.manifest import Manifest
from data_check_spark.session import local_frame


def _spark_order(row: tuple) -> tuple:
    """Sort key (partition, check, column), None first — the order of
    Spark's ascending orderBy."""
    return tuple((v is not None, v) for v in (row[0], row[2], row[1]))


@dataclass
class SuiteResult:
    run_id: str
    verdicts: DataFrame
    violations: dict[str, DataFrame]
    cached: list = field(default_factory=list)  # frames and broadcasts
    # per-partition (n_rows, fp_lo, fp_hi) when a FingerprintCheck ran
    fingerprints: DataFrame | None = None
    # (kind, key, freq) rows of THIS table's fused drift profile, when
    # fused drift checks ran — tiny (|categories| + |buckets| rows) and
    # persistable, so the NEXT version can drift against this run
    # without rescanning this table (see run(reference_profile=...))
    drift_profile: DataFrame | None = None
    # (kind, mean, weight, vmin, vmax, is_edge) rows of THIS table's
    # t-digests, when KSDigestDriftChecks ran — ≤ ~2δ rows per check,
    # the stored-baseline twin of drift_profile for the digest checks
    # (see run(reference_digest=...))
    drift_digests: DataFrame | None = None

    def passed(self) -> bool:
        # fail-closed: a NULL passed flag counts as a failure
        return self.verdicts.filter(~F.coalesce(F.col("passed"), F.lit(False))).isEmpty()

    def unpersist(self) -> None:
        """Release the small intermediate frames run() persisted and
        the broadcasts it made (call after verdicts/violations are
        consumed: the lazy violation frames still read them, and they
        leak in a long-lived session otherwise). A second call releases
        nothing: a broadcast cannot be destroyed twice."""
        for held in self.cached:
            if isinstance(held, Broadcast):
                held.destroy()  # also deletes its driver-side file
            else:
                held.unpersist()
        self.cached.clear()


@dataclass
class CheckSuite:
    checks: list = field(default_factory=list)

    def _plan(self, spark: SparkSession, df: DataFrame, part: Column | None, **refs) -> Run:
        """Every check's share of the fused passes, checked for
        clashes. Submits no Spark job."""
        for chk in self.checks:
            if not isinstance(chk, Check):
                raise TypeError(f"unknown check type: {type(chk)}")
        run = Run(spark, df, part, **refs)
        for chk in self.checks:
            chk.share(run)
        # the fused drift profile keys categorical columns and numeric
        # check names in one `kind` namespace — a collision would merge
        # category values and histogram buckets into one table
        cross = set(run.cats) & set(run.hists)
        if cross:
            raise ValueError(
                f"drift checks share the profile namespace {sorted(cross)}: "
                "a CategoricalDriftCheck/ProfileCheck column must not equal "
                "a numeric drift check's name — rename the numeric check"
            )
        # verdicts, violation dumps and pass aggregates are keyed by
        # these names: a duplicate would silently overwrite its twin
        keys: dict[str, list] = {}
        for chk in self.checks:
            if chk.named_by() is not None:
                keys.setdefault(chk.duplicates, []).append(chk.named_by())
        for msg, named in keys.items():
            dup = sorted({k for k in named if named.count(k) > 1})
            if dup:
                raise ValueError(msg.format(dup=dup))
        return run

    def drift_profile_of(self, df: DataFrame) -> DataFrame:
        """(kind, key, freq) profile of ``df`` under this suite's
        fused drift checks — the bootstrap for profile-based drift:
        the FIRST version of a table has nothing to drift against, so
        build+persist its profile with this, then validate every later
        version with ``run(reference_profile=...)`` / let
        ``run_resumable`` persist each version's own profile
        automatically. Bucket specs mirror run()'s fused assembly
        (kinds keyed by check name, zero buckets absent)."""
        run = self._plan(df.sparkSession, df, None)
        return drift_profile(df, run.ref_cats, run.hists).select("kind", "key", "freq")

    def drift_digest_of(self, df: DataFrame) -> DataFrame | None:
        """(kind, mean, weight, vmin, vmax, is_edge) t-digest rows of
        ``df`` under this suite's shared-reference KSDigestDriftChecks
        — the bootstrap for digest-based drift (see
        ``drift_profile_of``). None when the suite has no such
        checks."""
        frames = [
            c.digest(df).select(
                F.lit(c.name).alias("kind"), "mean", "weight", "vmin", "vmax", "is_edge"
            )
            for c in self._plan(df.sparkSession, df, None).digest_checks
        ]
        return reduce(DataFrame.unionByName, frames) if frames else None

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        partition_col: Column | str,
        reference_df: DataFrame | None = None,
        run_id: str | None = None,
        reference_profile: DataFrame | None = None,
        reference_digest: DataFrame | None = None,
    ) -> SuiteResult:
        """``reference_profile``: (kind, key, freq) rows — a prior
        run's ``SuiteResult.drift_profile`` (typically read back from
        ``{audit_path}/drift_profiles``) standing in for
        ``reference_df`` on the fused drift checks. The reference
        VERSION is then never rescanned: at 100 TB, drift vs the
        previously-validated version costs one scan of the new data
        plus a metadata-sized audit read. Kinds must have been built
        with the same columns/bucket specs (they're keyed by check
        name; a missing kind fails the verdict closed via the EPS
        floor on every bucket).

        ``reference_digest``: (kind, mean, weight, vmin, vmax,
        is_edge) rows — a prior run's ``SuiteResult.drift_digests``
        standing in for the reference table on KSDigestDriftChecks
        that use the shared reference (per-check ``reference`` loaders
        still scan). A kind with no stored rows fails that verdict
        closed (empty-side NULL semantics)."""
        return self._run(
            spark, df, partition_col, reference_df, run_id, reference_profile, reference_digest
        )[0]

    def _run(
        self, spark, df, partition_col, reference_df, run_id, reference_profile, reference_digest
    ) -> tuple[SuiteResult, list[tuple], Run]:
        """run(), also returning the sorted verdict rows and the Run."""
        part = F.col(partition_col) if isinstance(partition_col, str) else partition_col
        run = self._plan(
            spark, df, part.cast("string"), reference_df=reference_df,
            reference_profile=reference_profile, reference_digest=reference_digest,
        )
        acts = [run.shared_actions(), *(chk.plan(run) for chk in self.checks)]
        # Phase 1: every expensive input is an independent Spark action
        # that reduces to a SMALL result (bounded by partitions,
        # buckets or violations, not data size). Running them from one
        # thread pool overlaps their job latencies on the shared
        # executors: the latency-bound phases (shuffle stage barriers,
        # AQE re-plans, broadcast builds) hide behind the compute-bound
        # stats scan instead of adding to it serially.
        with ThreadPoolExecutor(max_workers=6) as pool:
            futs = [
                {k: pool.submit(v) if callable(v) else v for k, v in a.items()}
                for a in acts
            ]
            got = [
                {k: f.result() if isinstance(f, Future) else f for k, f in fs.items()}
                for fs in futs
            ]
        # Phase 2: driver-side verdict rows; violation frames stay lazy
        run.absorb(got[0])
        rows: list[tuple] = []
        violations: dict[str, DataFrame] = {}
        for chk, mine in zip(self.checks, got[1:]):
            rows += chk.verdict_rows(run, mine)
            violations.update(chk.violations(run, mine))
        rows.sort(key=_spark_order)
        result = SuiteResult(
            run_id or uuid.uuid4().hex[:12],
            verdict_frame(spark, rows),
            violations,
            run.cached,
            fingerprints=run.fingerprint_frame(),
            drift_profile=run.profile_frame(),
            drift_digests=run.digest_frame(),
        )
        return result, rows, run

    def run_resumable(
        self,
        spark: SparkSession,
        df: DataFrame,
        partition_col: str,
        manifest: Manifest,
        audit_path: str | None = None,
        reference_df: DataFrame | None = None,
        run_id: str | None = None,
        reference_profile: DataFrame | None = None,
        reference_digest: DataFrame | None = None,
    ) -> SuiteResult | None:
        """Resume-aware run: completed partitions (per the manifest)
        are excluded with an isin-filter that Spark pushes down to the
        scan; verdicts land in the audit table; each processed
        partition is then marked complete with its verdict metrics as
        lineage. Returns None when nothing is pending.

        When fused drift checks ran and ``audit_path`` is set, this
        table's own drift profile (tiny (kind, key, freq) rows) is
        appended to ``{audit_path}/drift_profiles`` — the next
        version's run passes it back via ``reference_profile`` (see
        ``drift_profile_from_audit``) and never rescans this one."""
        run_id = run_id or uuid.uuid4().hex[:12]
        part_s = F.col(partition_col).cast("string")
        all_parts = [r[0] for r in df.select(part_s).distinct().collect()]
        pending = manifest.pending(all_parts)
        if not pending:
            return None
        # isin never matches NULL: a NULL partition in `pending` needs
        # its own predicate, or its rows are silently excluded from
        # every check while the loop below still marks it complete —
        # permanently skipping them from validation (fail-open)
        scope_pred = part_s.isin([p for p in pending if p is not None])
        if any(p is None for p in pending):
            scope_pred = scope_pred | part_s.isNull()
        # global checks (drift, compare, corpus gates…) run over the
        # UNFILTERED table so a resumed run reports the same verdict as
        # an uninterrupted one — scoping them to pending partitions
        # would make the answer depend on crash state
        scoped = [c for c in self.checks if c.scope == "partition"]
        whole = [c for c in self.checks if c.scope == "global"]
        refs = (reference_df, run_id, reference_profile, reference_digest)
        result, rows, run = CheckSuite(scoped or whole)._run(
            spark, df.filter(scope_pred) if scoped else df, partition_col, *refs
        )
        if scoped and whole:
            wres, wrows, _ = CheckSuite(whole)._run(spark, df, partition_col, *refs)
            rows = rows + wrows
            result.verdicts = verdict_frame(spark, rows)
            result.violations.update(wres.violations)
            result.cached.extend(wres.cached)
            result.drift_profile = wres.drift_profile
            result.drift_digests = wres.drift_digests
        if audit_path:
            write_audit(result.verdicts, f"{audit_path}/verdicts", run_id, "verdict")
            if result.drift_profile is not None:
                # |categories| + |buckets| rows: the stored baseline
                # the NEXT version drifts against without rescanning
                # this one (drift_profile_from_audit)
                write_audit(
                    result.drift_profile,
                    f"{audit_path}/drift_profiles",
                    run_id,
                    "drift_profile",
                )
            if result.drift_digests is not None:
                # ≤ ~2δ rows per digest check: same stored-baseline
                # contract for the t-digest drift checks
                write_audit(
                    result.drift_digests,
                    f"{audit_path}/drift_digests",
                    run_id,
                    "drift_digest",
                )
            # |columns| rows of schema lineage, unconditionally: the
            # next version gates schema drift against the last
            # validated run via SchemaCheck(expected=
            # schema_from_audit(...), exact=True) — free (df.schema)
            write_audit(
                local_frame(
                    spark,
                    [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
                    "column string, dtype string",
                ),
                f"{audit_path}/schemas",
                run_id,
                "schema",
            )
            for name, viol in result.violations.items():
                # one subdirectory per violation kind: the kinds have
                # different schemas (unique→key_value, refint→ref_key)
                # and a mixed parquet directory reads back lossily
                safe = name.replace(":", "_").replace("/", "_")
                write_audit(
                    viol.withColumn("violation", F.lit(name)),
                    f"{audit_path}/violations/{safe}",
                    run_id,
                    name,
                )
        summary: dict = {}
        for r in rows:
            s = summary.setdefault(r[0], {"checks": 0, "failed": 0})
            s["checks"] += 1
            s["failed"] += not r[5]
        if result.fingerprints is not None:
            # content lineage: fingerprints land in the audit table
            # (the baseline changed_partitions_vs_audit diffs against)
            # and in each partition's manifest record
            if audit_path:
                write_audit(
                    result.fingerprints,
                    f"{audit_path}/fingerprints",
                    run_id,
                    "fingerprint",
                )
            for r in run.pass_rows:
                summary.setdefault(r["partition"], {})["fingerprint"] = {
                    "n_rows": int(r["_fpn"]),
                    "fp_lo": str(r["_fp_lo"]),
                    "fp_hi": str(r["_fp_hi"]),
                }
        for p in pending:
            # verdict rows key the NULL partition as None, not "None"
            manifest.mark_complete(
                p, run_id,
                summary.get(str(p), summary.get(p, summary.get("*", {}))),
            )
        return result


def drift_profile_from_audit(
    spark: SparkSession, path: str, run_id: str | None = None
) -> DataFrame:
    """Read a stored drift profile back from ``{audit_path}/
    drift_profiles`` for use as ``run(reference_profile=...)``.
    ``run_id`` selects a specific validated run; default is the most
    recent append. Metadata-sized read: |categories| + |buckets| rows
    per run — drift vs the previously-validated 100 TB version never
    touches that version's data again."""
    return latest_run(spark.read.parquet(path), path, run_id).select("kind", "key", "freq")


def schema_from_audit(
    spark: SparkSession, path: str, run_id: str | None = None
) -> dict[str, str]:
    """Read a stored schema back from ``{audit_path}/schemas`` as a
    ``SchemaCheck.expected`` mapping — with ``exact=True`` this gates
    schema DRIFT between table versions (new/dropped/retyped columns)
    against the last validated run, no old table needed."""
    return {
        r["column"]: r["dtype"]
        for r in latest_run(spark.read.parquet(path), path, run_id).collect()
    }


def drift_digest_from_audit(
    spark: SparkSession, path: str, run_id: str | None = None
) -> DataFrame:
    """Read stored t-digest rows back from ``{audit_path}/
    drift_digests`` for ``run(reference_digest=...)`` — the digest
    twin of ``drift_profile_from_audit`` (≤ ~2δ rows per check kind;
    the previously-validated version is never rescanned)."""
    return latest_run(spark.read.parquet(path), path, run_id).select(
        "kind", "mean", "weight", "vmin", "vmax", "is_edge"
    )
