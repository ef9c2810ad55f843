"""The suite's check kinds and the protocol ``CheckSuite.run`` drives
them through.

A check kind contributes, through the methods of :class:`Check`:

* ``scope`` — ``"partition"`` (``run_resumable`` runs it over the
  pending partitions only) or ``"global"`` (it runs over the whole
  table, so a resumed run reports what an uninterrupted one would);
* ``named_by()`` + ``duplicates`` — the key its verdicts and violation
  dumps are named by, and the error raised when two checks of the
  suite share it;
* ``share(run)`` — its share of the two shared fused passes: stats
  thresholds, ``count_if`` predicates, fingerprint columns and numeric
  histograms ride one ``groupBy(partition)`` stats pass; categorical
  value counts ride one drift-profile scan per table version;
* ``plan(run)`` — the bounded Phase-1 actions it submits to the suite's
  thread pool (values that are not callables are lazy frames handed
  through unchanged). A callable builds the frame it collects, so
  that plan's analysis runs on a pool thread too; only a frame that is
  also handed to ``violations`` is built in ``plan``;
* ``verdict_rows(run, got)`` — its verdict rows as plain Python tuples,
  computed from the shared passes' results (on ``run``) and its own
  Phase-1 results (``got``);
* ``violations(run, got)`` — its lazy violation frames.

Adding a check kind therefore means writing one class. Every verdict
row is ``(partition, column, check, metric, threshold, passed)`` with
``metric``/``threshold`` a float or None; a NULL metric fails.
"""

from __future__ import annotations

import math
import operator
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.functions.textstats import repetition_metrics
from data_check_spark.operators.bloom import (
    KeyBloom,
    bloom_member_probe,
    bloom_missing_keys,
    build_key_bloom,
)
from data_check_spark.operators.components import (
    cluster_schema,
    cluster_view,
    component_edges,
    driver_labels,
    non_exemplar_rows,
    star_components,
)
from data_check_spark.operators.dedup import minhash_lsh_pairs
from data_check_spark.operators.drift import (
    EPS,
    _digest_arrays_pdf,
    drift_profile,
    ks_from_digest_arrays,
    ks_statistic,
    psi_categorical,
    psi_from_digest_arrays,
    psi_numeric,
)
from data_check_spark.operators.linededup import line_duplicate_stats
from data_check_spark.operators.lm import bigram_lm_scores
from data_check_spark.operators.refint import missing_keys
from data_check_spark.operators.rowdiff import (
    column_match_ratios,
    exclusive_rows,
    pk_census,
    row_diff,
)
from data_check_spark.operators.sketch import TDIGEST_SCHEMA, merge_tdigest, partition_tdigest
from data_check_spark.operators.stats import (
    exact_distinct_counts,
    partition_stats_pass,
    stats_verdict_rows,
    threshold_rules,
)
from data_check_spark.operators.unique import duplicate_keys, fd_violating_keys
from data_check_spark.session import local_frame


def _gate(part, column: str, check: str, metric, bound, op=operator.le) -> tuple:
    """One verdict row; a NULL metric fails closed."""
    metric = None if metric is None else float(metric)
    return (part, column, check, metric, float(bound),
            metric is not None and op(metric, bound))


def _rounded_frac(sums: DataFrame):
    """round(_d / _t, 6) of a one-row (_d, _t) aggregate, rounded in
    Spark (HALF_UP, like the DuckDB oracle; Python's round is
    half-to-even). NULL for an empty denominator."""
    return sums.select(F.round(F.try_divide(F.col("_d"), F.col("_t")), 6)).first()[0]


def _half_up_frac(d: int, t: int) -> float | None:
    """_rounded_frac's Python twin, for counts already on the driver:
    Spark rounds the shortest decimal repr of the double d / t HALF_UP
    to 6 places, and so does this. None for an empty denominator."""
    if not t:
        return None
    return float(Decimal(repr(d / t)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


@dataclass
class Run:
    """One ``CheckSuite.run`` call as its checks see it: the inputs,
    the shared fused passes the checks register into (``share``) and,
    after Phase 1, those passes' collected results (``absorb``)."""
    spark: SparkSession
    df: DataFrame
    part: Column  # the partition key, cast to string
    reference_df: DataFrame | None = None
    reference_profile: DataFrame | None = None
    reference_digest: DataFrame | None = None
    # persisted frames and broadcasts, released by SuiteResult.unpersist()
    cached: list = field(default_factory=list)
    # the fused groupBy(partition) stats pass: the first StatsCheck's
    # thresholds, ExprCheck predicates, fingerprint columns, numeric
    # histograms (kind -> (expr, lo, hi, n_buckets))
    stats: "StatsCheck | None" = None
    exprs: dict = field(default_factory=dict)
    fingerprint: list | None = None
    hists: dict = field(default_factory=dict)
    needs_parts: bool = False
    # the fused drift-profile scans: categorical kinds of this table,
    # and the drift kinds that also need the reference side
    cats: dict = field(default_factory=dict)
    ref_cats: dict = field(default_factory=dict)
    digest_checks: list = field(default_factory=list)
    # Phase-1 results
    pass_rows: list | None = None
    parts: list = field(default_factory=list)
    prof1: dict = field(default_factory=dict)  # (kind, key) -> freq
    prof_n: dict = field(default_factory=dict)  # (kind, key) -> count
    prof2: dict = field(default_factory=dict)
    digests: list = field(default_factory=list)  # pandas digest frames

    def persist(self, frame: DataFrame) -> DataFrame:
        # AQE sizes the cache from runtime statistics only under the
        # session's CACHED_PLAN_AQE (session.py); without it a small
        # frame caches at the full shuffle width
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        self.cached.append(frame)  # released by SuiteResult.unpersist()
        return frame

    def census(self, frame: DataFrame, agg: Column) -> tuple[DataFrame, dict]:
        """Persist one per-key violation frame and aggregate it per
        partition — the action that materializes it. The violation
        dump later rereads the cache. Under CACHED_PLAN_AQE a small
        census caches as few partitions and loses its hash
        partitioning; both readers, this groupBy(partition) and the
        dump's orderBy, shuffle anyway."""
        frame = self.persist(frame)
        return frame, {r[0]: r[1] for r in frame.groupBy("partition").agg(agg).collect()}

    def per_partition(self, counts: dict, column: str, check: str, bound) -> list:
        """One row per partition of the table: a partition with no
        violations reports 0.0 (NULL partitions are keyed as None)."""
        return [_gate(p, column, check, counts.get(p, 0), bound) for p in self.parts]

    def shared_actions(self) -> dict[str, Callable]:
        """The shared passes' Phase-1 actions. Every one reduces to a
        bounded result: one row per partition, or per category or
        histogram bucket."""
        acts: dict[str, Callable] = {}
        st = self.stats
        in_pass = bool(st or self.exprs or self.fingerprint is not None)
        if in_pass:
            # the suite's ONE expensive scan: the per-partition result
            # is collected driver-side (bounded by the partition
            # count); verdicts, the numeric drift profile, the
            # partition list and the lineage all read these rows.
            # persist() here was measured strictly worse (44s cache
            # build vs 31s collect at local[32]/20M pages)
            def stats_pass():
                src = partition_stats_pass(
                    self.df, self.part, st.thresholds if st else {},
                    st.approx if st else True, self.hists,
                    exact_distinct=st.exact_distinct if st else (),
                    expr_counts=self.exprs, fingerprint_cols=self.fingerprint,
                )
                return [r.asDict(recursive=True) for r in src.collect()]

            acts["pass"] = stats_pass
            if st and st.exact_distinct:
                acts["exact"] = lambda: exact_distinct_counts(
                    self.df, self.part, st.exact_distinct
                )
        elif self.needs_parts:
            acts["parts"] = lambda: [
                r[0] for r in self.df.select(self.part).distinct().collect()
            ]
        # the numeric df-side histograms ride the stats pass when it
        # runs; the profile scan then reads only the categorical columns
        hists = {} if in_pass else self.hists
        if self.cats or hists:
            acts["prof_df"] = lambda: drift_profile(self.df, self.cats, hists).collect()
        if self.ref_cats or self.hists:
            if self.reference_df is None and self.reference_profile is None:
                raise ValueError(
                    f"drift checks {list(self.ref_cats) + list(self.hists)}: "
                    "no reference table or profile"
                )
            if self.reference_profile is not None:
                # a stored profile stands in for the reference scan:
                # |categories|+|buckets| audit rows, not the reference
                # version's data
                acts["prof_ref"] = lambda: self.reference_profile.select(
                    "kind", "key", "freq"
                ).collect()
            else:
                # the reference side scans only the DRIFT columns
                acts["prof_ref"] = lambda: drift_profile(
                    self.reference_df, self.ref_cats, self.hists
                ).collect()
        return acts

    def absorb(self, got: dict) -> None:
        self.pass_rows = got.get("pass")
        if "exact" in got:
            # patch UNCONDITIONALLY (default 0) for every exact_distinct
            # column: exact_distinct_counts reports 0 for all-NULL
            # partitions, and a missing entry must not leave n_distinct
            # NULL
            for row in self.pass_rows:
                for m in row["_m"]:
                    if m["column"] in self.stats.exact_distinct:
                        m["n_distinct"] = got["exact"].get((row["partition"], m["column"]), 0)
        if self.pass_rows is None:
            self.parts = got.get("parts", [])
        else:
            self.parts = [r["partition"] for r in self.pass_rows]
            # df-side numeric profile summed from the pass histograms:
            # zero buckets absent, as in drift_profile, so the EPS floor
            # applies identically
            for name in self.hists:
                buckets: dict[int, int] = {}
                for row in self.pass_rows:
                    for pos, cnt in enumerate(row[f"_h_{name}"]):
                        if cnt:
                            buckets[pos] = buckets.get(pos, 0) + cnt
                total = sum(buckets.values())
                for pos, cnt in buckets.items():
                    self.prof1[(name, str(pos))] = cnt / total
        for r in got.get("prof_df", []):
            self.prof1[(r["kind"], r["key"])] = r["freq"]
            self.prof_n[(r["kind"], r["key"])] = r["n"]
        self.prof2 = {(r["kind"], r["key"]): r["freq"] for r in got.get("prof_ref", [])}

    def fingerprint_frame(self) -> DataFrame | None:
        if self.fingerprint is None:
            return None
        return local_frame(
            self.spark,
            [(r["partition"], r["_fpn"], r["_fp_lo"], r["_fp_hi"]) for r in self.pass_rows],
            "partition string, n_rows bigint, fp_lo decimal(38,0), fp_hi decimal(38,0)",
        )

    def profile_frame(self) -> DataFrame | None:
        """THIS table's (kind, key, freq) profile, exposed so the next
        version drifts against it without rescanning this one."""
        if not (self.cats or self.hists):
            return None
        return local_frame(
            self.spark,
            [(kd, ky, float(fq)) for (kd, ky), fq in sorted(
                self.prof1.items(), key=lambda t: (t[0][0], t[0][1] or "")
            )],
            "kind string, key string, freq double",
        )

    def digest_frame(self) -> DataFrame | None:
        if not self.digests:
            return None
        return local_frame(
            self.spark,
            list(pd.concat(self.digests, ignore_index=True).itertuples(index=False, name=None)),
            "kind string, " + TDIGEST_SCHEMA,
        )

    def psi(self, kind: str) -> float:
        """PSI of one fused profile kind, epsilon-floored, 6 dp."""
        p, q = self.prof1, self.prof2
        keys = {ky for kd, ky in p if kd == kind} | {ky for kd, ky in q if kd == kind}
        return round(
            sum(
                (p.get((kind, ky), EPS) - q.get((kind, ky), EPS))
                * math.log(p.get((kind, ky), EPS) / q.get((kind, ky), EPS))
                for ky in keys
            ),
            6,
        )


class Check:
    """Base of every check kind; the defaults contribute nothing."""
    scope = "partition"
    duplicates = None  # error for two checks sharing named_by()

    def named_by(self):
        return None

    def share(self, run: Run) -> None:
        pass

    def plan(self, run: Run) -> dict:
        return {}

    def verdict_rows(self, run: Run, got: dict) -> list[tuple]:
        return []

    def violations(self, run: Run, got: dict) -> dict[str, DataFrame]:
        return {}

    def observe(self, osuite) -> None:
        """Register with an ObservedSuite (plans/observed.py)."""
        raise ValueError(
            f"{type(self).__name__} needs its own shuffle/scan and cannot "
            "ride an observation — run it in the batch suite"
        )


_KEYS_MSG = "{kind} checks must have unique keys/names (violation dumps are keyed by them): duplicates {dup}"
_TEXT_COL_MSG = (
    "{kind} checks must target distinct columns (verdicts and violations are "
    "keyed by text_col): duplicates {dup}"
)


@dataclass
class StatsCheck(Check):
    """Per-column stat thresholds, all computed in one fused pass.
    The suite's first StatsCheck rides the shared stats pass; any
    other runs its own pass."""
    thresholds: dict[str, dict[str, float]]
    approx: bool = True
    # columns whose n_distinct is computed EXACTLY via a two-key
    # (partition, value) pre-aggregation instead of an HLL sketch.
    # Recommended for low-cardinality columns (lang: ~20 values): the
    # map-side combine collapses the shuffle to |values| x |partitions|
    # rows, and the per-row HLL buffer update was measured costlier
    # than the plain hash-agg at both parallelism levels (4.9s@32 /
    # 9.4s@8 marginal vs 1.7s/1.9s for the two-key aggregation on 20M
    # pages). High-cardinality columns should stay on HLL — the
    # two-key shuffle grows with the distinct count.
    exact_distinct: tuple = ()

    def share(self, run):
        threshold_rules(self.thresholds)  # "no thresholds given", up front
        if run.stats is None:
            run.stats = self

    def plan(self, run):
        if run.stats is self:
            return {}
        return {"pass": lambda: [
            r.asDict(recursive=True)
            for r in partition_stats_pass(run.df, run.part, self.thresholds, self.approx).collect()
        ]}

    def verdict_rows(self, run, got):
        return stats_verdict_rows(got.get("pass", run.pass_rows), self.thresholds)

    def observe(self, osuite):
        overlap = set(osuite._thresholds) & set(self.thresholds)
        if overlap:
            raise ValueError(f"duplicate stat thresholds for columns {sorted(overlap)}")
        if not self.approx and any("min_distinct" in th for th in self.thresholds.values()):
            # countDistinct is a DISTINCT aggregate — Spark rejects it
            # in observed metrics (INVALID_OBSERVED_METRICS...)
            raise ValueError(
                "exact distinct (approx=False + min_distinct) is a "
                "DISTINCT aggregate and cannot ride an observation; "
                "use approx=True (HLL) or the batch suite"
            )
        if self.exact_distinct:
            # the two-key exact-distinct pre-aggregation is a shuffle
            raise ValueError(
                "StatsCheck.exact_distinct needs a shuffle and cannot "
                "ride an observation; use approx (HLL) distinct here "
                "or the batch suite"
            )
        osuite._thresholds.update(self.thresholds)
        # approx is PER CHECK: remember it per column so a later
        # StatsCheck's flag cannot flip this check's columns
        osuite._col_approx.update(dict.fromkeys(self.thresholds, self.approx))


@dataclass
class UniquenessCheck(Check):
    """Per-partition duplicate-key gate: verdict metric = the number of
    keys occurring more than once in the partition (check ``unique``);
    violations dump ``unique:{key}`` = (partition, key_value, n),
    sorted, capped. Plan: operators/unique.duplicate_keys, whose
    docstring says when to set ``broadcast_candidates=False``."""
    key: str
    max_duplicate_keys: int = 0
    violation_limit: int = 500  # ref bigquery.py:105
    broadcast_candidates: bool = True

    duplicates = _KEYS_MSG.replace("{kind}", "uniqueness")

    def named_by(self):
        return self.key

    def share(self, run):
        run.needs_parts = True

    def plan(self, run):
        return {"viol": lambda: run.census(
            duplicate_keys(run.df, self.key, run.part, self.broadcast_candidates),
            F.count(F.lit(1)),
        )}

    def verdict_rows(self, run, got):
        return run.per_partition(got["viol"][1], self.key, "unique", self.max_duplicate_keys)

    def violations(self, run, got):
        return {f"unique:{self.key}": got["viol"][0].orderBy("partition", "key_value")
                .limit(self.violation_limit)}


@dataclass
class FunctionalDependencyCheck(Check):
    """Per-partition functional-dependency gate: every value of
    ``determinant`` must map to exactly one distinct combination of
    ``dependents`` within the partition — the BASELINE.json per-row
    invariant (byte-identical extracted text per url) as a declarative
    check: ``FunctionalDependencyCheck("url", ("text",))``.

    Verdict metric = number of violating determinant values in the
    partition (check name ``fd``); violations dump (key
    ``fd:{determinant}``) = (partition, key_value, n_variants,
    n_rows), sorted, capped. Plan and NULL semantics:
    operators/unique.fd_violating_keys. Partition-scoped → resumes
    like stats/uniqueness."""
    determinant: str
    dependents: tuple[str, ...] | list
    max_violating_keys: int = 0
    violation_limit: int = 500  # ref bigquery.py:105
    broadcast_candidates: bool = True

    duplicates = (
        "functional-dependency checks must have distinct determinants "
        "(violations are keyed by determinant): duplicates {dup} — merge "
        "the dependent lists into one check"
    )

    def named_by(self):
        return self.determinant

    def share(self, run):
        run.needs_parts = True

    def plan(self, run):
        return {"viol": lambda: run.census(
            fd_violating_keys(
                run.df, self.determinant, self.dependents, run.part, self.broadcast_candidates
            ),
            F.count(F.lit(1)),
        )}

    def verdict_rows(self, run, got):
        return run.per_partition(got["viol"][1], self.determinant, "fd", self.max_violating_keys)

    def violations(self, run, got):
        return {f"fd:{self.determinant}": got["viol"][0].orderBy("partition", "key_value")
                .limit(self.violation_limit)}


@dataclass
class ReferentialCheck(Check):
    """Per-partition referential gate: verdict metric = the number of
    fact rows whose key is absent from the dimension (check
    ``refint``); violations dump ``refint:{name}`` = (partition,
    ref_key, n), sorted. ``mode='join'`` runs
    operators/refint.missing_keys (``broadcast`` and ``hash_keys`` are
    its options; its census shuffle carries every distinct fact key);
    ``mode='bloom'`` runs operators/bloom.bloom_missing_keys, the
    fail-fast gate whose shuffle carries only certified violations: a
    FAIL is certain, a PASS may miss an expected ``fpp`` fraction of
    violating keys. ``bloom`` (a prebuilt KeyBloom) or ``bloom_path``
    (a .npz from KeyBloom.save, declarable in JSON config) skips the
    build jobs, once per dimension snapshot."""
    name: str
    fact_key: Callable[[], Column] | str
    dim: Callable[[SparkSession], DataFrame]
    dim_key: str
    max_violation_rows: int = 0
    broadcast: bool | str = "auto"
    hash_keys: bool = False
    mode: str = "join"
    fpp: float = 1e-3
    bloom: object | None = None
    bloom_path: str | None = None

    duplicates = _KEYS_MSG.replace("{kind}", "referential")

    def named_by(self):
        return self.name

    def share(self, run):
        if self.mode not in ("join", "bloom"):
            raise ValueError(
                f"referential check {self.name}: mode must be 'join' or "
                f"'bloom', got {self.mode!r}"
            )
        run.needs_parts = True

    def _per_key(self, run: Run) -> DataFrame:
        fk = F.expr(self.fact_key) if isinstance(self.fact_key, str) else self.fact_key()
        dim = self.dim(run.spark)
        if self.mode == "join":
            return missing_keys(
                run.df, fk, dim, self.dim_key, run.part, self.broadcast, self.hash_keys
            )
        if self.bloom is not None:
            bloom = self.bloom
        elif self.bloom_path is not None:
            bloom = KeyBloom.load(self.bloom_path)
        else:
            bloom = build_key_bloom(dim, self.dim_key, self.fpp)
        member = bloom_member_probe(run.spark, bloom)
        run.cached.append(member.broadcast)  # destroyed by SuiteResult.unpersist()
        return bloom_missing_keys(run.df, fk, member, run.part)

    def plan(self, run):
        return {"viol": lambda: run.census(self._per_key(run), F.sum("n"))}

    def verdict_rows(self, run, got):
        return run.per_partition(got["viol"][1], self.name, "refint", self.max_violation_rows)

    def violations(self, run, got):
        return {f"refint:{self.name}": got["viol"][0].orderBy("partition", "ref_key")}


@dataclass
class CategoricalDriftCheck(Check):
    """PSI of a categorical column against the reference. With no
    ``reference`` loader of its own it rides the fused drift-profile
    scans (one per table version for all such checks)."""
    column: str
    max_psi: float = 0.2
    reference: Callable[[SparkSession], DataFrame] | None = None

    scope = "global"

    def share(self, run):
        if self.reference is None:
            run.cats[self.column] = run.ref_cats[self.column] = F.col(self.column)

    def plan(self, run):
        if self.reference is None:
            return {}
        return {"psi": lambda: psi_categorical(
            run.df, self.reference(run.spark), self.column
        ).first()["psi"]}

    def verdict_rows(self, run, got):
        psi = run.psi(self.column) if self.reference is None else got["psi"]
        return [_gate("*", self.column, "psi_categorical", psi, self.max_psi)]


class _FusedHistogram(Check):
    """Numeric drift over a fixed-width histogram of ``expr``. With no
    ``reference`` loader of its own, the df-side histogram rides the
    stats pass (or the profile scan when no stats pass runs) and the
    reference side rides the shared reference profile scan."""
    scope = "global"
    # histogram specs are keyed by check name across both kinds
    duplicates = (
        "drift checks share histogram names {dup}: numeric drift checks (PSI "
        "or KS) must have unique names — the histogram spec (lo, hi, "
        "n_buckets) is keyed by name"
    )

    def named_by(self):
        return self.name if self.reference is None else None

    def share(self, run):
        if self.reference is None:
            run.hists[self.name] = (self.expr(), self.lo, self.hi, self.n_buckets)


@dataclass
class NumericDriftCheck(_FusedHistogram):
    name: str
    expr: Callable[[], Column]
    lo: float
    hi: float
    n_buckets: int = 50
    max_psi: float = 0.2
    reference: Callable[[SparkSession], DataFrame] | None = None

    def plan(self, run):
        if self.reference is None:
            return {}
        return {"psi": lambda: psi_numeric(
            run.df, self.reference(run.spark), self.expr(), self.lo, self.hi, self.n_buckets
        ).first()["psi"]}

    def verdict_rows(self, run, got):
        psi = run.psi(self.name) if self.reference is None else got["psi"]
        return [_gate("*", self.name, "psi_numeric", psi, self.max_psi)]


@dataclass
class KSDriftCheck(_FusedHistogram):
    """Kolmogorov-Smirnov drift over a fixed-width histogram of a
    numeric expression (north rule: "PSI/KS over t-digest/histograms").
    Fused like NumericDriftCheck: the df-side histogram rides the
    stats pass, the reference side rides the shared profile scan, and
    the KS statistic (max |CDF1-CDF2| over bucket edges, resolution =
    bucket width — matching operators/drift.ks_statistic) is computed
    driver-side from the collected profiles."""
    name: str
    expr: Callable[[], Column]
    lo: float
    hi: float
    n_buckets: int = 50
    max_ks: float = 0.2
    reference: Callable[[SparkSession], DataFrame] | None = None

    def plan(self, run):
        if self.reference is None:
            return {}
        return {"ks": lambda: ks_statistic(
            run.df, self.reference(run.spark), self.expr(), self.lo, self.hi, self.n_buckets
        ).first()["ks"]}

    def verdict_rows(self, run, got):
        if self.reference is not None:
            return [_gate("*", self.name, "ks_numeric", got["ks"], self.max_ks)]
        # KS = max |CDF1 - CDF2| over the bucket edges, absent buckets
        # = 0 frequency (drift.ks_statistic's coalesce-to-0 semantics)
        cdf1 = cdf2 = ks = 0.0
        for pos in range(self.n_buckets):
            cdf1 += run.prof1.get((self.name, str(pos)), 0.0)
            cdf2 += run.prof2.get((self.name, str(pos)), 0.0)
            ks = max(ks, abs(cdf1 - cdf2))
        return [_gate("*", self.name, "ks_numeric", round(ks, 6), self.max_ks)]


@dataclass
class KSDigestDriftCheck(Check):
    """KS drift over per-version t-digests (the north rule's 'KS over
    t-digest histograms', operators/drift.ks_from_tdigest): no
    [lo, hi) range must be declared up front and tail resolution
    adapts to the data — the right spec when the value range is
    unknown. Global like KSDriftCheck (partition='*'). NOT fused with
    the stats pass: the digest is a mapInPandas pass, so this check
    costs one extra scan of the expression per side (each reducing to
    ≤ ~2δ centroid rows).

    ``max_psi`` (optional) additionally emits a ``psi_digest`` verdict
    over reference-equiprobable buckets, computed from the SAME two
    digests — zero extra scans."""
    name: str
    expr: Callable[[], Column]
    max_ks: float = 0.2
    delta: float = 300.0
    max_psi: float | None = None
    n_psi_buckets: int = 20
    reference: Callable[[SparkSession], DataFrame] | None = None

    scope = "global"
    duplicates = _KEYS_MSG.replace("{kind}", "ks-digest drift")

    def named_by(self):
        return self.name

    def digest(self, side: DataFrame) -> DataFrame:
        """The merged t-digest rows of one table version."""
        return merge_tdigest(
            partition_tdigest(side.select(self.expr().alias("_v")), "_v", self.delta),
            self.delta,
        )

    def share(self, run):
        if self.reference is None:
            run.digest_checks.append(self)

    def plan(self, run):
        if run.reference_digest is not None and self.reference is None:
            # stored baseline: ≤ ~2δ audit rows, the reference version
            # is never rescanned; a missing kind reads as an empty
            # digest → NULL stat → fails closed
            def ref_side():
                return run.reference_digest.filter(F.col("kind") == self.name).drop("kind")
        else:
            ref = self.reference(run.spark) if self.reference else run.reference_df
            if ref is None:
                raise ValueError(f"drift check {self.name}: no reference table or digest")

            def ref_side():
                return self.digest(ref)
        # df side: ONE collect serves the readout AND the persistable
        # drift_digests rows
        return {
            "df": lambda: self.digest(run.df).toPandas(),
            "ref": lambda: ref_side().toPandas(),
        }

    def verdict_rows(self, run, got):
        if len(got["df"]):
            run.digests.append(got["df"].assign(kind=self.name)[
                ["kind", "mean", "weight", "vmin", "vmax", "is_edge"]
            ])
        # ONE digest pair feeds both statistics (ref side first: PSI
        # buckets are reference-equiprobable)
        a_ref, a_df = _digest_arrays_pdf(got["ref"]), _digest_arrays_pdf(got["df"])
        rows = [_gate("*", self.name, "ks_digest", ks_from_digest_arrays(a_ref, a_df), self.max_ks)]
        if self.max_psi is not None:
            psi = psi_from_digest_arrays(a_ref, a_df, self.n_psi_buckets)
            rows.append(_gate("*", self.name, "psi_digest", psi, self.max_psi))
        return rows


@dataclass
class ProfileCheck(Check):
    """Categorical column health gate from the SAME fused profile scan
    the drift checks ride (operators/drift.drift_profile): the value
    counts collapse to |categories| driver-side rows, from which up to
    four verdicts are derived with zero extra table scans —

      * ``profile_entropy``      Shannon entropy (bits) >= min_entropy
                                 (a crawl collapsing to one language
                                 drives lang entropy toward 0)
      * ``profile_mode_share``   hottest value's share <= max_mode_share
                                 (hot-value takeover / constant column)
      * ``profile_min_distinct`` distinct non-null values >= min_distinct
      * ``profile_max_distinct`` distinct non-null values <= max_distinct
                                 (category-vocabulary explosion, e.g. a
                                 lang column degrading to free text)

    Metrics are over NON-NULL values (frequencies renormalized; the
    profile scan keeps NULL as its own bucket, which the null-rate
    gates in StatsCheck already cover). Entropy uses the algebraic
    log2(N) − Σ n·log2 n / N over the exact value counts, rounded to
    6 dp (operators/stats.categorical_profile's cross-engine
    convention). A column with zero non-null values fails every
    configured verdict closed (metric NULL). Global (partition='*'):
    entropy is not partition-decomposable, and on resume the verdict
    must not depend on crash state.

    Scale: exact value counts shuffle one row per distinct value —
    meant for categorical columns (lang, source, content_type), not
    ~unique keys (there entropy ≈ log2 N and the right gate is the
    HLL distinct count in StatsCheck)."""
    column: str
    min_entropy: float | None = None
    max_mode_share: float | None = None
    min_distinct: int | None = None
    max_distinct: int | None = None

    scope = "global"
    duplicates = (
        "profile checks must have distinct columns (verdicts are keyed by "
        "column): duplicates {dup}"
    )

    def __post_init__(self) -> None:
        if (
            self.min_entropy is None
            and self.max_mode_share is None
            and self.min_distinct is None
            and self.max_distinct is None
        ):
            raise ValueError(
                f"ProfileCheck({self.column!r}): configure at least one "
                "of min_entropy / max_mode_share / min_distinct / "
                "max_distinct"
            )

    def named_by(self):
        return self.column

    def share(self, run):
        # the value counts share the drift profile's kind key (the
        # column name): a CategoricalDriftCheck on the same column
        # contributes the SAME rows, counted once
        run.cats[self.column] = F.col(self.column)

    def verdict_rows(self, run, got):
        kv = {ky: n for (kd, ky), n in run.prof_n.items() if kd == self.column and ky is not None}
        n_total, nd = sum(kv.values()), len(kv)
        entropy = mode_share = None  # fail closed
        if n_total > 0:
            # same algebraic form + 6dp rounding as
            # operators/stats.categorical_profile (keys iterated sorted
            # so the float sum is run-order deterministic)
            entropy = round(
                math.log2(n_total)
                - sum(n * math.log2(n) for ky, n in sorted(kv.items())) / n_total,
                6,
            )
            mode_share = max(kv.values()) / n_total
        rows = []
        if self.min_entropy is not None:
            rows.append(_gate("*", self.column, "profile_entropy", entropy,
                              self.min_entropy, operator.ge))
        if self.max_mode_share is not None:
            rows.append(_gate("*", self.column, "profile_mode_share", mode_share,
                              self.max_mode_share))
        for check, bound, op in (("profile_min_distinct", self.min_distinct, operator.ge),
                                 ("profile_max_distinct", self.max_distinct, operator.le)):
            if bound is not None:
                rows.append(("*", self.column, check, float(nd), float(bound),
                             n_total > 0 and op(nd, bound)))
        return rows


@dataclass
class RepetitionCheck(Check):
    """Gopher-style within-document repetition gate
    (functions/textstats.repetition_metrics): per-partition MEAN
    duplicate-2-gram fraction and top-2-gram share must stay under
    their thresholds. Partition-scoped (one verdict row per partition
    per enabled threshold) so it resumes like stats/uniqueness.
    Costs one scan of (partition, text) — per-row JVM HOF work, not
    fused with the stats pass (the token array cannot ride the
    fused agg's struct schema cheaply).

    ``id_col`` enables a violations dump: documents whose
    dup-2-gram fraction exceeds ``doc_dup_2gram_limit``, sorted
    (partition, fraction desc, id) and capped at violation_limit.
    (The dump re-derives the per-doc frame lazily — a second text scan
    IF the violations are actually consumed.)

    Determinism caveat vs the suite's bit-identical guarantee: the
    per-doc fractions are exact, but their partition MEAN is a float
    sum whose accumulation order follows task layout — round(…, 6)
    masks the ulp-level difference except exactly at a rounding
    boundary. KSDigestDriftCheck is likewise partitioning-dependent
    within its rank-error bound (digests merge in partition order).
    The reference-parity checks (stats/uniqueness/refint/compare) keep
    the strict guarantee."""
    text_col: str = "text"
    max_mean_dup_2gram: float | None = 0.2
    max_mean_top_2gram: float | None = None
    id_col: str | None = None
    doc_dup_2gram_limit: float | None = None
    violation_limit: int = 500

    duplicates = (
        "repetition checks must target distinct columns (verdicts and "
        "violations are keyed by text_col): duplicates {dup} — combine the "
        "thresholds into one RepetitionCheck"
    )

    def named_by(self):
        return self.text_col

    def _bounds(self) -> dict[str, tuple[str, float]]:
        return {
            metric: (col, bound)
            for metric, col, bound in (
                ("mean_dup_2gram", "dup_2gram_frac", self.max_mean_dup_2gram),
                ("mean_top_2gram", "top_2gram_frac", self.max_mean_top_2gram),
            )
            if bound is not None
        }

    def plan(self, run):
        keep = [run.part.alias("partition")] + ([F.col(self.id_col)] if self.id_col else [])
        rep = repetition_metrics(
            run.df.select(*keep, F.col(self.text_col).alias("_text")), "_text"
        )
        acts = {"rep": rep}
        if self._bounds():
            means = rep.groupBy("partition").agg(*[
                F.round(F.avg(col), 6).alias(metric)
                for metric, (col, _) in self._bounds().items()
            ])
            acts["means"] = means.collect
        return acts

    def verdict_rows(self, run, got):
        # a NULL mean (all-NULL/too-short texts in the partition) fails
        return [
            _gate(r["partition"], self.text_col, f"repetition_{metric}", r[metric], bound)
            for r in got.get("means", [])
            for metric, (_, bound) in self._bounds().items()
        ]

    def violations(self, run, got):
        if not (self.id_col and self.doc_dup_2gram_limit is not None):
            return {}
        return {f"repetition:{self.text_col}": got["rep"]
                .filter(F.col("dup_2gram_frac") > self.doc_dup_2gram_limit)
                .orderBy("partition", F.desc("dup_2gram_frac"), F.col(self.id_col))
                .limit(self.violation_limit)}


@dataclass
class NearDupCheck(Check):
    """Corpus-level near-duplicate mass gate: MinHash-LSH candidate
    pairs with exact-Jaccard verification (operators/dedup.
    minhash_lsh_pairs) -> large-star/small-star duplicate clusters
    (operators/components.duplicate_clusters). Verdict metric = the
    fraction of documents a keep-one-exemplar retention pass would
    DROP (non-exemplar cluster members / count(id_col)); passes while
    metric <= max_neardup_frac.

    GLOBAL (one verdict row, partition '*'): near-duplicate structure
    crosses partition boundaries by nature, so ``run_resumable`` runs
    it over the UNFILTERED table like the drift checks — a resumed
    run reports the same verdict as an uninterrupted one.

    One Phase-1 action builds the verified pair list, collects its
    cleaned edges under the driver byte budget
    (operators/components.driver_labels) and labels the clusters
    with a union-find in Python. The metric, (nodes - components) /
    count(id_col), is rounded HALF_UP in Python like the DuckDB
    oracle; the count is a concurrent action off that chain. Above
    the byte budget the distributed star loop labels the clusters
    instead, and the same formula reads its node and component
    counts. ``dump_violations`` emits key ``neardup:{text_col}``: the
    non-exemplar members (id, component, is_exemplar, cluster_size),
    sorted by (component, id), capped at violation_limit — a local
    relation on the fast path.

    Node ids (``id_col``) need only a total order — long doc ids and
    string urls both work; the exemplar is the component's MINIMUM id
    (ids assigned in crawl order ⇒ "keep the first-crawled copy").

    ``pair_mode`` defaults to ``"chain"`` (see minhash_lsh_pairs): a
    template-heavy web corpus puts m near-identical members in one
    LSH bucket, and this check only needs their CONNECTIVITY — the
    chain gives it in O(m) candidates where the all-pairs list is
    O(m²) by definition. Set ``"all"`` to force the complete
    pair-list semantics of the standalone dedup queries."""
    text_col: str = "text"
    id_col: str = "doc_id"
    jaccard_threshold: float = 0.8
    max_neardup_frac: float = 0.05
    shingle_k: int = 3
    num_hashes: int = 32
    bands: int = 8
    max_bucket: int = 10_000
    dump_violations: bool = True
    violation_limit: int = 500
    pair_mode: str = "chain"

    scope = "global"
    duplicates = _TEXT_COL_MSG.replace("{kind}", "neardup")

    def named_by(self):
        return self.text_col

    def plan(self, run):
        def clusters():
            e = component_edges(minhash_lsh_pairs(
                run.df,
                text_col=self.text_col,
                id_col=self.id_col,
                shingle_k=self.shingle_k,
                num_hashes=self.num_hashes,
                bands=self.bands,
                jaccard_threshold=self.jaccard_threshold,
                max_bucket=self.max_bucket,
                pair_mode=self.pair_mode,
            ))
            labels = driver_labels(e)
            if labels is None:
                cc = star_components(e)
                nodes, comps = cc.agg(
                    F.count(F.lit(1)), F.count_if(F.col("id") == F.col("component"))
                ).first()
                viol = (cluster_view(cc).filter(~F.col("is_exemplar"))
                        .orderBy("component", "id").limit(self.violation_limit))
                return nodes, comps, viol
            rows = non_exemplar_rows(labels)[: self.violation_limit]
            viol = local_frame(run.spark, rows, cluster_schema(e.schema["u"].dataType))
            return len(labels), len({c for _, c in labels}), viol

        return {
            "nd": clusters,
            "total": lambda: run.df.agg(F.count(F.col(self.id_col))).first()[0],
        }

    def verdict_rows(self, run, got):
        nodes, comps, _ = got["nd"]
        # a NULL metric (empty table) fails closed
        frac = _half_up_frac(nodes - comps, got["total"])
        return [_gate("*", self.text_col, "neardup_frac", frac, self.max_neardup_frac)]

    def violations(self, run, got):
        if not self.dump_violations:
            return {}
        return {f"neardup:{self.text_col}": got["nd"][2]}


@dataclass
class LineDupCheck(Check):
    """Corpus-level boilerplate-mass gate (CCNet / RefinedWeb,
    operators/linededup): verdict metric = the fraction of the
    corpus's line/sentence segments whose NORMALIZED form recurs in
    >= ``min_docs`` documents (sum of per-doc dup lines / sum of
    lines); passes while metric <= max_dup_line_frac. The gate a
    curation pipeline puts in front of strip_duplicate_lines: when it
    fires, the table needs boilerplate stripping before training.

    GLOBAL (one verdict row, partition '*'): line frequency crosses
    partition boundaries by nature, so ``run_resumable`` runs it over
    the UNFILTERED table like NearDupCheck/drift — a resumed run
    reports the same verdict as an uninterrupted one.

    Scale: rides line_duplicate_stats — one scan+split+explode pass
    (AQE stage reuse), shuffle carries (id, 16 B line-hash) only,
    never text. ``dump_violations`` emits key ``linedup:{text_col}``:
    the worst per-doc offenders (id, n_lines, n_dup_lines,
    dup_line_frac) ordered by dup share, capped at violation_limit.
    """
    text_col: str = "text"
    id_col: str = "doc_id"
    min_docs: int = 2
    max_dup_line_frac: float = 0.3
    sep_regex: str = r"\n"
    dump_violations: bool = True
    violation_limit: int = 500

    scope = "global"
    duplicates = _TEXT_COL_MSG.replace("{kind}", "linedup")

    def named_by(self):
        return self.text_col

    def plan(self, run):
        ld = line_duplicate_stats(
            run.df,
            id_col=self.id_col,
            text_col=self.text_col,
            min_docs=self.min_docs,
            sep_regex=self.sep_regex,
        )
        sums = ld.agg(F.sum("n_dup_lines").alias("_d"), F.sum("n_lines").alias("_t"))
        return {"ld": ld, "frac": lambda: _rounded_frac(sums)}

    def verdict_rows(self, run, got):
        # a NULL metric (empty/all-NULL table) fails closed
        return [_gate("*", self.text_col, "dup_line_frac", got["frac"], self.max_dup_line_frac)]

    def violations(self, run, got):
        if not self.dump_violations:
            return {}
        share = F.try_divide(F.col("n_dup_lines"), F.col("n_lines"))
        return {f"linedup:{self.text_col}": got["ld"].filter(F.col("n_dup_lines") > 0)
                .withColumn("dup_line_frac", F.round(share, 6))
                .orderBy(F.desc("dup_line_frac"), F.desc("n_dup_lines"), F.col(self.id_col))
                .limit(self.violation_limit)}


@dataclass
class LMCheck(Check):
    """CCNet-style corpus fluency gate (operators/lm): self-trained
    add-one bigram LM, each document scored by its mean smoothed
    p(w2|w1) (``mean_p``, the exact-integer-quantized score). Verdict
    metric = the fraction of scored documents whose mean_p falls
    OUTSIDE [min_mean_p, max_mean_p] — below the band is the
    surprising/garbled tail, above it the boilerplate head; passes
    while metric <= max_outlier_frac.

    GLOBAL (one verdict row, partition '*'): the LM is trained on the
    whole corpus, so ``run_resumable`` runs it over the UNFILTERED
    table like NearDupCheck/LineDupCheck — a resumed run reports the
    same verdict as an uninterrupted one. Documents with < 2 tokens
    are not scored (and not counted) — gate emptiness separately with
    a StatsCheck/ExprCheck.

    Deterministic: mean_p never touches libm (operators/lm module
    doc), so the metric is bit-identical at any parallelism and the
    verdict row is oracle-comparable (query ``suite_lm_verdicts``).

    ``dump_violations`` emits key ``lm:{text_col}``: the out-of-band
    documents (id, n_bigrams, n_unseen, n_rare, mean_p), most
    anomalous first (distance from the band), capped at
    violation_limit."""
    text_col: str = "text"
    id_col: str = "doc_id"
    min_mean_p: float = 0.0
    max_mean_p: float = 1.0
    max_outlier_frac: float = 0.05
    dump_violations: bool = True
    violation_limit: int = 500

    scope = "global"
    duplicates = _TEXT_COL_MSG.replace("{kind}", "lm")

    def named_by(self):
        return self.text_col

    def _outside(self) -> Column:
        return (F.col("mean_p") < self.min_mean_p) | (F.col("mean_p") > self.max_mean_p)

    def plan(self, run):
        scores = bigram_lm_scores(
            run.df.select(self.id_col, self.text_col),
            id_col=self.id_col,
            text_col=self.text_col,
        )
        sums = scores.agg(F.count_if(self._outside()).alias("_d"), F.count(F.lit(1)).alias("_t"))
        return {"scores": scores, "frac": lambda: _rounded_frac(sums)}

    def verdict_rows(self, run, got):
        # a NULL metric (no scorable docs) fails closed
        return [_gate("*", self.text_col, "lm_outlier_frac", got["frac"], self.max_outlier_frac)]

    def violations(self, run, got):
        if not self.dump_violations:
            return {}
        dist = F.greatest(
            F.lit(self.min_mean_p) - F.col("mean_p"),
            F.col("mean_p") - F.lit(self.max_mean_p),
        )
        return {f"lm:{self.text_col}": got["scores"].filter(self._outside())
                .orderBy(F.desc(dist), F.col(self.id_col)).limit(self.violation_limit)}


@dataclass
class ExprCheck(Check):
    """Deequ-style declarative row-predicate gate (VERDICT r4 #3):
    assert an arbitrary boolean SQL expression holds for (almost)
    every row of each partition — the escape hatch for constraints
    the built-in check kinds don't model (``url LIKE 'http%'``,
    ``length(text) <= 2*n_chars`` …).

    Verdict metric = the partition's violation RATIO over its row
    count; a row violates when the predicate is FALSE **or NULL**
    (fail-closed — a predicate that cannot be evaluated on a row
    counts against it). Passes while ratio ≤ max_violation_ratio.

    Scale: costs ZERO extra scans — each predicate is one more
    ``count_if`` riding the fused groupBy(partition) stats pass
    (operators/stats.partition_stats_pass ``expr_counts``), which runs
    for the ExprChecks alone when the suite has no StatsCheck.
    ``id_col`` opts into a violations dump (key ``expr:{name}``):
    offending rows' (partition, id), sorted, capped at violation_limit
    — derived lazily (a second scan only if the dump is consumed).
    Partition-scoped, so it resumes like stats/uniqueness."""
    name: str
    predicate_sql: str
    max_violation_ratio: float = 0.0
    id_col: str | None = None
    violation_limit: int = 500

    duplicates = (
        "expr checks must have unique names (pass aggregates and violations "
        "are keyed by name): duplicates {dup}"
    )

    def named_by(self):
        return self.name

    def violated(self) -> Column:
        """FALSE-or-NULL rows violate (fail-closed)."""
        return ~F.coalesce(F.expr(self.predicate_sql), F.lit(False))

    def share(self, run):
        run.exprs[self.name] = self.violated()

    def verdict_rows(self, run, got):
        # n=0 cannot happen (groupBy only emits non-empty partitions)
        # but fails closed
        return [
            _gate(r["partition"], self.name, "expr",
                  r[f"_x_{self.name}"] / r["_xn"] if r["_xn"] else None,
                  self.max_violation_ratio)
            for r in run.pass_rows
        ]

    def violations(self, run, got):
        if not self.id_col:
            return {}
        return {f"expr:{self.name}": run.df.filter(self.violated())
                .select(run.part.alias("partition"), F.col(self.id_col))
                .orderBy("partition", self.id_col).limit(self.violation_limit)}

    def observe(self, osuite):
        if any(c.name == self.name for c in osuite._expr_checks):
            raise ValueError(f"duplicate expr check name {self.name!r}")
        osuite._expr_checks.append(self)


@dataclass
class SchemaCheck(Check):
    """Declarative schema gate — the reference's check #1
    (data_processor.py schema diff) as a suite kind, so a suite can
    fail fast on a drifted table before paying for any scan.

    ``expected`` maps column name → Spark simpleString type ("string",
    "bigint", "timestamp", …). Verdict rows are global (partition
    '*'), one per expected column plus one per UNEXPECTED column when
    ``exact=True``: metric 1.0 = present with the right type. Purely
    driver-side (df.schema — free, like the reference's dry-run
    schema fetch, SURVEY §2 S6/O2). Row filters never change a
    schema, so the verdict is the same whether or not a run
    resumed."""
    expected: dict[str, str]
    exact: bool = False  # True: extra columns also fail

    def verdict_rows(self, run, got):
        types = {f.name: f.dataType.simpleString() for f in run.df.schema.fields}
        rows = [
            ("*", name, "schema" if name in types else "schema_missing",
             1.0 if types.get(name) == want else 0.0, 1.0, types.get(name) == want)
            for name, want in sorted(self.expected.items())
        ]
        if self.exact:
            rows += [("*", name, "schema_unexpected", 0.0, 1.0, False)
                     for name in sorted(set(types) - set(self.expected))]
        return rows


@dataclass
class FingerprintCheck(Check):
    """Per-partition content LINEAGE, not a verdict: reduce every
    partition to (n_rows, fp_lo, fp_hi) — the order-independent,
    engine-portable content fingerprint of operators/fingerprint.py —
    as part of the suite run.

    Emits no verdict rows. The frame lands in
    ``SuiteResult.fingerprints``; under ``run_resumable`` it is also
    appended to ``{audit_path}/fingerprints`` and each partition's
    manifest record carries its fingerprint, so the NEXT run can
    answer "which partitions changed since the validated version?"
    from the audit table alone (``changed_partitions_vs_audit``)
    without ever rescanning this version.

    Scale: one projected md5 plus three aggregates riding the fused
    groupBy(partition) stats pass (which runs for this check alone
    when nothing else feeds it). Honest cost note
    (scripts/ab_fingerprint.py @ 415cb3d, 20M pages): the md5 over the
    encoded row IS the cost — it dwarfs the saved second scan on a
    page-cache-hot single box (fused vs two-pass measured ~even: 41.4
    vs 41.9 s at 8 cores, 13.6 vs 14.6 s at 32); the fusion win is the
    avoided second READ, which matters exactly when scans are
    IO-bound — the cold-100 TB regime this engine targets. ``cols``
    must be string-cast engine-portable (ints/strings/dates — see the
    float caveat in operators/fingerprint.py)."""
    cols: list[str]

    duplicates = (
        "at most one FingerprintCheck per suite (its output is the run's "
        "single lineage frame) — put every column in one check"
    )

    def named_by(self):
        return "fingerprint"

    def share(self, run):
        run.fingerprint = self.cols


@dataclass
class CompareCheck(Check):
    """Two-table diff family — the reference's flagship workflow
    (the reference's ``data_check/data_processor.py:211-285``, driven
    as one Streamlit session in ``streamlit_app.py:189-351``) — as a
    declarative suite check: PK census + per-column match ratios as
    verdict rows, exclusive-PK dumps (and optionally the row-level
    diff) as violation frames. Global like drift (partition='*'):
    the comparison is a whole-table property.

    Verdict rows emitted (uniform schema):

    * ``('*', pk, 'pk_missing_ratio_1', m, max_missing_ratio, …)`` and
      ``…_2`` — the census missing-key ratios per side;
    * ``('*', col, 'ratio_equal', r, min_ratio_equal, …)`` per
      compared column.

    Fail-closed NULL semantics: a NULL metric (zero joined rows — the
    reference's client-side "query returned no rows" error,
    ``streamlit_app.py:252-255`` — or an empty census) fails the
    verdict rather than raising, so one broken comparison cannot kill
    a multi-check suite run; the standalone operator path
    (``operators/rowdiff.collect_ratios_checked``) keeps the
    reference's raising behavior.

    ``reference``: loader for "table 2"; None uses the suite-level
    ``reference_df`` (sharing it with drift checks compares the same
    two table versions across check kinds).

    Scale: census is the union+groupBy plan (one hash aggregation, no
    sort — ``operators/rowdiff.pk_census``), ratios are ONE inner join
    + ONE fused aggregation for all columns; both reduce to bounded
    results (1 row / |columns| rows) collected concurrently with the
    suite's other phase-1 materializations. Violation dumps stay lazy.
    """
    name: str
    pk: str
    reference: Callable[[SparkSession], DataFrame] | None = None
    columns: list[str] | None = None
    max_missing_ratio: float = 0.0
    min_ratio_equal: float = 1.0
    exclusive_limit: int = 500  # ref bigquery.py:105
    row_diff: bool = False  # row-level diff dump is opt-in (unbounded)
    reference_mode: bool = True  # sentinel semantics (SURVEY §2.10)

    scope = "global"
    duplicates = (
        "compare checks must have unique names (violations are keyed by "
        "name): duplicates {dup}"
    )

    def named_by(self):
        return self.name

    def plan(self, run):
        ref = self.reference(run.spark) if self.reference else run.reference_df
        if ref is None:
            raise ValueError(f"compare check {self.name}: no reference table")
        return {
            "ref": ref,
            "census": lambda: pk_census(run.df, ref, self.pk).collect(),
            "ratios": lambda: column_match_ratios(
                run.df, ref, self.pk, columns=self.columns, reference_mode=self.reference_mode
            ).collect(),
        }

    def verdict_rows(self, run, got):
        c0 = got["census"][0] if got["census"] else None
        # fail-closed: a NULL ratio (empty comparison) fails
        rows = [
            _gate("*", self.pk, f"pk_missing_ratio_{side}",
                  c0[f"missing_primary_keys_table{side}_ratio"] if c0 else None,
                  self.max_missing_ratio)
            for side in (1, 2)
        ]
        return rows + [
            _gate("*", r["column"], "ratio_equal", r["ratio_equal"],
                  self.min_ratio_equal, operator.ge)
            for r in got["ratios"]
        ]

    def violations(self, run, got):
        out = {
            f"compare:{self.name}:exclusive_{side}": exclusive_rows(
                run.df, got["ref"], self.pk, side=side, limit=self.exclusive_limit
            )
            for side in (1, 2)
        }
        if self.row_diff:
            out[f"compare:{self.name}:row_diff"] = row_diff(
                run.df, got["ref"], self.pk,
                columns=self.columns, reference_mode=self.reference_mode,
            )
        return out
