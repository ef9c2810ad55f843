"""Partition content fingerprints — compare table versions without a
row diff.

The reference's compare path (bigquery.py row-diff SQL; see
operators/rowdiff.py here) answers "which ROWS changed" and costs a
pk-keyed shuffle of BOTH full tables. At 10^12 rows most version
bumps touch a handful of partitions (yesterday's crawl shards, one
re-processed dump), so the question worth asking first is "which
PARTITIONS changed" — and that one is answerable with a map-side-
combinable aggregation and zero wide rows on the wire.

``partition_fingerprint`` reduces each partition to
(n_rows, fp_lo, fp_hi): an ORDER-INDEPENDENT content hash built as

    row_str  = length-prefixed '|'-join of the selected columns
               ("N" for NULL, "<len>:<value>" otherwise — injective,
               no separator-collision ambiguity)
    row_hash = md5(row_str)            # bit-identical in any engine
    fp_lo    = SUM(int(hex[ 1:15]))    # 60-bit lane, exact DECIMAL sum
    fp_hi    = SUM(int(hex[16:30]))    # second independent lane

Order-independence comes from SUM (commutative, and EXACT over
DECIMAL(38,0) — no float reorder error), so the fingerprint is stable
under any partitioning, task order, or engine. Two partitions agree
on (n_rows, fp_lo, fp_hi) spuriously with probability ~2^-120 per
comparison — the same hash-fingerprint trade as dedup_exact's md5.

Engine portability (the audit story): any SQL engine can re-derive
the fingerprint. Spark turns hex lanes into ints via
``conv(substr, 16, 10)``; DuckDB via ``CAST('0x' || substr AS
BIGINT)`` — verified bit-identical (see tests and the
``partition_fingerprint`` oracle in __spark_entry__.py). Lanes are
15 hex chars (60 bits) so they fit a signed BIGINT in every engine.

Caller contract: the selected columns must cast to string identically
in every engine that re-derives the fingerprint — ints, strings,
dates and timestamps do; raw doubles may not (shortest-repr vs
decimal formatting) — canonicalize floats first (e.g. a fixed-point
``format_number``/``printf``) or leave them out.

Scale design (10^12 rows):

* One narrow projection per row (partition key + 32-char md5 → two
  60-bit lanes), then ``groupBy(partition).agg(...)`` — partial
  aggregation collapses each map task to one row per partition, so
  the shuffle carries |partitions| × |tasks| tiny rows, not data.
* ``changed_partitions`` combines the two fingerprint frames — each
  at most |partitions| rows (metadata-sized) — join-free via
  union + groupBy (a FULL OUTER join cannot broadcast in Spark).
* ``diff_changed_partitions`` then prunes the expensive row diff to
  the changed partitions only: the partition list collects to the
  driver (bounded by |partitions|, NOT by rows) and becomes an
  ``isin`` filter that partition-prunes the parquet/Iceberg scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.audit import latest_run, write_audit
from .rowdiff import row_diff

_LANES = ((1, "lo"), (16, "hi"))  # (hex start pos, lane suffix); 15 chars each


def _encoded_row(cols: list[Column]) -> Column:
    """Injective string encoding of a row: length-prefixed values
    ('<len>:<v>'), 'N' for NULL, '|'-joined."""
    encs = [
        F.when(c.isNull(), F.lit("N")).otherwise(
            F.concat(F.length(c).cast("string"), F.lit(":"), c)
        )
        for c in cols
    ]
    return F.concat_ws("|", *encs)


def row_hash(cols: list[str | Column]) -> Column:
    """Per-row md5 over the injective encoding of ``cols`` — the
    input every fingerprint aggregate sums. Exposed so other fused
    passes (plans/suite.py FingerprintCheck) can project it once and
    ride their existing groupBy(partition)."""
    ccols = [(F.col(c) if isinstance(c, str) else c).cast("string") for c in cols]
    return F.md5(_encoded_row(ccols).cast("binary"))


def lane_sum_aggs(hash_col: str | Column, prefix: str = "fp") -> list[Column]:
    """The two exact-DECIMAL lane sums over a projected `row_hash`
    column, aliased {prefix}_lo / {prefix}_hi."""
    h = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return [
        F.sum(
            F.conv(F.substring(h, start, 15), 16, 10).cast("decimal(20,0)")
        ).cast("decimal(38,0)").alias(f"{prefix}_{suffix}")
        for start, suffix in _LANES
    ]


def partition_fingerprint(
    df: DataFrame,
    partition_col: str | Column,
    cols: list[str | Column] | None = None,
) -> DataFrame:
    """Per-partition (partition, n_rows, fp_lo, fp_hi) with an
    order-independent, engine-portable content fingerprint over
    ``cols`` (default: every column except the partition key, cast to
    string — see the float-portability caveat in the module doc)."""
    pcol = F.col(partition_col) if isinstance(partition_col, str) else partition_col
    if cols is None:
        pname = partition_col if isinstance(partition_col, str) else None
        cols = [c for c in df.columns if c != pname]
    return (
        df.select(pcol.cast("string").alias("partition"), row_hash(cols).alias("_h"))
        .groupBy("partition")
        .agg(F.count(F.lit(1)).alias("n_rows"), *lane_sum_aggs("_h"))
    )


def changed_partitions(
    df1: DataFrame,
    df2: DataFrame,
    partition_col: str | Column,
    cols: list[str | Column] | None = None,
) -> DataFrame:
    """Partition-level diff of two table versions: (partition, status,
    n_rows_1, n_rows_2) with status in {added, removed, changed,
    equal}.

    Spark cannot broadcast a FULL OUTER hash join, so the two
    fingerprint frames are combined join-free via the same
    union + groupBy plan the pk census uses (operators/rowdiff.py J1,
    A/B'd at −22% there): tag each side, one shuffle of
    2×|partitions| tiny rows, conditional max() per side."""
    return _compare_fingerprints(
        partition_fingerprint(df1, partition_col, cols),
        partition_fingerprint(df2, partition_col, cols),
    )


def _compare_fingerprints(f1: DataFrame, f2: DataFrame) -> DataFrame:
    u = f1.withColumn("_s", F.lit(1)).unionByName(f2.withColumn("_s", F.lit(2)))
    side = {
        s: {
            c: F.max(F.when(F.col("_s") == s, F.col(c)))
            for c in ("n_rows", "fp_lo", "fp_hi")
        }
        for s in (1, 2)
    }
    n1, n2 = side[1]["n_rows"], side[2]["n_rows"]
    same = (
        (n1 == n2)
        & (side[1]["fp_lo"] == side[2]["fp_lo"])
        & (side[1]["fp_hi"] == side[2]["fp_hi"])
    )
    return u.groupBy("partition").agg(
        F.when(n1.isNull(), F.lit("added"))
        .when(n2.isNull(), F.lit("removed"))
        .when(same, F.lit("equal"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        n1.alias("n_rows_1"),
        n2.alias("n_rows_2"),
    )


def fingerprint_to_audit(
    df: DataFrame,
    partition_col: str | Column,
    audit_path: str,
    run_id: str,
    cols: list[str | Column] | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Persist this version's partition fingerprints to the audit
    table (plans/audit.py sink — Iceberg on a real cluster, parquet
    here). A later run diffs against these rows instead of rescanning
    this version: `changed_partitions_vs_audit`."""
    fp = partition_fingerprint(df, partition_col, cols)
    write_audit(fp, audit_path, run_id, kind="fingerprint", fmt=fmt)
    return fp


def changed_partitions_vs_audit(
    df: DataFrame,
    partition_col: str | Column,
    audit_path: str,
    run_id: str | None = None,
    cols: list[str | Column] | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """`changed_partitions`, but the OLD side comes from fingerprints
    a prior run persisted via `fingerprint_to_audit` — the old table
    version is never re-read (at 100 TB that halves the dominant
    cost of every incremental validation). ``run_id`` picks the
    baseline run; default is the newest run (plans/audit.latest_run).
    Statuses read from the CURRENT table's perspective: 'added' =
    partition new in ``df``, 'removed' = gone from ``df``.

    The default baseline is the latest stored RUN as a whole, not the
    latest row per partition — the latter would
    resurrect partitions that an intermediate run already dropped and
    report them 'removed' forever.

    ``fmt`` mirrors ``fingerprint_to_audit``: 'iceberg' reads the
    catalog table the write side created (spark.read.table), anything
    else reads a parquet path — the two sides must agree or the
    persisted fingerprints are write-only."""
    spark = df.sparkSession
    stored = (
        spark.read.table(audit_path)
        if fmt == "iceberg"
        else spark.read.parquet(audit_path)
    ).filter(F.col("audit_kind") == "fingerprint")
    # the audit frame is |partitions| × |runs| tiny rows — a driver
    # readout of the newest run id is free
    base = latest_run(stored, audit_path, run_id).select(
        "partition", "n_rows", "fp_lo", "fp_hi"
    )
    return _compare_fingerprints(base, partition_fingerprint(df, partition_col, cols))


def diff_changed_partitions(
    df1: DataFrame,
    df2: DataFrame,
    pk: str,
    partition_col: str,
    cols: list[str] | None = None,
    max_changed: int = 100_000,
) -> DataFrame:
    """Row diff (operators/rowdiff.py semantics) restricted to the
    partitions whose fingerprints differ — the 100 TB shape of "what
    changed between v1 and v2".

    The changed-partition LIST collects to the driver (bounded by the
    partition count, never by rows; ``max_changed`` guards a
    pathological all-changed table) and partition-prunes both scans
    via ``isin`` before the pk-shuffle row diff runs. 'added'/
    'removed' partitions are included — their rows surface as
    one-sided diff rows.
    """
    delta = (
        changed_partitions(df1, df2, partition_col, cols)
        .filter(F.col("status") != "equal")
        .select("partition")
        .limit(max_changed + 1)
        .collect()
    )
    if len(delta) > max_changed:
        raise ValueError(
            f"more than {max_changed} partitions changed — run the full "
            "row_diff instead of the partition-pruned path"
        )
    parts = [r["partition"] for r in delta]
    p = F.col(partition_col).cast("string")
    # isin never matches NULL (even against a list containing None),
    # so a changed NULL partition needs its own predicate — otherwise
    # its rows silently vanish from the diff (fail-open)
    pred = p.isin([x for x in parts if x is not None])
    if any(x is None for x in parts):
        pred = pred | p.isNull()
    d1 = df1.filter(pred)
    d2 = df2.filter(pred)
    diff_cols = cols if cols is not None else [c for c in df1.columns if c != pk]
    return row_diff(d1, d2, pk, [c for c in diff_cols if c != pk])
