"""Deterministic shard export — the pipeline's last mile.

A curated corpus (post dedup / quota / budget-cut / split) ships to
trainers as N shards. Requirements at 10¹² docs: the shard assignment
must be a pure function of the row key (re-runs and backfills land
rows in the same shard — no ``repartition`` round-robin, which
re-rolls per run), and the export must be *verifiable* — a manifest
of per-shard row counts and content fingerprints that any engine can
re-derive from the data, so a reader can prove bytes-on-disk ==
rows-meant-to-ship without trusting the writer.

Design: shard id is an md5 bucket of the key (the functions/splits
convention — engine-portable, DuckDB re-derives every assignment);
the manifest reuses operators/fingerprint's order-independent
two-lane DECIMAL md5 sums, so manifest verification is the exact
machinery partition-diff already trusts. ``export_shards`` writes
``partitionBy('shard')`` after ONE hash repartition on the shard
column (each shard's rows co-locate, so the writer emits one file
set per shard instead of #tasks × #shards small files — the 10⁵-task
small-file explosion), then optionally re-reads what it wrote and
raises unless the read-back manifest matches the source manifest —
an end-to-end disk round-trip proof, not a buffer-level checksum.

No reference counterpart (`/root/reference` has no writer at all —
data_check/query/query_bq.py:56-60 returns pandas); the lineage is
standard training-data shard layout (WebDataset/TFRecord-style
shard-by-hash) re-expressed as DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from data_check_spark.functions.splits import key_md5
from data_check_spark.operators.fingerprint import lane_sum_aggs, row_hash
from data_check_spark.session import local_frame


def shard_id(key: Column, num_shards: int, salt: str = "dcs-shard") -> Column:
    """Deterministic shard assignment: 15 hex chars of
    md5(key ':' salt) → bigint → pmod num_shards. Pure row-local
    expression — engine-portable (DuckDB: CAST('0x' || substring(...)
    AS BIGINT) % n), re-run/backfill stable, and independent of
    partitioning by construction. A NULL key yields a NULL shard —
    gate keys with NotNullCheck/UniqueCheck upstream (an export key
    is a primary key)."""
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    return F.pmod(
        F.conv(F.substring(key_md5(key, salt), 1, 15), 16, 10).cast("bigint"),
        F.lit(num_shards),
    ).cast("int")


def shard_manifest(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    cols: list[str] | None = None,
    salt: str = "dcs-shard",
) -> DataFrame:
    """(shard, n_rows, fp_lo, fp_hi) — per-shard row count and
    order-independent content fingerprint over ``cols`` (default: all
    columns). One scan, one map-side-combined groupBy on ≤num_shards
    keys; the lane sums are exact DECIMAL(38,0) so the manifest is
    partitioning-independent and engine-re-derivable."""
    cols = cols or df.columns
    return (
        df.select(
            shard_id(F.col(key_col), num_shards, salt).alias("shard"),
            row_hash(cols).alias("_h"),
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"), *lane_sum_aggs("_h"))
    )


def export_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    num_shards: int,
    cols: list[str] | None = None,
    salt: str = "dcs-shard",
    verify: bool = True,
    mode: str = "error",
) -> DataFrame:
    """Write ``df`` as ``out_dir/shard=K/`` parquet with deterministic
    md5-bucket shard assignment, plus the manifest at
    ``out_dir/_manifest``. With ``verify=True`` (default) the written
    files are RE-READ and re-fingerprinted; a mismatch against the
    source manifest raises — the export is proven on disk, not
    assumed. Returns the manifest DataFrame.

    Scale: one repartition shuffle on the shard column (co-locates
    each shard → one writer file set per shard), one manifest scan of
    the source, and — under verify — one scan of the written output.
    The verify scan is the price of the guarantee; skip it only when
    a downstream reader runs the same check (shard_manifest over the
    read-back frame vs the stored _manifest is a two-line audit).
    """
    if "shard" in df.columns:
        raise ValueError(
            "input already has a 'shard' column — export_shards emits its "
            "own shard assignment and partitionBy('shard') would silently "
            "replace the existing values; rename or drop it first"
        )
    if mode == "append":
        raise ValueError(
            "mode='append' would desync the manifest: the stored _manifest "
            "describes ONE export, while appended files accumulate — the "
            "reader-side audit would then always fail. Export increments to "
            "separate directories (or re-export the union)"
        )
    cols = cols or df.columns
    spark = df.sparkSession
    # ONE manifest scan: collect the <= num_shards rows and rebuild a
    # tiny local frame, so verification, the stored _manifest and the
    # returned frame are all the SAME computed values (a lazy manifest
    # would re-scan the source per use — three full scans at 10^12
    # docs — and could store a manifest verification never saw)
    lazy = shard_manifest(df, key_col, num_shards, cols, salt)
    rows = lazy.collect()
    if any(r["shard"] is None for r in rows):
        raise ValueError(
            f"NULL {key_col!r} keys in the export input: a NULL key has no "
            f"shard (see shard_id) — gate the key with NotNullCheck/"
            f"UniqueCheck upstream"
        )
    manifest = local_frame(spark, rows, lazy.schema)
    sharded = df.withColumn("shard", shard_id(F.col(key_col), num_shards, salt))
    sharded.repartition(num_shards, F.col("shard")).write.partitionBy("shard").mode(
        mode
    ).parquet(out_dir)
    if verify:
        verify_export(spark, out_dir, manifest, cols)
    manifest.write.mode("overwrite").parquet(out_dir.rstrip("/") + "/_manifest")
    return manifest


def verify_export(spark, out_dir: str, manifest: DataFrame, cols: list[str]) -> None:
    """Re-read an exported shard directory, re-fingerprint it, and
    raise RuntimeError naming the divergent shards unless every
    shard's (n_rows, fp_lo, fp_hi) matches ``manifest``. This is the
    reader-side audit: any engine holding the stored _manifest can
    run the same check without trusting the writer."""
    back = spark.read.parquet(out_dir)
    got = (
        back.select(
            F.col("shard").cast("int").alias("shard"), row_hash(cols).alias("_h")
        )
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"), *lane_sum_aggs("_h"))
    )
    diff = (
        manifest.alias("a")
        .join(got.alias("b"), "shard", "full")
        .filter(
            ~(
                F.col("a.n_rows").eqNullSafe(F.col("b.n_rows"))
                & F.col("a.fp_lo").eqNullSafe(F.col("b.fp_lo"))
                & F.col("a.fp_hi").eqNullSafe(F.col("b.fp_hi"))
            )
        )
        .select("shard")
        .collect()
    )
    if diff:
        raise RuntimeError(
            f"export verification FAILED for shards "
            f"{sorted((r['shard'] if r['shard'] is not None else -1) for r in diff)}: "
            f"written content does not match the source manifest"
        )
