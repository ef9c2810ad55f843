"""PK / url uniqueness and functional dependencies — check #2 of the
reference's contract.

Reference: ``GROUP BY pk HAVING COUNT(*) > 1``
(``/root/reference/data_check/processors/bigquery.py:94-102``); empty
result = pass (``data_processor.py:257-266``).

Each check has one plan, built here once: ``duplicate_keys`` and
``fd_violating_keys`` return the unsorted per-key census, optionally
per partition, and ``UniquenessCheck`` / ``FunctionalDependencyCheck``
(plans/checks.py) persist it as their violation frame. The public
operators ``uniqueness_violations`` and ``fd_violations`` are those
builders plus a sort by key (deterministic output for writes and
goldens) and an optional limit.

Scale design: a two-phase hash-candidate census. Phase 1 shuffles
8-byte ``xxhash64`` values of the key, never the key's bytes, and
keeps the hashes that could be violations. Phase 2 re-scans only the
rows whose hash is a candidate (a left-semi probe against the bounded
candidate set, broadcast by default) and recounts BY VALUE, so a hash
collision can never fabricate a violation; phase 1 only prunes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(
    df: DataFrame,
    key: str | Column,
    partition: Column | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Unsorted ``([partition,] key_value, n)``: the keys occurring
    more than once (within their partition), with their multiplicity.

    Phase 1 shuffles (partition, xxhash64(key)): 8-byte hashes, not
    full key strings, measured 2.3x faster than the string-keyed
    groupBy at local[32] on 20M urls. No distinct() on the candidates:
    a left-semi probe is indifferent to duplicate build keys and the
    dedup added an exchange+stage. The explicit broadcast matters: AQE
    kept a SortMergeJoin (sorting all fact rows) even with a ~3MB
    build side. The candidate set is bounded only by the table's
    duplicate RATE; on a high-duplicate table set
    ``broadcast_candidates=False`` so the probe falls back to a
    shuffled join instead of exceeding the broadcast limit."""
    by = [] if partition is None else [partition.alias("partition")]
    names = [] if partition is None else ["partition"]
    k = F.col(key) if isinstance(key, str) else key
    h = F.xxhash64(k)
    cand_h = (
        df.groupBy(*by, h.alias("_h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("_h")
    )
    build = F.broadcast(cand_h) if broadcast_candidates else cand_h
    return (
        df.select(*by, k.alias("key_value"), h.alias("_h"))
        .join(build, "_h", "left_semi")
        .groupBy(*names, "key_value")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def uniqueness_violations(
    df: DataFrame, key: str | Column, limit: int | None = None
) -> DataFrame:
    """Keys occurring more than once, with their multiplicity:
    ``duplicate_keys`` sorted by key. Returns (key_value, n)."""
    out = duplicate_keys(df, key).orderBy("key_value")
    return out.limit(limit) if limit else out


def fd_violating_keys(
    df: DataFrame,
    determinant: str | Column,
    dependents: list[str] | tuple[str, ...],
    partition: Column | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Unsorted ``([partition,] key_value, n_variants, n_rows)``: the
    values of ``determinant`` observed (within their partition) with
    MORE than one distinct combination of ``dependents``.
    ``n_variants`` counts the distinct combinations (an all-NULL
    combination counts as ONE variant: byte-identical means "both NULL
    or both equal", fail-closed) and ``n_rows`` the group size.

    Phase 1 groups xxhash64(det) counting distinct xxhash64(deps): the
    shuffle carries two 8-byte hashes per row, never url/text bytes.
    The probe joins on the determinant hash alone, which keeps the
    build side minimal; a hash that violates only in partition A
    semi-keeps its partition-B rows too, and the by-value recount's
    ``n_variants > 1`` filter discards them. One-sided caveat: two
    DISTINCT dependent values colliding under xxhash64 *within one
    determinant group* would mask that group in phase 1 (~2^-64 per
    pair, the standard hash-fingerprint trade)."""
    by = [] if partition is None else [partition.alias("partition")]
    names = [] if partition is None else ["partition"]
    det = F.col(determinant) if isinstance(determinant, str) else determinant
    deps = [F.col(c) for c in dependents]
    h_det, h_dep = F.xxhash64(det), F.xxhash64(*deps)
    cand = (
        df.groupBy(*by, h_det.alias("_hd"))
        .agg(F.count_distinct(h_dep).alias("_v"))
        .filter(F.col("_v") > 1)
        .select("_hd")
    )
    build = F.broadcast(cand) if broadcast_candidates else cand
    return (
        df.select(*by, det.alias("key_value"), F.struct(*deps).alias("_dep"), h_det.alias("_hd"))
        .join(build, "_hd", "left_semi")
        .groupBy(*names, "key_value")
        .agg(
            F.count_distinct("_dep").alias("n_variants"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_variants") > 1)
    )


def fd_violations(
    df: DataFrame,
    determinant: str | Column,
    dependents: list[str] | tuple[str, ...],
    limit: int | None = None,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Functional-dependency violations — e.g. ``fd_violations(pages,
    "url", ["text"])`` asserts the BASELINE.json per-row invariant
    (byte-identical extracted text per url) as a data check.
    Generalizes uniqueness: a unique key is the FD ``key -> all
    columns`` with every group of size 1. ``fd_violating_keys`` sorted
    by key: returns (key_value, n_variants, n_rows)."""
    out = fd_violating_keys(
        df, determinant, dependents, broadcast_candidates=broadcast_candidates
    ).orderBy("key_value")
    return out.limit(limit) if limit else out


def remediation_query(df: DataFrame, key: str) -> str:
    """The GROUP-BY query a user can run to see the offending keys —
    the reference embeds exactly this in its failure message
    (``data_processor.py:263-264``)."""
    src = "<table>"
    return (
        f"SELECT {key}, count(*) AS n FROM {src} "
        f"GROUP BY {key} HAVING count(*) > 1 ORDER BY n DESC"
    )


def uniqueness_check(df: DataFrame, key: str) -> tuple[bool, int, str | None]:
    """Pass/fail à la the reference gate (data_processor.py:257-266):
    empty violation set = pass. Returns (passed, n_violating_keys,
    message); on failure the message carries the offending-keys query
    like the reference's remediation hint (data_processor.py:263-264)."""
    n = duplicate_keys(df, key).count()
    if n == 0:
        return True, 0, None
    msg = (
        f"uniqueness check failed: {n} value(s) of `{key}` occur more than once. "
        f"Inspect them with: {remediation_query(df, key)}"
    )
    return False, n, msg
