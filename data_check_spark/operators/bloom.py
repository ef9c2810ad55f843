"""Bloom-filter referential gate — zero-shuffle fail-fast refint.

Reference parity note: the reference's referential construct is the
LEFT JOIN + IS NULL exclusive-PK query
(``/root/reference/data_check/processors/bigquery.py:104-141``);
``operators/refint.py`` covers it exactly. This module is the scale
extension for the regime where neither side of that join is cheap:
a 10^12-row fact table keyed by url against a dimension snapshot too
large to broadcast raw (100M+ urls). A Bloom bitmap of the dimension
keys is orders of magnitude smaller than the keys themselves
(~1.8 MB per million keys at fpp 1e-3 vs ~80 MB of raw urls), so it
broadcasts where the key set cannot, and the fact side is then
classified MAP-ONLY — no shuffle, no join.

Direction of certainty (why a Bloom filter fits *violation* hunting):
a Bloom filter has no false negatives for membership, so a
bloom-NEGATIVE fact key is *certainly* absent from the dimension —
a certified violation. False positives only mis-classify true
violations as "maybe member", i.e. the flagged set is a SUBSET of
the exact violation set (never a false alarm) and misses an expected
``fpp`` fraction of violating keys. That gives two modes:

* ``exact=False`` (the fail-fast gate): emit only the certified
  violations. One map-only pass over the fact table; recall
  ≥ 1 - fpp in expectation, precision exactly 1.0, deterministic
  (xxhash64 is fixed-seed, so reruns and different parallelism
  levels flag the identical set).
* ``exact=True``: additionally anti-join the bloom-POSITIVE residue
  against the dimension, catching the fpp stragglers — byte-equal to
  ``referential_violations``. The bloom pre-filter means only
  positive rows (members + fpp of violations) enter the join; when
  violations are common (the fail-fast scenario) or the dimension is
  above the broadcast ceiling (shuffle join), that shrinks the
  shuffled probe side by the violation fraction.

Hashing: Kirsch-Mitzenmacher double hashing — position_i =
(a + i·b) mod m with a = xxhash64(key, 0) mod m and
b = 1 + (xxhash64(key, 1) mod (m-1)) — which preserves the
asymptotic fpp of k independent hashes (Kirsch & Mitzenmacher,
ESA'06) and means BOTH sides derive all k positions from two 8-byte
hashes. The probe therefore ships only (h1, h2) = 16 B/row through
Arrow (not k positions). The a/b reduction keeps every intermediate
below (k+1)·m < 2^63, so the arithmetic is exact (and ANSI-safe — no
wrap-around) and bit-identical between JVM longs and numpy int64.
xxhash64 is total (a NULL input is "skip", never a NULL output), so
the hash columns carry no NULLs and cross Arrow as clean int64 — a
nullable column would arrive as float64 and corrupt 64-bit hashes
beyond 2^53. NULL keys are handled OUTSIDE the probe (a when()
wrapper), never inside it.

Scale design:
* bitmap built DISTRIBUTED, two plans:
  - ``positions`` (sparse regime, default for small dims): one scan
    explodes each key to its k (word, bit) contributions, a
    groupBy(word) with map-side partial ``bit_or`` reduces to at most
    m/64 rows, fetched to the driver as ONE Arrow frame.
  - ``blocks`` (dense regime, k·n ≫ m/64): each partition builds its
    full local bitmap in numpy (mapInPandas) and emits fixed-size
    binary blocks; an applyInPandas groupBy(block) ORs them — the
    shuffle carries (#blocks × #partitions) rows instead of k·n, and
    the driver assembles the final m/8 bytes from #blocks rows.
  ``method='auto'`` picks by comparing k·n against the word count.
* the bitmap ships to executors once per job via
  ``SparkContext.broadcast`` (not closure capture, which would
  re-pickle it per task batch).
* the probe is ONE Arrow-batched pandas UDF over (h1, h2): numpy
  derives the k positions, gathers the k words and tests the k bits
  for a whole batch at once — no per-row Python.
* the built filter is reusable: ``KeyBloom`` is a plain value
  (bitmap + sizes) — build once per dimension snapshot, pass it to
  any number of ``referential_violations_bloom(..., bloom=...)``
  calls / suite runs, the production amortization (a snapshot
  changes far less often than the fact table is validated).
* ``bloom_missing_keys`` is the certified-violation census, optionally
  per partition: ``ReferentialCheck(mode='bloom')`` persists it.
  ``referential_violations_bloom`` runs the same map-only filter and
  groups the violating rows (plus, with ``exact=True``, the
  anti-joined bloom-positive rows) once, so only violations reach the
  shuffle.
* NULL fact keys are certified violations on every path (xxhash64
  treats NULL as "skip input", which would alias NULL to the hash of
  the seed alone, so hashes are gated on ``isNotNull`` and the probe
  maps NULL hashes to False).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .refint import absent_from

# refuse to build a bitmap the driver/executors couldn't comfortably
# hold or broadcast; callers with genuinely larger dimensions should
# raise fpp or fall back to the shuffle anti-join
MAX_BITMAP_BYTES = 256 << 20
# blocks build: one emitted row covers this many bitmap bytes
_BLOCK_BYTES = 1 << 20


def bloom_parameters(n_keys: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: bits m = -n·ln(p)/ln(2)², hashes
    k = (m/n)·ln(2), both rounded up/nearest and floored at 1. m is
    rounded up to a multiple of 64 (whole words)."""
    if n_keys <= 0:
        return 64, 1
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = int(math.ceil(-n_keys * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


@dataclass(frozen=True)
class KeyBloom:
    """A built key filter: int64 bitmap words + sizing. Reusable
    across any number of probes (build once per dimension snapshot);
    persistable next to the audit (save/load) so later validation
    runs — including resumed ones — skip the build jobs entirely."""

    bitmap: np.ndarray  # int64[m_bits // 64]
    m_bits: int
    k_hashes: int

    def save(self, path: str) -> None:
        """Persist to ``path`` (.npz: pickle-free, version-stable —
        the filter for a 100M-key snapshot is ~170 MB, metadata-sized
        next to the table it guards)."""
        np.savez(
            path if path.endswith(".npz") else path + ".npz",
            bitmap=self.bitmap,
            m_bits=np.int64(self.m_bits),
            k_hashes=np.int64(self.k_hashes),
        )

    @staticmethod
    def load(path: str) -> "KeyBloom":
        with np.load(
            path if path.endswith(".npz") else path + ".npz",
            allow_pickle=False,
        ) as z:
            return KeyBloom(
                z["bitmap"].astype(np.int64, copy=False),
                int(z["m_bits"]),
                int(z["k_hashes"]),
            )


def _hash_pair(key: Column) -> tuple[Column, Column]:
    """(h1, h2) raw double-hash base pair. xxhash64 is total — NULL
    inputs are skipped, not propagated — so these columns are NEVER
    NULL (a NULL key yields the seed hash; callers must gate NULL
    keys separately, see bloom_member_probe / the build's isNotNull
    prefilter)."""
    return F.xxhash64(key, F.lit(0)), F.xxhash64(key, F.lit(1))


def _ab(h1: Column, h2: Column, m_bits: int) -> tuple[Column, Column]:
    """(a, b) reduced double-hash pair: a ∈ [0, m), b ∈ [1, m-1] —
    every a + i·b stays below (k+1)·m < 2^63 (ANSI-safe, numpy-exact)."""
    a = F.pmod(h1, F.lit(m_bits))
    b = F.lit(1) + F.pmod(h2, F.lit(m_bits - 1))
    return a, b


def _positions(key: Column, m_bits: int, k_hashes: int) -> Column:
    """array<long> of the key's k bit positions (JVM-side, for the
    build plans). Caller must prefilter NULL keys."""
    a, b = _ab(*_hash_pair(key), m_bits)
    return F.transform(
        F.sequence(F.lit(0), F.lit(k_hashes - 1)),
        lambda i: F.pmod(a + i.cast("long") * b, F.lit(m_bits)),
    )


def _resolve_size(
    dim: DataFrame,
    dim_key: str,
    fpp: float,
    n_keys: int | None,
    max_bitmap_bytes: int,
) -> tuple[DataFrame, int, int, int]:
    keys = dim.select(F.col(dim_key).alias("_k")).filter(F.col("_k").isNotNull())
    if n_keys is None:
        n_keys = keys.count()
    m_bits, k_hashes = bloom_parameters(n_keys, fpp)
    if m_bits // 8 > max_bitmap_bytes:
        raise ValueError(
            f"bloom bitmap would be {m_bits // 8} bytes for n_keys={n_keys}, "
            f"fpp={fpp} (cap {max_bitmap_bytes}); raise fpp or use the "
            "shuffle anti-join (referential_violations)"
        )
    # the RESOLVED count goes back to the caller: method='auto' needs
    # it, and discarding it made auto always degrade to 'positions'
    # when n_keys was omitted (the common suite path)
    return keys, m_bits, k_hashes, n_keys


def _build_positions(keys: DataFrame, m_bits: int, k_hashes: int) -> np.ndarray:
    """Sparse build: explode to (word, bit) contributions, partial
    bit_or per word, fetch the ≤ m/64 word rows as one Arrow frame."""
    pdf = (
        keys.select(F.explode(_positions(F.col("_k"), m_bits, k_hashes)).alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("long").alias("_word"),
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_bits"))
        .toPandas()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.int64)
    if len(pdf):
        bitmap[pdf["_word"].to_numpy()] = pdf["_bits"].to_numpy()
    return bitmap


def _build_blocks(keys: DataFrame, m_bits: int, k_hashes: int) -> np.ndarray:
    """Dense build: per-partition full numpy bitmaps → fixed-size
    binary blocks → OR per block id. Shuffle mass is
    (#blocks × #partitions) rows of _BLOCK_BYTES, independent of key
    count; right when k·n dwarfs the word count."""
    n_bytes = m_bits // 8
    n_blocks = (n_bytes + _BLOCK_BYTES - 1) // _BLOCK_BYTES
    kk = np.arange(k_hashes, dtype=np.int64)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = np.zeros(m_bits // 64, dtype=np.uint64)
        seen = False
        for b in batches:
            h1 = b["_h1"].to_numpy(dtype=np.int64)
            h2 = b["_h2"].to_numpy(dtype=np.int64)
            if not len(h1):
                continue
            seen = True
            a = h1 % np.int64(m_bits)
            bb = 1 + h2 % np.int64(m_bits - 1)
            pos = (a[:, None] + kk[None, :] * bb[:, None]) % np.int64(m_bits)
            np.bitwise_or.at(
                local, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
            )
        if seen:
            raw = local.tobytes()  # little-endian words, m/8 bytes
            yield pd.DataFrame(
                {
                    "_block": np.arange(n_blocks, dtype=np.int64),
                    "_bytes": [
                        raw[i * _BLOCK_BYTES : (i + 1) * _BLOCK_BYTES]
                        for i in range(n_blocks)
                    ],
                }
            )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for raw in pdf["_bytes"]:
            a = np.frombuffer(raw, dtype=np.uint8)
            acc = a.copy() if acc is None else np.bitwise_or(acc, a)
        return pd.DataFrame(
            {"_block": pdf["_block"].iloc[:1], "_bytes": [acc.tobytes()]}
        )

    h1, h2 = _hash_pair(F.col("_k"))
    parts = keys.select(h1.alias("_h1"), h2.alias("_h2")).mapInPandas(
        partial, "_block long, _bytes binary"
    )
    merged = parts.groupBy("_block").applyInPandas(merge, "_block long, _bytes binary")
    out = bytearray(n_bytes)
    for r in merged.collect():  # ≤ n_blocks rows of _BLOCK_BYTES each
        off = r["_block"] * _BLOCK_BYTES
        out[off : off + len(r["_bytes"])] = r["_bytes"]
    return np.frombuffer(bytes(out), dtype=np.int64)


def build_key_bloom(
    dim: DataFrame,
    dim_key: str,
    fpp: float = 1e-3,
    n_keys: int | None = None,
    max_bitmap_bytes: int = MAX_BITMAP_BYTES,
    method: str = "auto",
) -> KeyBloom:
    """Build the dimension's key filter. ``n_keys`` sizes it; when
    omitted it is taken as the dimension ROW count (one tiny count job
    on the slim key projection) — an overestimate under duplicate
    keys, which only makes the filter larger (lower fpp), never
    under-sized. ``method``: 'positions' | 'blocks' | 'auto' (pick
    'blocks' once the k·n contributions exceed 4× the word count —
    the point where shipping whole partial bitmaps beats shipping
    per-key contributions)."""
    keys, m_bits, k_hashes, est_n = _resolve_size(
        dim, dim_key, fpp, n_keys, max_bitmap_bytes
    )
    if method == "auto":
        method = (
            "blocks"
            if est_n * k_hashes > 4 * (m_bits // 64)
            else "positions"
        )
    if method == "positions":
        bitmap = _build_positions(keys, m_bits, k_hashes)
    elif method == "blocks":
        bitmap = _build_blocks(keys, m_bits, k_hashes)
    else:
        raise ValueError(f"method must be 'positions', 'blocks' or 'auto', got {method!r}")
    return KeyBloom(bitmap, m_bits, k_hashes)


def bloom_member_probe(spark: SparkSession, bloom: KeyBloom):
    """Callable(key: Column) -> boolean Column: True iff all k of the
    key's bits are set ("maybe member"); False is a certificate of
    absence. NULL keys probe False. Only the 16-byte (h1, h2) hash
    pair crosses Arrow; positions/words/bits are batch numpy. The
    bitmap rides an explicit SparkContext broadcast (one transfer per
    executor), exposed as ``member.broadcast``: the caller owns it and
    calls its ``destroy()`` after the last action over a plan that
    probes (``ReferentialCheck`` leaves that to
    ``SuiteResult.unpersist()``). Until then it holds up to
    ``MAX_BITMAP_BYTES`` on the driver and every executor."""
    bc = spark.sparkContext.broadcast(bloom.bitmap)
    m_bits, k_hashes = bloom.m_bits, bloom.k_hashes
    kk = np.arange(k_hashes, dtype=np.int64)

    @F.pandas_udf(BooleanType())
    def _probe(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        bm = bc.value
        h1 = h1s.to_numpy(dtype=np.int64)  # never NULL: xxhash64 is total
        h2 = h2s.to_numpy(dtype=np.int64)
        if not len(h1):
            return pd.Series(np.zeros(0, dtype=bool))
        a = h1 % np.int64(m_bits)
        b = 1 + h2 % np.int64(m_bits - 1)
        pos = (a[:, None] + kk[None, :] * b[:, None]) % np.int64(m_bits)
        words = bm[pos >> 6]
        return pd.Series(((words >> (pos & 63)) & 1).all(axis=1))

    def member(key: Column) -> Column:
        # NULL keys short-circuit OUTSIDE the UDF: xxhash64(NULL, i)
        # is the seed hash (a real long), so the probe result for a
        # NULL key is meaningless and is overridden to False here
        h1, h2 = _hash_pair(key)
        return F.when(key.isNull(), F.lit(False)).otherwise(_probe(h1, h2))

    member.broadcast = bc
    return member


def bloom_missing_keys(
    fact: DataFrame,
    fact_key: str | Column,
    member,
    partition: Column | None = None,
) -> DataFrame:
    """Unsorted ``([partition,] ref_key, n)``: the fact keys a
    ``bloom_member_probe`` certifies absent from its dimension, with
    their row counts. The classification is a map-only filter, so only
    certified violations reach the groupBy shuffle (mass ∝ violations,
    not table size)."""
    k = F.col(fact_key) if isinstance(fact_key, str) else fact_key
    by = [] if partition is None else [partition.alias("partition")]
    return fact.filter(~member(k)).groupBy(*by, k.alias("ref_key")).agg(
        F.count(F.lit(1)).alias("n")
    )


def referential_violations_bloom(
    fact: DataFrame,
    fact_key: str | Column,
    dim: DataFrame,
    dim_key: str,
    fpp: float = 1e-3,
    exact: bool = False,
    keep_columns: list[str] | None = None,
    broadcast: bool | str = "auto",
    limit: int | None = None,
    n_keys: int | None = None,
    bloom: KeyBloom | None = None,
) -> DataFrame:
    """Fact rows whose key is absent from ``dim``, via a Bloom bitmap
    of the dimension keys. Output shape mirrors
    ``referential_violations``: a (ref_key, n_rows) census per
    violating key by default (for ``exact=False`` the
    ``bloom_missing_keys`` plan, sorted by key), a bounded row dump
    with ``keep_columns``.

    ``exact=False``: certified violations only — one MAP-ONLY pass
    over the fact table (no shuffle of fact data besides the census
    groupBy on violating keys, which is proportional to violations,
    not table size). Flagged ⊆ exact violations; expected miss rate
    ``fpp`` of violating KEYS; deterministic across runs and
    parallelism (fixed-seed xxhash64).

    ``exact=True``: the bloom-positive residue is anti-joined against
    the dimension, so the union equals ``referential_violations``
    byte-for-byte — the bitmap acts as a join pre-filter that keeps
    certain violations out of the shuffle entirely.

    ``bloom``: a prebuilt ``KeyBloom`` (see ``build_key_bloom``) —
    build once per dimension snapshot, reuse across every validation
    run against it; when omitted, built here (count + build jobs on
    the dim side, the right default for one-shot use).

    The bitmap broadcast this makes (``bloom_member_probe``) is never
    destroyed: the returned frame is lazy, so only the caller knows
    when its last action ran, and it stays registered for the life of
    the session. A long-lived session that checks repeatedly should
    run ``ReferentialCheck(mode='bloom')``, whose
    ``SuiteResult.unpersist()`` destroys it, or compose
    ``bloom_member_probe`` + ``bloom_missing_keys`` and destroy
    ``member.broadcast`` itself.
    """
    k = F.col(fact_key) if isinstance(fact_key, str) else fact_key
    if bloom is None:
        bloom = build_key_bloom(dim, dim_key, fpp, n_keys=n_keys)
    member = bloom_member_probe(fact.sparkSession, bloom)
    slim = fact.select(k.alias("ref_key"), *(keep_columns or []))
    rows = slim.filter(~member(F.col("ref_key")))
    if exact:
        # one key, one probe result: the residue's keys are disjoint
        # from the certified ones (NULL keys probe False), and only
        # bloom-positive rows are anti-joined
        resid = slim.filter(member(F.col("ref_key")))
        rows = rows.unionByName(
            absent_from(resid, F.col("ref_key"), dim, dim_key, broadcast=broadcast)
        )
    if not keep_columns:
        rows = rows.groupBy("ref_key").agg(F.count(F.lit(1)).alias("n_rows"))
    out = rows.orderBy("ref_key")
    return out.limit(limit) if limit else out
