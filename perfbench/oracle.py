"""Independent expected values for the suite's verdicts, recomputed
with DuckDB from the same parquet files the program reads, and the
comparisons that decide whether one suite call was correct.

Verdict rows are tuples (partition, column, check, metric, threshold,
passed), the suite's uniform verdict schema. Every check function
returns a list of problems; an empty list means the call was correct.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa

# must match data_check_spark.sources.synth (the dimension snapshot
# deliberately misses cold domains whose index is 4 mod 10)
HOT_DOMAINS = ["hot-aggregator.com", "mega-portal.net", "viral-hub.org"]
N_COLD_DOMAINS = 5000

_DAY = "strftime(CAST(warc_ts AS DATE), '%Y-%m-%d')"
# substring_index(substring_index(url, '://', -1), '/', 1)
_DOMAIN = "split_part(split_part(url, '://', -1), '/', 1)"


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    return con


def _round6(x: float) -> float:
    # Spark's round() is HALF_UP; ties at the 7th digit are measure-zero
    return math.floor(x * 1e6 + 0.5) / 1e6


def validate_expected(v1: str, v2: str) -> dict[tuple, float]:
    """{(partition, column, check): metric} for the stats, uniqueness,
    referential and PK-census verdicts of the validate suite."""
    con = _connect()
    dim = [(d,) for d in HOT_DOMAINS] + [
        (f"site-{i}.example.com",) for i in range(N_COLD_DOMAINS) if i % 10 != 4
    ]
    con.register("dim", pa.table({"domain": [d for (d,) in dim]}))
    con.execute(
        f"CREATE TEMP VIEW t AS SELECT {_DAY} AS p, url, text, lang, "
        f"{_DOMAIN} AS domain FROM {_pq(v1)}"
    )
    exp: dict[tuple, float] = {}
    for p, n, nt, nl, nu, dup, miss in con.execute(
        """
        SELECT p, count(*), count(*) - count(text), count(*) - count(lang),
               count(*) - count(url),
               (SELECT count(*) FROM (SELECT 1 FROM t t2 WHERE t2.p = t.p
                  GROUP BY url HAVING count(*) > 1)),
               count(*) FILTER (WHERE domain NOT IN (SELECT domain FROM dim))
        FROM t GROUP BY p
        """
    ).fetchall():
        exp[(p, "text", "min_rows")] = float(n)
        exp[(p, "text", "max_null_rate")] = nt / n
        exp[(p, "lang", "max_null_rate")] = nl / n
        exp[(p, "url", "max_null_rate")] = nu / n
        exp[(p, "url", "unique")] = float(dup)
        exp[(p, "domain_in_snapshot", "refint")] = float(miss)
    total, m1, m2 = con.execute(
        f"""
        WITH u AS (SELECT url AS k, 1 AS c1, 0 AS c2 FROM {_pq(v1)}
                   UNION ALL SELECT url, 0, 1 FROM {_pq(v2)}),
             pk AS (SELECT k, sum(c1) AS n1, sum(c2) AS n2 FROM u GROUP BY k)
        SELECT sum(CASE WHEN k IS NULL OR n1 = 0 OR n2 = 0 THEN n1 + n2
                        ELSE n1 * n2 END),
               sum(CASE WHEN k IS NULL THEN n1 + n2 WHEN n1 = 0 THEN n2 ELSE 0 END),
               sum(CASE WHEN k IS NULL THEN n1 + n2 WHEN n2 = 0 THEN n1 ELSE 0 END)
        FROM pk
        """
    ).fetchone()
    exp[("*", "url", "pk_missing_ratio_1")] = _round6(m1 / total)
    exp[("*", "url", "pk_missing_ratio_2")] = _round6(m2 / total)
    con.close()
    return exp


def fd_expected(path: str) -> dict[tuple, float]:
    """{(partition, 'url', 'fd'): violating urls} — urls seen with more
    than one text in a partition, a NULL text counting as one value."""
    con = _connect()
    rows = con.execute(
        f"""
        WITH t AS (SELECT {_DAY} AS p, url, text FROM {_pq(path)}),
             v AS (SELECT p, url FROM t GROUP BY p, url
                   HAVING count(DISTINCT text) + max(CAST(text IS NULL AS INT)) > 1)
        SELECT p, (SELECT count(*) FROM v WHERE v.p = t.p) FROM t GROUP BY p
        """
    ).fetchall()
    con.close()
    return {(p, "url", "fd"): float(n) for p, n in rows}


def doc_count(path: str) -> int:
    con = _connect()
    (n,) = con.execute(f"SELECT count(*) FROM {_pq(path)}").fetchone()
    con.close()
    return int(n)


def compare_metrics(rows: list[tuple], expected: dict[tuple, float]) -> list[str]:
    """Every expected (partition, column, check) must appear exactly
    once with the expected metric."""
    got: dict[tuple, list] = {}
    for r in rows:
        got.setdefault(tuple(r[:3]), []).append(r[3])
    problems = []
    for key, want in sorted(expected.items()):
        have = got.get(key)
        if not have or len(have) != 1:
            problems.append(f"{key}: expected one verdict row, found {len(have or [])}")
        elif have[0] is None or abs(have[0] - want) > 1e-9 * max(1.0, abs(want)):
            problems.append(f"{key}: metric {have[0]!r} != expected {want!r}")
    return problems


def check_passed_flags(rows: list[tuple]) -> list[str]:
    """``passed`` must agree with metric vs threshold: ``min_*`` and
    ``ratio_equal`` checks are lower bounds, all others upper bounds, a
    NULL metric fails.
    The per-partition ``all`` summary row is checked by the caller's
    row comparison, not here."""
    problems = []
    for part, col, check, metric, threshold, passed in rows:
        if check == "all":
            continue
        if metric is None:
            want = False
        elif check.startswith("min_") or check == "ratio_equal":
            want = metric >= threshold
        else:
            want = metric <= threshold
        if passed != want:
            problems.append(
                f"({part}, {col}, {check}): passed={passed} but metric "
                f"{metric} vs threshold {threshold}"
            )
    return problems


def check_rows(rows: list[tuple], expected_keys: set[tuple]) -> list[str]:
    """The verdict rows must be exactly ``expected_keys``, one row each."""
    keys = [tuple(r[:3]) for r in rows]
    problems = []
    if len(keys) != len(set(keys)):
        problems.append("duplicate verdict rows")
    if set(keys) != expected_keys:
        problems.append(
            f"verdict keys differ: missing {sorted(expected_keys - set(keys))}, "
            f"unexpected {sorted(set(keys) - expected_keys)}"
        )
    return problems


def verdict_digest(rows: list[tuple]) -> str:
    """Order-independent digest of verdict rows."""
    text = "\n".join(sorted(repr(tuple(r)) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()
