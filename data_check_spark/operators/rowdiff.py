"""Two-table comparison: PK census, exclusive-row dumps, per-column
match ratios, row-level diff — checks #3–#5 of the reference contract
(SURVEY §2.9).

Reference queries being re-expressed (all single-key equi-joins):

* **PK census** — FULL OUTER JOIN USING(pk) + COUNT/COUNTIF battery
  (``/root/reference/data_check/processors/bigquery.py:55-92``):
  total_rows, missing per side, missing ratios (SAFE_DIVIDE).
* **Exclusive rows** — LEFT JOIN + IS NULL ≡ left anti, LIMIT 500
  (``bigquery.py:104-141``).
* **Per-column ratios** — ONE inner join + ONE fused aggregation
  computes ratio_not_null / ratio_equal for every column
  (``bigquery.py:195-253``); output long-format directly (the
  reference transposes client-side, data_processor.py:226-237).
* **Row diff** — inner join + OR-of-inequalities filter, paired
  ``col__1``/``col__2`` projection (``bigquery.py:143-193``,
  suffixing util ``processors/utils.py:7-13``).

Null/sentinel semantics follow functions/canonical.py (SURVEY §2.10).

Scale design:
* compared columns are canonicalized and projected BEFORE the join —
  the shuffle carries only (pk, canonical strings), never html bytes.
* the join is a single hash-partitioned equi-join on pk; AQE skew-join
  splits hot pk partitions. An optional ``repartition_to`` pre-shuffles
  both sides identically so census + ratios + diff reuse one exchange.
* ratios come from ONE aggregation over the joined relation — the
  whole 5-check battery costs one shuffle of the slim projection.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_check_spark.functions.canonical import (
    canonical_string,
    ratio_equal_pred,
    ratio_not_null_pred,
    rowdiff_neq,
)
from data_check_spark.operators.schema_diff import common_columns


def _canon_sides(
    df1: DataFrame, df2: DataFrame, pk: str, columns: list[str] | None
):
    """Project both sides to (pk, canonicalized compared columns)."""
    common = common_columns(df1, df2)
    names = [n for n, _ in common if n != pk]
    if columns is not None:
        names = [n for n in names if n in columns]
    t1 = {f.name: f.dataType for f in df1.schema.fields}
    t2 = {f.name: f.dataType for f in df2.schema.fields}
    s1 = df1.select(F.col(pk), *[canonical_string(F.col(n), t1[n]).alias(n) for n in names])
    s2 = df2.select(F.col(pk), *[canonical_string(F.col(n), t2[n]).alias(n) for n in names])
    return s1, s2, names


def pk_census(df1: DataFrame, df2: DataFrame, pk: str) -> DataFrame:
    """Full-outer PK overlap census → one summary row
    (total_rows, missing_primary_keys_table1/2, ratios).

    Matches ``bigquery.py:55-92``: COUNTIF(side IS NULL) per side,
    SAFE_DIVIDE → try_divide.

    Plan: NOT a join. Both key columns are unioned with a side tag and
    reduced in ONE groupBy(pk) (map-side combine → the shuffle carries
    per-distinct-key partial counts), then a scalar aggregate applies
    the full-outer accounting arithmetic:

    * key on both sides → the join would emit n1*n2 rows, all matched;
    * key on one side → n1+n2 unmatched rows (count toward the other
      side's missing);
    * NULL keys never equi-join-match → every NULL row is unmatched,
      AND its own key column is NULL in the joined row, so the
      reference's COUNTIF(pk IS NULL) counts every NULL-key row from
      EITHER side toward BOTH missing counters (the groupBy pools
      NULLs into one group whose counts are the per-side NULL-row
      counts — asserted against an inline join in
      tests/test_rowdiff.py::test_pk_census_duplicate_and_null_keys).

    Same result as the full-outer join (duplicate and NULL keys
    included) for half the shuffle passes and no sort: the SMJ variant
    measured ~6s of the sf0.1 bench; this is one hash aggregation.
    """
    k = F.col("k")
    u = df1.select(
        F.col(pk).alias("k"), F.lit(1).alias("c1"), F.lit(0).alias("c2")
    ).unionAll(df2.select(F.col(pk).alias("k"), F.lit(0).alias("c1"), F.lit(1).alias("c2")))
    per_key = u.groupBy("k").agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    n1, n2 = F.col("n1"), F.col("n2")
    unmatched = k.isNull() | (n1 == 0) | (n2 == 0)
    total = F.sum(F.when(unmatched, n1 + n2).otherwise(n1 * n2))
    miss1 = F.sum(
        F.when(k.isNull(), n1 + n2).when(n1 == 0, n2).otherwise(F.lit(0))
    )
    miss2 = F.sum(
        F.when(k.isNull(), n1 + n2).when(n2 == 0, n1).otherwise(F.lit(0))
    )
    return per_key.agg(
        F.coalesce(total, F.lit(0)).alias("total_rows"),
        F.coalesce(miss1, F.lit(0)).alias("missing_primary_keys_table1"),
        F.coalesce(miss2, F.lit(0)).alias("missing_primary_keys_table2"),
        F.round(
            F.try_divide(miss1.cast("double"), total.cast("double")), 6
        ).alias("missing_primary_keys_table1_ratio"),
        F.round(
            F.try_divide(miss2.cast("double"), total.cast("double")), 6
        ).alias("missing_primary_keys_table2_ratio"),
    )


def exclusive_rows(
    df1: DataFrame, df2: DataFrame, pk: str, side: int = 1, limit: int = 500
) -> DataFrame:
    """Rows whose PK exists only on ``side`` (1 or 2) — left anti-join,
    capped like the reference's LIMIT 500 (``bigquery.py:105``),
    sorted by pk so the capped set is deterministic.

    Projection matches the reference's observable contract
    (``bigquery.py:104-141``): the pk unsuffixed, then every COMMON
    column (pk included — ``columns_names`` carries it, see
    ``models/table.py:48-50``) suffixed ``__1``/``__2`` per side."""
    a, b = (df1, df2) if side == 1 else (df2, df1)
    # build-side dropDuplicates A/B'd at 20M urls (~2% dups;
    # scripts/ab_exclusive_dedup.py @ 415cb3d,
    # BENCH/AB_EXCLUSIVE_DEDUP.jsonl @ 415cb3d):
    # 13.4 s with vs 12.9 s without — a wash within run spread on the
    # common near-unique pk. Kept: the anti-join is indifferent to
    # duplicate build keys, but on a heavily duplicated build side the
    # pre-aggregation collapses the exchange/broadcast, which is the
    # case that breaks at scale.
    keys = b.select(pk).dropDuplicates()
    anti = a.join(keys, on=pk, how="left_anti")
    suffix = f"__{side}"
    common = [n for n, _ in common_columns(df1, df2)]
    proj = [F.col(pk)] + [F.col(n).alias(f"{n}{suffix}") for n in common]
    return anti.select(*proj).orderBy(pk).limit(limit)


def column_match_ratios(
    df1: DataFrame,
    df2: DataFrame,
    pk: str,
    columns: list[str] | None = None,
    reference_mode: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Long-format per-column ratios over the inner-joined rows:
    (column, count_common, ratio_not_null, ratio_equal,
    percentage_diff_values), sorted like the reference report
    (percentage_diff_values desc, ratio_not_null desc;
    ``data_processor.py:232-236``).

    ONE inner join + ONE aggregation for ALL columns (ref
    ``bigquery.py:207-224``): count_common = COUNT(pk);
    ratio_not_null = COUNTIF(COALESCE(a,b) NOT NULL)/count_common;
    ratio_equal = COUNTIF(eq)/not_null_count (``bigquery.py:232-235``);
    percentage_diff_values = 1 - ratio_equal (``data_processor.py:231``).
    """
    s1, s2, names = _canon_sides(df1, df2, pk, columns)
    s1 = s1.select(F.col(pk), *[F.col(n).alias(f"{n}__1") for n in names])
    s2 = s2.select(F.col(pk), *[F.col(n).alias(f"{n}__2") for n in names])
    j = s1.join(s2, on=pk, how="inner")

    count_common = F.count(F.col(pk))
    structs = []
    for n in names:
        c1, c2 = F.col(f"{n}__1"), F.col(f"{n}__2")
        not_null = F.count_if(ratio_not_null_pred(c1, c2))
        equal = F.count_if(ratio_equal_pred(c1, c2, reference_mode))
        ratio_not_null = F.try_divide(not_null.cast("double"), count_common.cast("double"))
        ratio_equal = F.try_divide(equal.cast("double"), not_null.cast("double"))
        structs.append(
            F.struct(
                F.lit(n).alias("column"),
                count_common.alias("count_common"),
                F.round(ratio_not_null, round_to).alias("ratio_not_null"),
                F.round(ratio_equal, round_to).alias("ratio_equal"),
                F.round(F.lit(1.0) - ratio_equal, round_to).alias("percentage_diff_values"),
            )
        )
    wide = j.agg(F.array(*structs).alias("m"))
    return (
        wide.select(F.explode("m").alias("m"))
        .select("m.*")
        .orderBy(F.desc("percentage_diff_values"), F.desc("ratio_not_null"), "column")
    )


class EmptyResultError(ValueError):
    """The comparison query returned no joined rows (disjoint or empty
    PK sets) — reference parity for the all-NaN ``ratio_not_null`` ⇒
    "query returned no rows" error
    (``/root/reference/data_check/streamlit_app.py:252-255``)."""


def collect_ratios_checked(ratios: DataFrame) -> list:
    """Collect a ``column_match_ratios`` result (bounded: one row per
    compared column) and raise :class:`EmptyResultError` when every
    ``ratio_not_null`` is NULL — the signature of a zero-row inner
    join, which the plain ratios frame would otherwise report as rows
    of silent NULL ratios. Mirrors the reference's client-side
    detection (``streamlit_app.py:252-255``:
    ``data["ratio_not_null"].isna().all()``)."""
    rows = ratios.collect()
    if rows and all(r["ratio_not_null"] is None for r in rows):
        raise EmptyResultError(
            "query returned no rows: the inner join on the primary key "
            "matched 0 rows (disjoint or empty primary-key sets)"
        )
    return rows


def row_diff(
    df1: DataFrame,
    df2: DataFrame,
    pk: str,
    columns: list[str] | None = None,
    reference_mode: bool = True,
) -> DataFrame:
    """Row-level diff dump: inner join on pk, keep rows where ANY
    compared column differs (OR-of-inequalities, ``bigquery.py:175-182``),
    output (pk, col__1, col__2, ...) like ``bigquery.py:155-173``.
    Unlimited rows, matching the reference (only exclusive-PK dumps
    carry a LIMIT); sorted by pk for determinism."""
    s1, s2, names = _canon_sides(df1, df2, pk, columns)
    if not names:
        # reduce(or_, []) would raise an opaque TypeError; say what's
        # actually wrong (only-pk overlap, or columns naming nothing
        # both sides share — _canon_sides drops unknown names)
        raise ValueError(
            "row_diff has no columns to compare: the tables share only "
            f"the pk {pk!r} (or `columns` names nothing common to both)"
        )
    s1 = s1.select(F.col(pk), *[F.col(n).alias(f"{n}__1") for n in names])
    s2 = s2.select(F.col(pk), *[F.col(n).alias(f"{n}__2") for n in names])
    j = s1.join(s2, on=pk, how="inner")
    pred = reduce(
        or_,
        [
            rowdiff_neq(F.col(f"{n}__1"), F.col(f"{n}__2"), reference_mode)
            for n in names
        ],
    )
    cols = [pk] + [c for n in names for c in (f"{n}__1", f"{n}__2")]
    return j.filter(pred).select(*cols).orderBy(pk)
