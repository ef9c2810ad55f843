"""Schema diff — check #1 of the reference's contract (SURVEY §2.9-1).

Reference: common columns = name intersection minus RECORD/STRUCT
(``/root/reference/data_check/models/table.py:53-82``); diff columns =
exclusive to either side or type-mismatched
(``data_check/data_processor.py:163-188``).

Driver-side only: ``df.schema`` is free (lazy analysis — the Spark
analog of the reference's LIMIT-50 dry run, query_bq.py:76-86, which
Spark simply doesn't need). No data is scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_check_spark.session import local_frame

SCHEMA_DIFF_SCHEMA = (
    "column string, status string, type_1 string, type_2 string"
)


def _is_unsupported(dtype: T.DataType) -> bool:
    # Reference drops plain RECORD/STRUCT columns (models/table.py:
    # 104-110). REPEATED RECORD is a DELIBERATE DIVERGENCE: the
    # reference's ARRAY/REPEATED branch matches FIRST and renders
    # repeated records via array_to_string — but that generated SQL is
    # invalid for struct arrays, so here array<struct<...>> is treated
    # as unsupported too (element type checked recursively): safer
    # than reproducing a query the reference engine itself rejects.
    if isinstance(dtype, T.ArrayType):
        return _is_unsupported(dtype.elementType)
    return isinstance(dtype, (T.StructType, T.MapType))


def common_columns(
    df1: DataFrame, df2: DataFrame, reference_mode: bool = True
) -> list[tuple[str, T.DataType]]:
    """Columns present on both sides (same name), in df1's order.

    reference_mode additionally drops struct/map columns, matching the
    reference's unsupported-type policy (models/table.py:53-59).
    """
    t2 = {f.name: f.dataType for f in df2.schema.fields}
    out = []
    for f in df1.schema.fields:
        if f.name not in t2:
            continue
        if reference_mode and (_is_unsupported(f.dataType) or _is_unsupported(t2[f.name])):
            continue
        out.append((f.name, f.dataType))
    return out


def schema_diff(spark: SparkSession, df1: DataFrame, df2: DataFrame) -> DataFrame:
    """One row per column with status in
    {common, exclusive_1, exclusive_2, type_mismatch, unsupported}."""
    s1 = {f.name: f.dataType for f in df1.schema.fields}
    s2 = {f.name: f.dataType for f in df2.schema.fields}
    rows = []
    for name in sorted(set(s1) | set(s2)):
        t1 = s1.get(name)
        t2 = s2.get(name)
        if t1 is None:
            status = "exclusive_2"
        elif t2 is None:
            status = "exclusive_1"
        elif _is_unsupported(t1) or _is_unsupported(t2):
            status = "unsupported"
        elif t1.simpleString() != t2.simpleString():
            status = "type_mismatch"
        else:
            status = "common"
        rows.append(
            (
                name,
                status,
                t1.simpleString() if t1 else None,
                t2.simpleString() if t2 else None,
            )
        )
    return local_frame(spark, rows, SCHEMA_DIFF_SCHEMA)
