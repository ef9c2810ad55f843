"""Table and SQL sources, with the reference's sampling gates.

Reference parity: the reference's only source abstraction is a table
name or a SQL string (``/root/reference/data_check/data_processor.py:13-45``,
``processors/bigquery.py:47-52``). In Spark both are just DataFrames:
``spark.read.parquet``/``spark.read.table`` or ``spark.sql(query)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def is_sql_input(table_or_sql: str) -> bool:
    """The reference's substring heuristic for SQL-vs-table inputs
    (``processors/bigquery.py:47-49``)."""
    low = f" {table_or_sql.lower()} "
    return " select " in low and "from " in low


def sampled_source(
    spark: SparkSession,
    table_or_sql: str,
    sampling_rate: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Reference S4: system sampling with the reference's gating.

    Gating semantics mirrored exactly:
    * sampling applies only to PLAIN TABLES, never SQL inputs
      (``data_processor.py:84-87`` is_sampling_allowed); a sampled SQL
      input raises like the reference's disabled slider implies.
    * valid rates are 10 ≤ p ≤ 100 (the reference slider's bounds,
      ``streamlit_app.py:176-180``); p == 100 means no sampling
      (``bigquery.py:22-45``: TABLESAMPLE only added when rate < 100).

    Implementation is Bernoulli row sampling (``df.sample``), seeded
    for reproducibility within a fixed partition layout. BigQuery's
    TABLESAMPLE SYSTEM picks storage blocks — two tables sampled at
    the same rate draw UNALIGNED row sets, which breaks diff checks;
    prefer ``aligned_sample`` for two-sided comparisons (the
    key-hash-aligned fix SURVEY §2 recommends).
    """
    if not 10 <= sampling_rate <= 100:
        raise ValueError(f"sampling_rate must be in [10, 100], got {sampling_rate}")
    if is_sql_input(table_or_sql):
        if sampling_rate < 100:
            raise ValueError(
                "sampling is only available for direct tables as input "
                "(reference data_processor.py:84-87)"
            )
        return spark.sql(table_or_sql.strip())
    df = spark.table(table_or_sql.strip())
    if sampling_rate == 100:
        return df
    return df.sample(fraction=sampling_rate / 100.0, seed=seed)


def aligned_sample(df: DataFrame, key: str, percent: int, buckets: int = 100) -> DataFrame:
    """Key-hash-aligned sampling: both sides of a diff draw the SAME
    keys (pmod(hash(key)) bucket filter), unlike TABLESAMPLE SYSTEM's
    independent blocks — the SURVEY-recommended S4 fix. Deterministic
    at any parallelism; pushes down to the scan as a filter."""
    from pyspark.sql import functions as F

    if not 0 < percent <= 100:
        raise ValueError(f"percent must be in (0, 100], got {percent}")
    return df.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(buckets)) < int(percent * buckets / 100))


def source(spark: SparkSession, table_or_sql: str) -> DataFrame:
    """Accept a table/view name or a SQL query. Dispatches through
    ``is_sql_input`` — the reference's exact substring heuristic
    (``processors/bigquery.py:47-49``) — so this and ``sampled_source``
    can never classify the same string differently."""
    s = table_or_sql.strip()
    return spark.sql(s) if is_sql_input(s) else spark.table(s)
