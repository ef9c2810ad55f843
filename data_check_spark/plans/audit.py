"""Audit sink — verdicts, violations, lineage persisted per run.

North rule: "per-partition lineage and metrics persisted to an Iceberg
audit table". In this sandbox there is no Iceberg runtime jar, so the
writer is format-pluggable: ``format='iceberg'`` on a real cluster
(``df.writeTo(table).append()``), plain parquet append here with the
same row schema — partition-verdict semantics identical (SURVEY §7
"Iceberg in-sandbox" note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_audit(
    df: DataFrame,
    path_or_table: str,
    run_id: str,
    kind: str,
    fmt: str = "parquet",
) -> None:
    """Append rows stamped with (run_id, kind, audit_ts)."""
    stamped = df.withColumn("run_id", F.lit(run_id)).withColumn(
        "audit_kind", F.lit(kind)
    ).withColumn("audit_ts", F.current_timestamp())
    if fmt == "iceberg":
        # first run creates the audit table, later runs append —
        # V2 writeTo has no create-if-absent append mode
        if stamped.sparkSession.catalog.tableExists(path_or_table):
            stamped.writeTo(path_or_table).append()
        else:
            stamped.writeTo(path_or_table).create()
    else:
        stamped.write.mode("append").parquet(path_or_table)


def latest_run(stored: DataFrame, path: str, run_id: str | None = None) -> DataFrame:
    """The rows of one run of an audit table: ``run_id`` when given,
    else the newest run — the largest ``audit_ts``, ties going to the
    larger ``run_id``. Raises ``ValueError`` naming ``path`` when the
    table holds no rows to pick from."""
    if run_id is None:
        newest = stored.orderBy("audit_ts", "run_id", ascending=False).select("run_id").first()
        if newest is None:
            raise ValueError(f"no audit rows under {path}")
        run_id = newest["run_id"]
    return stored.filter(F.col("run_id") == run_id)
