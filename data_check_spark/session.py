"""SparkSession factory with scale-appropriate defaults.

The defaults below are the knobs that matter on a real multi-executor
cluster (AQE, skew-join handling, Arrow for pandas UDFs) and are safe
on local[N] where the tests run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

# Lets AQE plan the frames the engine persists (Run.persist/census):
# Spark otherwise builds every cached plan with AQE off, at the full
# configured shuffle width, and CacheManager reads this when persist()
# is called, so it is a session setting, not a per-call one. With it,
# a key census of a few hundred rows caches as one partition and a
# large one keeps up to the configured width. The cost: a reader that needed the cache's
# output partitioning may need one more shuffle. The census readers
# (groupBy(partition), orderBy) shuffle anyway. get_spark and the
# spark-submit runner's builder both apply it.
CACHED_PLAN_AQE = {"spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"}


def get_spark(
    app_name: str = "data-check-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession: the tests, perfbench
    and ``scripts/`` use it.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``runner.py`` does not call it: builder options override
    spark-submit's, so this would replace the cluster's ``--master``
    with ``local[…]`` and pin its shuffle width to 32. The runner's
    builder takes only ``CACHED_PLAN_AQE`` from here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("DCS_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splits.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=CACHED_PLAN_AQE)
        # Arrow transfer for pandas UDFs / toPandas at the report edge.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dimension snapshots below this go broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("DCS_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """Driver-side ``rows`` (tuples) as an Arrow-backed local relation.

    ``createDataFrame`` over a Python list plans a ``LogicalRDD`` over
    a pickled Python RDD: its first action runs a Spark job and forks
    the Python workers. A ``pyarrow.Table`` plans a ``LocalRelation``
    instead, which collects and joins without any job. For small
    frames the driver already holds (verdict rows, cluster labels).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


def run_with_timeout(spark: SparkSession, action, timeout_sec: float = 900.0):
    """Run a DataFrame action under a watchdog; cancel the job group
    and raise TimeoutError when it exceeds ``timeout_sec``.

    Reference parity: the BigQuery client runs each query in a thread
    and cancels the job after TIMEOUT_BIGQUERY=900 s
    (``/root/reference/data_check/query/query_bq.py:15,40-54``). The
    Spark analog is a job group + cancelJobGroup — no result-fetch
    thread needed, the cancellation interrupts the running stages.
    """
    import threading
    import uuid

    group = f"dcs-timeout-{uuid.uuid4().hex[:8]}"
    result: list = []
    error: list = []

    def target() -> None:
        spark.sparkContext.setJobGroup(group, "data-check timed action", True)
        try:
            result.append(action())
        except Exception as e:  # noqa: BLE001
            error.append(e)
        # job-group association is thread-local and the thread ends here

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_sec)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)

        def keep_cancelling() -> None:
            # the Python thread cannot be killed, and a multi-job
            # action resumes after the first cancel and submits its
            # NEXT job outside the cancelled set — re-cancel until the
            # thread actually exits so a timed-out action cannot keep
            # consuming the cluster behind the caller's back
            while t.is_alive():
                t.join(5.0)
                if t.is_alive():
                    spark.sparkContext.cancelJobGroup(group)

        threading.Thread(target=keep_cancelling, daemon=True).start()
        raise TimeoutError(f"action exceeded {timeout_sec}s; job group {group} cancelled")
    if error:
        raise error[0]
    return result[0]
