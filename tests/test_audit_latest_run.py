"""The audit readers pick one run of an audit table through
``plans/audit.latest_run``: the run asked for, else the newest one."""

import datetime

import pytest

from data_check_spark.plans.suite import (
    drift_digest_from_audit,
    drift_profile_from_audit,
    schema_from_audit,
)

PROFILE = "kind string, key string, freq double, run_id string, audit_ts timestamp"


@pytest.mark.parametrize(
    "reader", [drift_profile_from_audit, schema_from_audit, drift_digest_from_audit]
)
def test_empty_audit_table_raises_value_error(spark, tmp_path, reader):
    path = str(tmp_path / "drift_profiles")
    spark.createDataFrame([], PROFILE).write.parquet(path)
    with pytest.raises(ValueError, match="drift_profiles"):
        reader(spark, path)


def test_equal_audit_ts_resolves_to_larger_run_id(spark, tmp_path):
    path = str(tmp_path / "drift_profiles")
    ts = datetime.datetime(2026, 1, 2)
    rows = [
        ("lang", "en", 1.0, "run_b", ts),
        ("lang", "de", 1.0, "run_a", ts),
        ("lang", "fr", 1.0, "run_c", ts - datetime.timedelta(days=1)),
    ]
    spark.createDataFrame(rows, PROFILE).repartition(3).write.parquet(path)

    def keys(run_id=None):
        return [r["key"] for r in drift_profile_from_audit(spark, path, run_id).collect()]

    assert keys() == ["en"]
    assert keys("run_c") == ["fr"]
