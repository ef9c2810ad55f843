"""Streaming quarantine routing: row-local rules (expr/not_null —
including the whole Gopher pack) are stateless per-row projections, so
route_rows runs UNCHANGED on a readStream frame and must agree with
the batch router row-for-row. Key rules (unique/fd) need state and are
deliberately batch-only."""

import pyspark.sql.functions as F
import pytest

from data_check_spark.operators.quarantine import (
    FDRule,
    NotNullRule,
    gopher_rules,
    route_rows,
)
from data_check_spark.sources.synth import synth_pages

N = 2000


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_route_stream"))
    synth_pages(spark, N).withColumn("html", F.col("html").cast("string")) \
        .repartition(4).write.mode("overwrite").parquet(d)
    return d


def _rules():
    # built lazily: ColumnRule predicates need an active SparkContext
    return [NotNullRule("lang"), NotNullRule("text"), *gopher_rules()]


def _flat(df):
    return sorted(
        (r["url"], r["warc_ts"], r["reasons"]) for r in df.collect()
    )


def test_streaming_route_matches_batch(spark, stream_pages, run_to_memory, pages_dir):
    stream = stream_pages(pages_dir)
    rules = _rules()
    routed = route_rows(stream, rules).select(
        "url",
        "warc_ts",
        F.array_join("quarantine_reasons", ",").alias("reasons"),
    )
    q = run_to_memory(routed, "routed_stream", "append")
    q.awaitTermination(120)
    got = _flat(spark.table("routed_stream"))
    want = _flat(
        route_rows(spark.read.parquet(pages_dir), rules).select(
            "url",
            "warc_ts",
            F.array_join("quarantine_reasons", ",").alias("reasons"),
        )
    )
    assert got == want and len(got) == N
    # synth dirt guarantees both directions appear
    assert any(r == "" for _, _, r in got)
    assert any("not_null:" in r for _, _, r in got)


def test_streaming_route_rejects_stateful_rules(spark, stream_pages, run_to_memory, pages_dir):
    """unique/fd rules aggregate over the whole key history — on an
    unbounded stream that is a stateful op route_rows doesn't model;
    Spark itself refuses the plan (distinct aggregation on a stream),
    which is the correct loud failure rather than silently-wrong
    per-microbatch uniqueness. (It fires already at rule-build time:
    the broadcast-or-not row probe is itself a batch action.)"""
    stream = stream_pages(pages_dir)
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException):
        routed = route_rows(stream, [FDRule("url", deps=("text",))])
        run_to_memory(routed, "routed_should_fail", "append")


def test_streaming_route_encoding_pack_matches_batch(spark, stream_pages, run_to_memory, tmp_path):
    """encoding_rules is row-local, so the streaming router must agree
    with batch row-for-row — including on PLANTED decode scars, not
    just fail-closed NULLs."""
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from data_check_spark.operators.quarantine import encoding_rules

    d = str(tmp_path / "pages_enc")
    scar = (
        F.when(F.col("id") % 5 == 0, F.lit(chr(0xFFFD)))
        .when(F.col("id") % 5 == 1, F.lit(chr(0xC3) + chr(0xA9)))
        .when(F.col("id") % 5 == 2, F.lit(chr(1)))
        .otherwise(F.lit(""))
    )
    (
        spark.range(500)
        .select(
            F.concat(F.lit("https://x.test/"), F.col("id")).alias("url"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
            F.concat(F.lit("body text "), scar).alias("text"),
        )
        .repartition(3)
        .write.mode("overwrite")
        .parquet(d)
    )
    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("text", StringType()),
    ])
    rules = encoding_rules()
    stream = stream_pages(d, schema=schema)
    routed = route_rows(stream, rules).select(
        "url", F.array_join("quarantine_reasons", ",").alias("reasons")
    )
    q = run_to_memory(routed, "routed_enc_stream", "append")
    q.awaitTermination(120)
    got = sorted(
        (r["url"], r["reasons"])
        for r in spark.table("routed_enc_stream").collect()
    )
    want = sorted(
        (r["url"], r["reasons"])
        for r in route_rows(spark.read.parquet(d), rules)
        .select("url", F.array_join("quarantine_reasons", ",").alias("reasons"))
        .collect()
    )
    assert got == want and len(got) == 500
    # every scar class actually fired somewhere
    fired = {x for _, rs in got for x in rs.split(",") if x}
    assert fired == {
        "expr:enc_replacement",
        "expr:enc_mojibake",
        "expr:enc_control",
    }
