"""Streaming training-mix twin: apply_mix is a stateless map-only
expansion (sequence-explode + md5-bucket filter), so given a FROZEN
plan it runs UNCHANGED on a readStream frame and must agree with the
batch mix row-for-row (the route_rows streaming-parity family). The
availability count behind mix_plan is batch-only by design — a plan
must be pinned before streaming starts, exactly like the bloom gate's
batch-built filter."""

import pyspark.sql.functions as F
import pytest

from data_check_spark.operators.mixing import apply_mix, mix_plan
from data_check_spark.sources.synth import synth_pages

N = 2000


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_mix_stream"))
    synth_pages(spark, N).withColumn("html", F.col("html").cast("string")) \
        .repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_streaming_mix_matches_batch(spark, stream_pages, run_to_memory, pages_dir):
    batch = spark.read.parquet(pages_dir)
    avail = {
        r["lang"]: r["n"]
        for r in batch.groupBy(F.col("lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["lang"] is not None
    }
    top2 = sorted(avail, key=avail.get, reverse=True)[:2]
    plan = mix_plan(
        {s: avail[s] for s in top2}, {top2[0]: 2, top2[1]: 1}, max_epochs=2.0
    )

    def flat(df):
        return sorted((r["url"], r["epoch"]) for r in df.collect())

    mixed_stream = apply_mix(
        stream_pages(pages_dir), "url", "lang", plan
    ).select("url", "epoch")
    q = run_to_memory(mixed_stream, "mixed_stream", "append")
    q.awaitTermination(120)
    got = flat(spark.table("mixed_stream"))
    want = flat(apply_mix(batch, "url", "lang", plan).select("url", "epoch"))
    assert got == want and len(got) > 0
    # repetition reached the stream too: the binding source carries epoch 1
    assert any(e == 1 for _, e in got)
