import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_check_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dcs-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def stream_pages(spark):
    """``stream_pages(path, schema=None)``: a parquet file-source
    readStream over a directory of pages (``html`` read as string)."""
    pages = "url string, warc_ts timestamp, html string, text string, lang string"

    def read(path, schema=None):
        return (
            spark.readStream.schema(schema or pages)
            .option("maxFilesPerTrigger", 8)
            .parquet(path)
        )

    return read


@pytest.fixture(scope="session")
def run_to_memory():
    """``run_to_memory(stream_df, name, output_mode)``: start the stream
    into the in-memory table ``name`` with an availableNow trigger and
    return the query (the caller awaits it and reads ``spark.table``)."""

    def start(stream_df, name, output_mode="append"):
        return (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )

    return start
