"""connected_components' small-graph driver fast path must be
indistinguishable from the distributed star-contraction loop: same
(id, min-id component) labels on arbitrary graphs, and the cap must
route correctly."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_check_spark.operators.components import (
    _driver_components,
    connected_components,
)


@pytest.fixture(scope="module")
def spark():
    from data_check_spark.session import get_spark

    s = get_spark("test-cc-fast", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _labels(df):
    return sorted((r["id"], r["component"]) for r in df.collect())


def test_fast_path_equals_distributed_loop(spark):
    """Random graph, both code paths (cap forces the distributed loop
    on one side), identical labellings."""
    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = connected_components(pairs)  # default cap: fast path
    slow = connected_components(pairs, driver_max_edges=0)  # force loop
    assert _labels(fast) == _labels(slow)


def test_fast_path_min_id_labels(spark):
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21), (7, 7)], "id_a long, id_b long"
    )
    out = _labels(connected_components(pairs))
    # self-pair (7,7) contributes nothing; chains label to their min
    assert out == [(3, 3), (5, 3), (9, 3), (20, 20), (21, 20)]


def test_driver_union_find_string_ids():
    lab = dict(_driver_components([("b", "c"), ("c", "a"), ("x", "y")]))
    assert lab == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_fast_path_output_type_matches_input(spark):
    pairs = spark.createDataFrame([("u1", "u2")], "id_a string, id_b string")
    out = connected_components(pairs)
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds == {"id": "string", "component": "string"}


def test_byte_cap_routes_string_ids_to_distributed_loop(spark, monkeypatch):
    """The fast-path cap is a byte budget over bytes per edge: under
    one budget a 40-edge long-id graph stays on the driver while the
    same graph with string ids, at the assumed url width, takes the
    distributed loop and gives the same labels."""
    from data_check_spark.operators import components

    rng = random.Random(3)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(60)]
    as_str = [("url-%03d" % a, "url-%03d" % b) for a, b in edges]
    want_long = sorted(_driver_components(edges))
    want_str = sorted(_driver_components(as_str))
    n = len({(max(a, b), min(a, b)) for a, b in edges if a != b})
    # a budget that holds n long-id edges but not n string-id edges
    per_long = components._EDGE_OVERHEAD_BYTES + 2 * components._FIXED_ID_BYTES
    monkeypatch.setattr(components, "DRIVER_BUDGET_BYTES", per_long * n)
    assert components.driver_edge_cap(components.T.LongType()) == n
    assert components.driver_edge_cap(components.T.StringType()) < n

    calls = []
    union_find = components._driver_components
    monkeypatch.setattr(
        components, "_driver_components", lambda e: calls.append(len(e)) or union_find(e)
    )
    longs = connected_components(spark.createDataFrame(edges, "id_a long, id_b long"))
    assert _labels(longs) == want_long and calls == [n]
    strs = connected_components(spark.createDataFrame(as_str, "id_a string, id_b string"))
    assert _labels(strs) == want_str and calls == [n]
