"""Connected components over candidate-duplicate pairs.

The reference (aballiet/data-check) has no graph stage at all — its
row-level comparison story ends at pair/row diffs (see
data_check/processors/bigquery.py:143-193's join-based diff SQL). At web scale the
step AFTER near-dup pair generation is what actually shrinks a corpus:
pairs -> duplicate CLUSTERS -> keep one exemplar per cluster. This
module supplies that step Spark-first, as the capstone of the
MinHash/SimHash pipeline in operators/dedup.py.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14). Each phase is a shuffle partial-agg (per-node
min) plus a shuffle join on node id; adjacency LISTS are never
materialised, so a hot node — boilerplate text duplicated across
millions of pages — costs a map-side-combined min, not an O(degree)
array on a single reducer. The edge set converges to per-component
star graphs (every node pointing at its component's minimum id) in
O(log n) phase pairs; near-dup clusters, whose diameter is tiny,
converge in 2-3 pairs in practice. Each iteration is
localCheckpoint-ed so the task graph stays constant-size instead of
growing with the iteration count (on a real cluster with a
checkpoint dir, `RDD.checkpoint`/`dataframe.checkpoint` gives the
same lineage truncation with HDFS durability).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from data_check_spark.session import local_frame


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star phase: every node connects its strictly-LARGER
    neighbours to the minimum of its closed neighbourhood."""
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star phase: every node rewires its SMALLER
    neighbours (and itself) to the minimum of those neighbours."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return rewired.unionByName(
        mins.select("u", F.col("m").alias("v"))
    ).distinct()


def _driver_components(edges: list) -> list:
    """Union-find (path-halving, min-id roots) over a COLLECTED edge
    list — the small-graph fast path of connected_components. Labels
    are the component minimum, identical to the star-contraction
    fixed point; ids only need a total order (ints and strings both
    work, matching the distributed path's contract)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for u, v in edges:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # attach the larger root under the smaller so every root
            # stays its component's minimum id
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(x, find(x)) for x in parent]


# Driver memory the small-graph fast path may spend on one collected
# edge list and its union-find. Measured per edge: ≈560 B of Row,
# tuple, dict-slot and label overhead plus the two ids' Python objects
# (an int is 32 B). A string id is assumed to be a 100-character url,
# a 149 B Python str, so a string edge costs ≈860 B: the budget holds
# ≈430k long-id edges or ≈310k string-id edges.
DRIVER_BUDGET_BYTES = 256 << 20
_EDGE_OVERHEAD_BYTES = 560
_FIXED_ID_BYTES = 32
_STRING_ID_BYTES = 49 + 100
_FIXED_WIDTH = (T.IntegralType, T.FloatType, T.DoubleType, T.BooleanType,
                T.DateType, T.TimestampType, T.TimestampNTZType)


def driver_edge_cap(id_type: T.DataType, driver_max_edges: int = 1_000_000) -> int:
    """Most edges of ``id_type`` ids the driver fast path collects:
    the byte budget over the bytes per edge, never above
    ``driver_max_edges``."""
    id_bytes = _FIXED_ID_BYTES if isinstance(id_type, _FIXED_WIDTH) else _STRING_ID_BYTES
    return min(driver_max_edges, DRIVER_BUDGET_BYTES // (_EDGE_OVERHEAD_BYTES + 2 * id_bytes))


def component_edges(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """The cleaned edge set connected_components works on: no
    self-pairs, no NULL ids, one DISTINCT (greatest, least) row per
    undirected edge, as (u, v)."""
    return (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def driver_labels(e: DataFrame, driver_max_edges: int = 1_000_000) -> list | None:
    """Small-graph fast path: (id, min-id component) tuples of the
    cleaned edge set ``e`` from ONE bounded collect and a driver
    union-find, or None when ``e`` has more edges than
    driver_edge_cap allows.

    One union-find replaces O(log n) star iterations, each of which
    costs 2 groupBys + 2 joins + 2 distincts + a checkpoint + a
    collect in pure stage latency. The collect stops one row past the
    cap, so the driver never holds more than the byte budget; a
    100 TB pair list blows the cap and its caller takes the
    distributed loop, so this is size-adaptive, not a local-mode
    constant (the maybe_broadcast / sample_mod / fan_in convention)."""
    cap = driver_edge_cap(e.schema["u"].dataType, driver_max_edges)
    rows = e.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return _driver_components([(r[0], r[1]) for r in rows])


def label_schema(id_type: T.DataType) -> T.StructType:
    """connected_components' output schema for ``id_type`` ids."""
    return T.StructType([
        T.StructField("id", id_type, False),
        T.StructField("component", id_type, False),
    ])


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``.

    ``component`` is the MINIMUM node id in the node's connected
    component — a deterministic, order-independent cluster label, so
    re-runs (and the DuckDB recursive-CTE oracle) agree bit-for-bit.
    Node ids only need a TOTAL ORDER (the star phases are built from
    min/least/greatest), so long doc ids and string urls both work;
    src and dst must share one type.

    Edge sets within driver_edge_cap take the driver fast path
    (driver_labels) and come back as a local relation; larger ones
    run the star loop below, whose labels are identical.

    Convergence is detected by an order-independent edge-set
    signature (count + bit-XOR of per-edge xxhash64 — XOR cannot
    overflow under ANSI mode and the edge set is distinct so nothing
    self-cancels): both star phases
    leave the edge set unchanged exactly when every component is a
    star rooted at its minimum. ``max_iter`` bounds the loop at
    O(log n) with slack; hitting it raises rather than returning a
    partially-contracted (wrong) labelling.
    """
    e = component_edges(pairs, src, dst)
    labels = driver_labels(e, driver_max_edges)
    if labels is None:
        return star_components(e, max_iter)
    return local_frame(pairs.sparkSession, labels, label_schema(e.schema["u"].dataType))


def star_components(e: DataFrame, max_iter: int = 25) -> DataFrame:
    """connected_components' distributed loop over a cleaned edge set
    (component_edges): alternate large-star and small-star phases,
    each localCheckpoint-ed, until the edge-set signature stops
    changing."""
    e = e.localCheckpoint()

    def sig(df: DataFrame) -> tuple:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("s"),
        ).collect()[0]
        return (r["n"], r["s"])

    prev = sig(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = sig(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )

    # node set from the CLEANED edge set: a row that contributed no
    # real edge (self-pair, NULL side) contributes no node either
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
    )
    star = e.select(F.col("u").alias("id"), F.col("v").alias("_root"))
    return (
        nodes.join(star, "id", "left")
        .groupBy("id")
        .agg(F.min(F.coalesce(F.col("_root"), F.col("id"))).alias("component"))
    )


def update_clusters(
    stored: DataFrame,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Incremental cluster maintenance: merge a prior run's
    (id, component) labelling with NEW near-dup pairs without
    re-clustering the validated corpus.

    A stored labelling IS a star edge set, and star contraction
    preserves connectivity — so components over (stored stars ∪ new
    pairs) equal components over (all old pairs ∪ new pairs), the
    full recompute (oracle-checked end-to-end by the
    ``cluster_incremental`` entry). Input size is #clustered-docs +
    #new-pairs, never corpus-sized; with the new pairs coming from
    ``minhash_pairs_against`` (the persisted signature store), a new
    crawl increment's whole dedup cycle — signatures, pairs, cluster
    labels — never re-reads validated text. New pairs may link two
    stored clusters; the merged cluster relabels to the global
    minimum id, so labels stay recompute-identical (label STABILITY
    across increments is deliberately not promised — parity with a
    from-scratch run is the stronger audit property)."""
    edges = stored.select(
        F.col("id").alias(src), F.col("component").alias(dst)
    ).unionByName(new_pairs.select(src, dst))
    return connected_components(edges, src=src, dst=dst, max_iter=max_iter)


def duplicate_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Cluster view of a near-dup pair list: one row per clustered
    document — (id, component, is_exemplar, cluster_size). The
    exemplar (the member kept by a dedup retention pass) is the
    minimum id, i.e. the component label itself; at web scale "keep
    the first-crawled copy" maps onto exactly this with ids assigned
    in crawl order."""
    return cluster_view(connected_components(pairs, src=src, dst=dst, max_iter=max_iter))


def cluster_view(cc: DataFrame) -> DataFrame:
    """duplicate_clusters over an (id, component) labelling.
    cluster_size rides a broadcast-sized per-component aggregate
    (#components <= #pairs, and each row is 16 bytes)."""
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        "id",
        "component",
        (F.col("id") == F.col("component")).alias("is_exemplar"),
        "cluster_size",
    )


def cluster_schema(id_type: T.DataType) -> T.StructType:
    """duplicate_clusters' output schema for ``id_type`` ids."""
    return T.StructType(label_schema(id_type).fields + [
        T.StructField("is_exemplar", T.BooleanType(), False),
        T.StructField("cluster_size", T.LongType(), False),
    ])


def non_exemplar_rows(labels: list) -> list:
    """duplicate_clusters' non-exemplar rows (id, component, False,
    cluster_size) of driver_labels output, in (component, id) order."""
    sizes = Counter(c for _, c in labels)
    return sorted(
        ((x, c, False, sizes[c]) for x, c in labels if x != c),
        key=lambda r: (r[1], r[0]),
    )


def strip_duplicates(
    corpus: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    broadcast: bool | str = "auto",
) -> DataFrame:
    """Materialise the retention step itself: the corpus AFTER fuzzy
    dedup — every clustered document dropped except its exemplar
    (min id per component, duplicate_clusters), unclustered rows kept
    untouched. This is the frame a training pipeline actually writes
    back out, completing pairs -> clusters -> deduplicated corpus.

    Scale shape: the drop list is one 8-byte id per NON-exemplar
    clustered doc — strictly smaller than the clustered subset and
    orders below the corpus — and rides the same size-aware broadcast
    policy as the referential check (operators/refint.maybe_broadcast):
    under the cap the anti-join is a broadcast hash join and the
    corpus (text included) NEVER shuffles; above it the plan falls
    back to a hash shuffle on the 8-byte id — unavoidable without
    pre-bucketed storage, and the honest cost of a billion-row drop
    list. The kept set is a pure function of the pair list (component
    minima are order-independent), so re-runs and backfills are
    stable.

    The reference stops at row diffs (data_check/processors/bigquery.py:143-193);
    this is the beyond-reference curation step those diffs feed.
    """
    from data_check_spark.operators.refint import maybe_broadcast

    drops = clusters.filter(~F.col("is_exemplar")).select(
        F.col("id").alias(id_col)
    )
    return corpus.join(maybe_broadcast(drops, broadcast), on=id_col, how="left_anti")
