"""Connected-components cluster resolution: hand graphs (chain, triangle,
disjoint), determinism at odd partitioning, and the convergence cap."""

from __future__ import annotations

import pytest

from log_anomaly_detector_spark.operators.dedup_clusters import (
    connected_components,
)


def test_components_on_hand_graph(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    ).repartition(7)
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_components_long_chain_converges(spark):
    # a 12-node path needs ~diameter rounds — still within the cap
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_components_round_cap_raises(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    # collect_budget=0 forces the distributed iterative path (the driver
    # fast path has no round cap to exercise)
    with pytest.raises(ValueError, match="max_rounds"):
        connected_components(pairs, max_rounds=2, collect_budget=0)


def test_components_driver_fast_path_matches_iterative(spark):
    """The size-dispatched driver union-find and the iterative min-label
    propagation are two physical strategies for one operator: same rows,
    same types, on a graph mixing chains, cliques and singleton pairs."""
    edges = (
        [(i, i + 1) for i in range(12)]
        + [(100, 101), (101, 102), (100, 102)]
        + [(200, 201)]
        + [(301, 300), (300, 302)]  # min id arrives as dst / branches
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").repartition(5)
    fast = {
        (r["node"], r["component_id"])
        for r in connected_components(pairs).collect()
    }
    iterative = {
        (r["node"], r["component_id"])
        for r in connected_components(pairs, collect_budget=0).collect()
    }
    assert fast == iterative
    assert (300, 300) in fast and (302, 300) in fast


def test_components_driver_path_null_endpoint_and_mixed_types(spark):
    """A pair with a NULL endpoint is no edge on either path, and the driver
    path types its output from the wider of the endpoint types (int doc_a,
    bigint doc_b → bigint), as the iterative path's union does."""
    edges = [(1, 2), (2, 3), (10, 11), (20, None), (None, 21), (11, 3_000_000_000)]
    pairs = spark.createDataFrame(edges, "doc_a int, doc_b bigint")
    fast_df = connected_components(pairs)
    iter_df = connected_components(pairs, collect_budget=0)
    assert fast_df.schema == iter_df.schema
    assert fast_df.schema["node"].dataType.simpleString() == "bigint"
    fast = {(r["node"], r["component_id"]) for r in fast_df.collect()}
    iterative = {(r["node"], r["component_id"]) for r in iter_df.collect()}
    assert fast == iterative
    assert fast == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (3_000_000_000, 10)}
