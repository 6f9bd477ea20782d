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


@pytest.mark.parametrize("collect_budget", [1_000_000, 0], ids=["driver", "iterative"])
def test_components_null_ids_and_mixed_width(spark, collect_budget):
    """NULL is not a node: an edge with one NULL endpoint keeps only its
    other endpoint, an all-NULL edge vanishes. An ``int`` src with a
    ``bigint`` dst beyond 2^31 types both output columns ``bigint``. Both
    physical paths return the same rows and types."""
    big = 2**33
    pairs = spark.createDataFrame(
        [(1, 2), (None, 5), (3, None), (None, None), (7, big), (2, big + 1)],
        "doc_a int, doc_b bigint",
    )
    comp = connected_components(pairs, collect_budget=collect_budget)
    assert [f.dataType.simpleString() for f in comp.schema] == ["bigint", "bigint"]
    got = {(r["node"], r["component_id"]) for r in comp.collect()}
    assert got == {
        (1, 1), (2, 1), (big + 1, 1), (3, 3), (5, 5), (7, 7), (big, 7)
    }
