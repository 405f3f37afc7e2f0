"""Connected components vs a pure-Python union-find oracle."""

from __future__ import annotations

import random

import pytest

from deduplicator_go_spark.operators import components
from deduplicator_go_spark.operators.components import assign_all, connected_components


def _uf_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def _both_paths(edges_df):
    """connected_components on the in-driver path, then with the edge
    bound at 0, which forces the distributed star rounds."""
    local = connected_components(edges_df)
    # the path is chosen inside the call, from the measured edge count
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "LOCAL_MAX_EDGES", 0)
        distributed = connected_components(edges_df)
    return local, distributed


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _uf_oracle(edges)
    for out in _both_paths(df):
        got = {r["url"]: r["cluster_id"] for r in out.collect()}
        # same partition AND same canonical min-label
        assert got == want


def test_cc_simple_chain(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])


def test_cc_star_and_cycle(spark):
    _check(spark, [("m", "a"), ("m", "b"), ("m", "c"), ("p", "q"), ("q", "r"), ("r", "p")])


def test_cc_long_chain_converges_fast(spark):
    # salted-chain edges create long paths; large-star/small-star must
    # converge in O(log n) rounds, not O(n)
    n = 200
    nodes = [f"n{i:04d}" for i in range(n)]
    edges = list(zip(nodes, nodes[1:]))
    _check(spark, edges)


def test_cc_random_graph(spark):
    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_assign_all_singletons(spark):
    docs = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    labels = {r["url"]: r["cluster_id"] for r in
              assign_all(docs, connected_components(edges)).collect()}
    assert labels == {"a": "a", "b": "a", "c": "c"}


def test_cc_long_ids_keep_type(spark):
    """Long ids (the cluster_labels query passes doc ids) come back as
    longs on both paths, labelled with the numeric component minimum."""
    edges = [(10, 2), (2, 33), (7, 100), (100, 9), (9, 7), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _uf_oracle([(a, b) for a, b in edges if a != b])
    for out in _both_paths(df):
        assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]
        assert {r["url"]: r["cluster_id"] for r in out.collect()} == want
