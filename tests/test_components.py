"""Connected-components tests vs a plain union-find oracle
(reference semantics: /root/reference/analysis_engine.py:555-580)."""

from __future__ import annotations

import numpy as np

from name_deduplication_python_spark.operators.components import (
    components_with_singletons,
    connected_components,
)


def _uf_oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges: list[tuple[str, str]]):
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _uf_oracle(edges)
    # every code path: single-task fast path, iterative large/small-star,
    # and the hashed string-id single task (+ distributed relabel)
    for kw in (
        {"small_graph_threshold": 2_000_000},
        {"small_graph_threshold": 0},
        {"string_hash_threshold": 0},
    ):
        got = {
            r["url"]: r["cluster_id"]
            for r in connected_components(df, **kw).collect()
        }
        assert got == want, (kw, got, want)


def test_cc_simple_chain(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("c", "d")])


def test_cc_two_components(spark):
    _check(spark, [("a", "b"), ("c", "d"), ("d", "e"), ("x", "y")])


def test_cc_star_and_cycle(spark):
    _check(spark, [("m", "a"), ("m", "b"), ("m", "c"), ("p", "q"), ("q", "r"), ("r", "p")])


def test_cc_long_path(spark):
    # worst case for naive propagation: a 40-node path
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)]
    _check(spark, edges)


def test_cc_random_graph(spark):
    rng = np.random.default_rng(5)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = []
    for _ in range(90):
        a, b = rng.choice(len(nodes), size=2, replace=False)
        edges.append((nodes[a], nodes[b]))
    _check(spark, edges)


def test_cc_duplicate_and_reversed_edges(spark):
    _check(spark, [("b", "a"), ("a", "b"), ("b", "c"), ("c", "b")])


def test_cc_partition_invariance(spark):
    """Cluster labels must not depend on partitioning (SURVEY §7.5):
    the same edge set under different partition layouts yields identical
    min-label assignments on both code paths."""
    rng = np.random.default_rng(9)
    nodes = [f"p{i:03d}" for i in range(80)]
    edges = [
        (nodes[a], nodes[b])
        for a, b in (
            rng.choice(len(nodes), size=2, replace=False) for _ in range(60)
        )
    ]
    base = spark.createDataFrame(edges, "src string, dst string")
    want = _uf_oracle(edges)
    for parts in (1, 7, 32):
        for threshold in (2_000_000, 0):
            got = {
                r["url"]: r["cluster_id"]
                for r in connected_components(
                    base.repartition(parts), small_graph_threshold=threshold
                ).collect()
            }
            assert got == want, (parts, threshold)


def test_singletons(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    ids = spark.createDataFrame([("a",), ("b",), ("z",)], "url string")
    got = {r["url"]: r["cluster_id"] for r in components_with_singletons(edges, ids).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}
