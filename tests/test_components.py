"""Connected components: correctness + partition-count invariance."""

from __future__ import annotations

import random

from gtfsrt2lc_spark.operators.components import connected_components


def _expected_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(11)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    # distributed star path (small_graph_edges=0 disables the local shortcut)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert got == _expected_components(edges)


def test_local_fast_path_matches_distributed(spark):
    rng = random.Random(5)
    edges = [(f"x{rng.randrange(50)}", f"x{rng.randrange(50)}") for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    local = {tuple(r) for r in connected_components(df).collect()}
    dist = {tuple(r) for r in connected_components(df, small_graph_edges=0).collect()}
    assert local == dist


def test_long_chain(spark):
    n = 64
    edges = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert set(got.values()) == {"v00"}
    assert len(got) == n


def test_partitioning_invariance(spark):
    rng = random.Random(3)
    edges = [(f"a{rng.randrange(40)}", f"a{rng.randrange(40)}") for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    one = {tuple(r) for r in connected_components(df.coalesce(1), small_graph_edges=0).collect()}
    many = {tuple(r) for r in connected_components(df.repartition(13), small_graph_edges=0).collect()}
    assert one == many
