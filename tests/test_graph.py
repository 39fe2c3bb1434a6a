"""connected_components vs a brute-force union-find, incl. chain graphs
(the adversarial-diameter case path halving exists for)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.operators import graph as graph_mod
from spark_ifs_spark.operators.graph import (
    cluster_representatives,
    connected_components,
)


def _union_find(edges):
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
    return {x: find(x) for x in parent}


def _check(spark, edges, max_iter=25):
    """Both strategy paths (driver union-find under the edge budget,
    distributed contraction past it) must match the oracle — and
    therefore each other."""
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _union_find(edges)
    incore = {
        r["id"]: r["component"]
        for r in connected_components(df, max_iter=max_iter).collect()
    }
    assert incore == want
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_mod, "INCORE_EDGE_BUDGET", 0)
        dist = {
            r["id"]: r["component"]
            for r in connected_components(df, max_iter=max_iter).collect()
        }
    assert dist == want
    return incore


def test_two_triangles_and_isolated_pair(spark):
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)]
    got = _check(spark, edges)
    assert got[3] == 1 and got[12] == 10 and got[21] == 20


def test_chain_converges_fast(spark):
    # 40-node chain: plain propagation needs 39 rounds; path halving
    # must land it within the 25-round ceiling (expected ~log2(40)+c).
    edges = [(i, i + 1) for i in range(40)]
    got = _check(spark, edges, max_iter=25)
    assert set(got.values()) == {0}


def test_pointer_jump_driver_syncs_are_bounded(spark, monkeypatch):
    """The inner pointer-jump loop must not pay one driver round-trip
    per jump: sum-based convergence checks run every SECOND jump and
    the jump count is capped at ceil(log2(n_active)) — on a deep chain
    (the adversarial-depth case) the sync count stays ~half the jump
    count and the result is still exact."""
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _union_find(edges)
    monkeypatch.setattr(graph_mod, "INCORE_EDGE_BUDGET", 0)
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want
    stats = connected_components.last_stats
    assert stats["outer_rounds"] >= 1 and stats["jumps"] >= 1
    # at most one sum check per two jumps (plus the per-round final
    # verification aggregate, counted separately)
    assert 2 * stats["sum_checks"] <= stats["jumps"] + stats["outer_rounds"]


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(100))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cluster_representatives(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comps = connected_components(df)
    reps = {
        r["component"]: (r["keep_id"], r["n_members"])
        for r in cluster_representatives(comps).collect()
    }
    assert reps == {1: (1, 3), 10: (10, 2)}


def test_pagerank_star_graph(spark):
    """Hub of a star receives every spoke's full rank; spokes split the
    hub's contribution: hand-checked 2-iteration integer arithmetic."""
    from spark_ifs_spark.operators.graph import pagerank

    # star: spokes 1..4 <-> hub 0 (undirected = both directions)
    edges = []
    for i in range(1, 5):
        edges += [(0, i), (i, 0)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    n = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    out = {r["id"]: r["pr_micro"] for r in pagerank(e, n, iters=2).collect()}
    # iter1: hub = 150000+floor(.85*4e6) = 3550000
    #        spoke = 150000+floor(.85*(1e6//4)) = 362500
    # iter2: hub gets 4*362500; spoke gets 3550000//4
    assert out[0] == 150000 + int(0.85 * (4 * 362500))
    assert all(
        out[i] == 150000 + int(0.85 * (3550000 // 4)) for i in range(1, 5)
    )


def test_pagerank_dangling_node_keeps_teleport_rank(spark):
    from spark_ifs_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    n = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    out = {r["id"]: r["pr_micro"] for r in pagerank(e, n, iters=2).collect()}
    # node 3 is isolated: teleport only; node 1 receives nothing (2 is
    # dangling, its mass leaks by design)
    assert out[3] == 150000
    assert out[1] == 150000
    assert out[2] > 150000


def test_pagerank_empty_edges_all_teleport(spark):
    from spark_ifs_spark.operators.graph import pagerank

    e = spark.createDataFrame([], "src long, dst long")
    n = spark.createDataFrame([(1,), (2,)], ["id"])
    out = {r["id"]: r["pr_micro"] for r in pagerank(e, n, iters=2).collect()}
    assert out == {1: 150000, 2: 150000}


def test_triangle_count_known_graphs(spark):
    from spark_ifs_spark.operators.graph import triangle_count

    # K4: every vertex is in C(3,2) = 3 triangles, 4 triangles total
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, ["id_a", "id_b"])
    got = {r["id"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    # path graph: zero triangles -> empty result
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["id_a", "id_b"])
    assert triangle_count(path).count() == 0

    # one triangle + a pendant edge
    g = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (2, 3)], ["id_a", "id_b"])
    got = {r["id"]: r["n_triangles"] for r in triangle_count(g).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_triangle_count_hub_star_plus_rim(spark):
    """A hub of degree 40 with a single rim edge: exactly one triangle,
    and the degree orientation keeps the hub's out-degree at ~0 (the
    wedge explosion a naive pairs-of-neighbors join would suffer)."""
    from spark_ifs_spark.operators.graph import triangle_count

    hub = [(0, i) for i in range(1, 41)]
    rim = [(1, 2)]
    df = spark.createDataFrame(hub + rim, ["id_a", "id_b"])
    got = {r["id"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_triangle_count_string_vertices(spark):
    from spark_ifs_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d")], ["id_a", "id_b"]
    )
    got = {r["id"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}
