"""kNN-graph (NN-descent) invariants: seed guarantees, exact
integer-state scoring, bounded degree, and the descent actually
descending (recall strictly improves over seeds-only on real data)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from spark_ifs_spark.operators import ivf
from spark_ifs_spark.operators.knn import (
    _ring_seed,
    knn_graph,
    knn_graph_recall,
    quantized_vectors,
)


def _emb(spark, sf_dir, n=200):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < n
    )


def test_quantized_vectors_exact(spark, sf_dir):
    df = _emb(spark, sf_dir, 50)
    raw = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    got = {r["id"]: (list(r["qv"]), r["ssq"]) for r in
           quantized_vectors(df, "vec_id", "embedding", 1024).collect()}
    for i, v in raw.items():
        qv = [math.floor(float(x) * 1024) for x in v]
        assert got[i][0] == qv
        assert got[i][1] == sum(x * x for x in qv)


def test_ring_seed_min_degree_no_self_loops(spark):
    ids = spark.range(37).select(F.col("id"))
    k, groups = 4, 8
    edges = [(r["id"], r["nb"]) for r in _ring_seed(ids, k, groups).collect()]
    assert all(i != j for i, j in edges)
    # group sizes are 37/8 -> 4 or 5; every node gets min(k, cnt-1) out-edges
    from collections import Counter
    deg = Counter(i for i, _ in edges)
    cnt = Counter(i % groups for i in range(37))
    for i in range(37):
        assert deg[i] == min(k, cnt[i % groups] - 1)
    # ring edges stay within the hash group
    assert all(i % groups == j % groups for i, j in edges)


def test_knn_graph_degree_rank_and_exact_scores(spark, sf_dir):
    df = _emb(spark, sf_dir, 200)
    k = 4
    rows = knn_graph(df, "vec_id", "embedding", k=k, num_centroids=8,
                     rounds=2, groups=8, work_degree=12).collect()
    qv = {r["id"]: (list(r["qv"]), r["ssq"]) for r in
          quantized_vectors(df, "vec_id", "embedding", 1024).collect()}
    from collections import defaultdict
    per = defaultdict(list)
    for r in rows:
        assert r["id"] != r["nb"]
        per[r["id"]].append((r["rank"], r["nb"], r["score"]))
        a, sa = qv[r["id"]]
        b, sb = qv[r["nb"]]
        dot = sum(x * y for x, y in zip(a, b))
        want = 0.0 if sa == 0 or sb == 0 else dot / (math.sqrt(sa) * math.sqrt(sb))
        assert r["score"] == want  # IEEE-exact integer-state cosine
    assert set(per) == set(qv)  # every node present
    for i, lst in per.items():
        lst.sort()
        assert [t[0] for t in lst] == list(range(1, k + 1))
        nbs = [t[1] for t in lst]
        assert len(set(nbs)) == k  # no duplicate neighbors
        scores = [t[2] for t in lst]
        assert scores == sorted(scores, reverse=True)


def test_descent_improves_recall_over_seeds(spark, sf_dir):
    df = _emb(spark, sf_dir, 200)
    kw = dict(k=4, num_centroids=8, groups=8, work_degree=12, sample_mod=10)
    r0 = knn_graph_recall(df, "vec_id", "embedding", rounds=0, **kw).first()
    r2 = knn_graph_recall(df, "vec_id", "embedding", rounds=2, **kw).first()
    assert r0["possible"] == r2["possible"] > 0
    # candidates only ever grow and old edges stay in the candidate set,
    # so recall is monotone; on this corpus the improvement is strict
    assert r2["hits"] > r0["hits"]
    assert r2["recall_ppm"] == math.floor(r2["hits"] * 1_000_000 / r2["possible"])


def test_cell_assign_np_path_matches_expression_path(spark, sf_dir, monkeypatch):
    """The >64-cell numpy GEMM assignment is EXACTLY the expression
    path's argmax (integer-valued float64 GEMM + IEEE division +
    first-occurrence tie-break = cid-asc): same seed pairs, any nc."""
    import spark_ifs_spark.operators.knn as knn_mod

    df = _emb(spark, sf_dir, 300)
    q = quantized_vectors(df, "vec_id", "embedding", 1024).localCheckpoint(eager=True)
    expr_pairs = sorted(
        (r["id"], r["nb"]) for r in knn_mod._cell_seed(q, 24).collect()
    )
    monkeypatch.setattr(ivf, "EXPR_MAX_CENTROIDS", 0)
    np_pairs = sorted(
        (r["id"], r["nb"]) for r in knn_mod._cell_seed(q, 24).collect()
    )
    assert expr_pairs == np_pairs and len(expr_pairs) > 0


def test_graph_diversity_select_matches_brute_force(spark, sf_dir):
    """Greedy farthest-point over the graph must equal a driver-side
    brute-force greedy on the SAME symmetrized edge scores (max-score
    per pair, missing edge = similarity 0, argmin ties by id)."""
    from collections import defaultdict

    from spark_ifs_spark.operators.knn import graph_diversity_select, knn_graph

    df = _emb(spark, sf_dir, 150)
    edges = knn_graph(df, "vec_id", "embedding", k=4, num_centroids=8,
                      rounds=2, groups=8, work_degree=12)
    nodes = sorted(r["vec_id"] for r in df.select("vec_id").collect())
    sym = defaultdict(float)
    for r in edges.collect():
        a, b, s = r["id"], r["nb"], r["score"]
        sym[(a, b)] = max(sym[(a, b)], s)
        sym[(b, a)] = max(sym[(b, a)], s)
    k = 6
    best = {v: 0.0 for v in nodes}
    want = []
    for rank in range(1, k + 1):
        w = min(best, key=lambda v: (best[v], v))
        want.append((rank, w, best[w]))
        del best[w]
        for v in best:
            best[v] = max(best[v], sym.get((v, w), 0.0))
    got = [
        (r["rank"], r["id"], r["far_sim"])
        for r in graph_diversity_select(
            edges, df.select("vec_id"), k=k
        ).orderBy("rank").collect()
    ]
    assert got == want
    # first pick is the min id at similarity zero; picks are distinct
    assert got[0][1] == nodes[0] and got[0][2] == 0.0
    assert len({i for _, i, _ in got}) == k


def test_graph_diversity_select_early_stop_fewer_nodes_than_k(spark):
    from spark_ifs_spark.operators.knn import graph_diversity_select

    edges = spark.createDataFrame(
        [(1, 2, 0.9)], "id long, nb long, score double"
    )
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    out = graph_diversity_select(edges, nodes, k=5).collect()
    assert [(r["rank"], r["id"]) for r in out] == [(1, 1), (2, 2)]
    assert out[1]["far_sim"] == 0.9


def test_label_propagation_hand_case(spark):
    """Majority vote with smallest-label ties, sticky labels, and
    round_converged stamps — hand-checked on a 6-node path + hub."""
    from spark_ifs_spark.operators.knn import label_propagation

    # path 1-2-3-4, plus node 5 adjacent to BOTH seeds 1 and 4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (4, 5)], "id long, nb long"
    )
    seeds = spark.createDataFrame([(1, 7), (4, 3)], "id long, label long")
    got = {
        r["id"]: (r["label"], r["round_converged"])
        for r in label_propagation(edges, seeds, rounds=3).collect()
    }
    # node 5 sees both labels (1 vote each) -> smallest label 3, round 1
    # nodes 2 and 3 each see one labeled neighbor in round 1
    assert got == {
        1: (7, 0), 4: (3, 0), 5: (3, 1), 2: (7, 1), 3: (3, 1),
    }


def test_label_propagation_planted_clusters_recovered(spark):
    """Two well-separated embedding clusters, one seed each: every
    reached node must adopt its own cluster's seed label."""
    from spark_ifs_spark.operators.knn import knn_graph, label_propagation

    # each cluster is a smooth CHAIN in embedding space (unique,
    # slowly-varying vectors), so its kNN graph is connected and
    # propagation must walk multiple hops from the seed at the end
    rows = []
    for i in range(60):
        c = i % 2
        t = (i // 2) * 0.03
        vec = [1.0, t, 0.0, 0.0] if c == 0 else [0.0, 0.0, t, 1.0]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    edges = knn_graph(df, "vec_id", "embedding", k=4, num_centroids=4,
                      rounds=2, groups=8, work_degree=12).select("id", "nb")
    seeds = spark.createDataFrame([(0, 0), (1, 1)], "id long, label long")
    got = label_propagation(edges, seeds, rounds=8).collect()
    assert len(got) >= 24  # propagation spread well beyond the seeds
    assert max(r["round_converged"] for r in got) >= 2  # multi-hop
    for r in got:
        assert r["label"] == r["id"] % 2, (r["id"], r["label"])


def _flat_assign(q, nc):
    cents = ivf.seed_centroids(q, "id", "qv", nc, ivf.INT)
    return ivf.assign_np(q, cents, "qv", ivf.INT)


def test_two_level_assign_with_full_probes_equals_flat(spark, sf_dir):
    """probes >= coarse-cell count ⇒ the candidate set is complete, so
    the two-level argmax EQUALS the flat path by construction (same
    integer-exact scoring, same cid-asc tie-break) — the mathematical
    pin behind the 100 TB swap."""
    from spark_ifs_spark.operators.knn import quantized_vectors

    df = _emb(spark, sf_dir, 300)
    q = quantized_vectors(df, "vec_id", "embedding", 1024).localCheckpoint(eager=True)
    nc = 100  # coarse count = ceil(sqrt(100)) = 10
    flat = _flat_assign(q, nc)
    want = {r["id"]: r["cell"] for r in flat.collect()}
    got = {
        r["id"]: r["cell"]
        for r in ivf.two_level_cells(
            q, "id", "qv", nc, ivf.INT, probes=10
        ).collect()
    }
    assert got == want and len(got) > 0


def test_two_level_assign_default_probes_high_agreement(spark, sf_dir):
    """At the default probe count the probe set is a strict subset of
    the coarse cells, so the assignment is the standard IVF
    approximation — deterministic, and on this corpus it recovers the
    flat argmax for ≥90% of points (the rest land in a probed
    near-best cell; cell assignment only SEEDS the audited descent)."""
    from spark_ifs_spark.operators.knn import quantized_vectors

    df = _emb(spark, sf_dir, 400)
    q = quantized_vectors(df, "vec_id", "embedding", 1024).localCheckpoint(eager=True)
    nc = 120
    flat = _flat_assign(q, nc)
    want = {r["id"]: r["cell"] for r in flat.collect()}
    got = {
        r["id"]: r["cell"]
        for r in ivf.two_level_cells(q, "id", "qv", nc, ivf.INT).collect()
    }
    assert set(got) == set(want)  # every point assigned exactly once
    agree = sum(got[i] == want[i] for i in want)
    assert agree >= 0.9 * len(want)


def test_cell_seed_two_level_path_parity(spark, sf_dir, monkeypatch):
    """Forcing _cell_seed onto the two-level path (threshold 1) at
    FULL probe coverage must reproduce the flat path's seed pairs
    exactly (complete candidate set ⇒ identical argmax ⇒ identical
    cells ⇒ identical pairs)."""
    import spark_ifs_spark.operators.knn as knn_mod
    from spark_ifs_spark.operators.knn import quantized_vectors

    df = _emb(spark, sf_dir, 300)
    q = quantized_vectors(df, "vec_id", "embedding", 1024).localCheckpoint(eager=True)
    flat_pairs = sorted(
        (r["id"], r["nb"]) for r in knn_mod._cell_seed(q, 80).collect()
    )
    monkeypatch.setattr(ivf, "TWO_LEVEL_MIN_CENTROIDS", 1)
    monkeypatch.setattr(ivf, "TWO_LEVEL_PROBES", 9)  # = all coarse cells
    two_pairs = sorted(
        (r["id"], r["nb"]) for r in knn_mod._cell_seed(q, 80).collect()
    )
    assert two_pairs == flat_pairs and len(two_pairs) > 0


def test_facility_location_select_matches_brute_force(spark, sf_dir):
    """Greedy facility location must equal a driver-side brute-force
    greedy on the SAME integer-ppm similarities (floor(max-score·10⁶),
    missing edge = 0, self-coverage = 10⁶, argmax ties by id ASC)."""
    import math
    from collections import defaultdict

    from spark_ifs_spark.operators.knn import facility_location_select, knn_graph

    df = _emb(spark, sf_dir, 150)
    edges = knn_graph(df, "vec_id", "embedding", k=4, num_centroids=8,
                      rounds=2, groups=8, work_degree=12)
    nodes = sorted(r["vec_id"] for r in df.select("vec_id").collect())
    SELF = 1_000_000
    # seed with -inf, not 0.0: a 0 default would clamp negative-score
    # edges upward and mask a parity divergence on graphs that carry
    # negative cosines (the operator keeps them via F.max unclamped)
    raw = defaultdict(lambda: float("-inf"))
    for r in edges.collect():
        a, b, s = r["id"], r["nb"], r["score"]
        raw[(a, b)] = max(raw[(a, b)], s)
        raw[(b, a)] = max(raw[(b, a)], s)
    sym = {p: int(math.floor(s * SELF)) for p, s in raw.items()}
    k = 6
    best = {v: 0 for v in nodes}
    selected = set()
    want = []
    for rank in range(1, k + 1):
        gains = {}
        for c in nodes:
            if c in selected:
                continue
            g = SELF - best[c]
            for v in nodes:
                if v != c:
                    g += max(0, sym.get((v, c), 0) - best[v])
            gains[c] = g
        w = max(gains, key=lambda c: (gains[c], -c))
        want.append((rank, w, gains[w]))
        selected.add(w)
        best[w] = SELF
        for v in nodes:
            if v not in selected:
                best[v] = max(best[v], sym.get((v, w), 0))
    got = [
        (r["rank"], r["id"], r["gain_ppm"])
        for r in facility_location_select(
            edges, df.select("vec_id"), k=k
        ).orderBy("rank").collect()
    ]
    assert got == want
    # submodularity: greedy marginal gains never increase
    g = [x[2] for x in got]
    assert all(a >= b for a, b in zip(g, g[1:]))
    assert len({i for _, i, _ in got}) == k


def test_facility_location_select_early_stop_fewer_nodes_than_k(spark):
    from spark_ifs_spark.operators.knn import facility_location_select

    edges = spark.createDataFrame(
        [(1, 2, 0.5)], "id long, nb long, score double"
    )
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    out = facility_location_select(edges, nodes, k=5).collect()
    # pick 1 first: gain = self 1e6 + covers node 2 at 0.5e6; then 2
    # adds only its remaining self-coverage
    assert [(r["rank"], r["id"], r["gain_ppm"]) for r in out] == [
        (1, 1, 1_500_000),
        (2, 2, 500_000),
    ]


def test_facility_location_prefers_cluster_center(spark):
    """A star hub covering many spokes must be picked before an
    isolated outlier pair — the representativeness contract that
    distinguishes facility location from k-center (which would pick
    the outlier second)."""
    from spark_ifs_spark.operators.knn import facility_location_select

    # hub 1 with spokes 2..5 at 0.9; isolated pair (10, 11) at 0.8
    rows = [(1, s, 0.9) for s in (2, 3, 4, 5)] + [(10, 11, 0.8)]
    edges = spark.createDataFrame(rows, "id long, nb long, score double")
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11)], "id long"
    )
    out = facility_location_select(edges, nodes, k=2).orderBy("rank").collect()
    assert out[0]["id"] == 1  # hub first: 1e6 + 4·0.9e6
    assert out[1]["id"] in (10, 11)  # then the uncovered pair


def test_knn_centrality_mutual_hub_outranks_isolated(spark, sf_dir):
    """Centrality semantics on the real registry query shape: a
    mutual-star center must outrank every spoke, and nodes with no
    mutual edge sit exactly at the teleport floor (150000 micro)."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.graph import pagerank

    # mutual star: center 1 <-> spokes 2..6; node 9 isolated
    mut = [(1, s) for s in range(2, 7)] + [(s, 1) for s in range(2, 7)]
    edges = spark.createDataFrame(mut, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, 9]], "id long")
    pr = {r["id"]: r["pr_micro"] for r in pagerank(edges, nodes, iters=2).collect()}
    assert pr[9] == 150_000
    assert all(pr[1] > pr[s] for s in range(2, 7))
    assert all(pr[s] > pr[9] for s in range(2, 7))


def test_graph_search_wellformed_and_beats_entry_seeding(spark, sf_dir):
    """Beam results: ≤ k rows per query, rank-ordered (score DESC, id
    ASC), self excluded; and the walk must genuinely NAVIGATE — recall
    after hops strictly exceeds hops=0 (entry-scoring only) on the
    real fixture, the knn_graph 'descent actually descends' discipline
    applied to serving."""
    from spark_ifs_spark.operators.knn import (
        graph_search,
        graph_search_recall,
        knn_graph,
    )

    df = _emb(spark, sf_dir, 300)
    edges = knn_graph(df, "vec_id", "embedding", k=4, num_centroids=8,
                      rounds=2, groups=8, work_degree=16)
    queries = df.filter(F.col("vec_id").isin([0, 41, 97]))
    out = graph_search(
        edges, df, "vec_id", "embedding", queries, "vec_id", "embedding",
        k=5, ef=16, hops=3, n_entry=8,
    ).collect()
    per = {}
    for r in out:
        per.setdefault(r["qid"], []).append((r["rank"], r["id"], r["score"]))
        assert r["qid"] != r["id"]
    assert set(per) == {0, 41, 97}
    for qid, lst in per.items():
        lst.sort()
        assert [rk for rk, _, _ in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= 5
        scores = [s for _, _, s in lst]
        assert scores == sorted(scores, reverse=True)
    r_walk = graph_search_recall(
        edges, df, "vec_id", "embedding", queries, "vec_id", "embedding",
        k=5, ef=16, hops=3, n_entry=8,
    ).collect()[0]["recall_ppm"]
    r_entry = graph_search_recall(
        edges, df, "vec_id", "embedding", queries, "vec_id", "embedding",
        k=5, ef=16, hops=0, n_entry=8,
    ).collect()[0]["recall_ppm"]
    assert r_walk > r_entry


def test_graph_search_partitioning_invariant(spark, sf_dir):
    """Same results under physical repartitioning of every input (the
    md5 rendezvous entries and integer-state scores are partition-
    independent by construction)."""
    from spark_ifs_spark.operators.knn import graph_search, knn_graph

    df = _emb(spark, sf_dir, 200)
    edges = knn_graph(df, "vec_id", "embedding", k=4, num_centroids=8,
                      rounds=2, groups=8, work_degree=12)
    queries = df.filter(F.col("vec_id").isin([0, 41]))
    kw = dict(k=5, ef=12, hops=2, n_entry=6)
    a = sorted(map(tuple, graph_search(
        edges, df, "vec_id", "embedding", queries, "vec_id", "embedding", **kw
    ).collect()))
    b = sorted(map(tuple, graph_search(
        edges.repartition(7), df.repartition(5), "vec_id", "embedding",
        queries.repartition(2), "vec_id", "embedding", **kw
    ).collect()))
    assert a == b and len(a) > 0
