from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.operators import ivf, similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(42)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(50)]
    # plant a near-duplicate of vector 0
    v0 = np.array(rows[0][1])
    rows.append((50, [float(x) for x in (v0 + rng.normal(0, 0.01, 16))]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), rows


def test_cosine_topk_exact(spark, vecs):
    df, rows = vecs
    query = rows[0][1]
    out = similarity.cosine_topk(df, "vec_id", "embedding", query, k=5, exclude_ids=[0]).collect()
    assert len(out) == 5
    assert out[0]["id"] == 50  # planted near-dup first
    assert out[0]["cos"] > 0.999
    # numpy cross-check of the full ranking
    M = np.array([r[1] for r in rows])
    q = np.array(query)
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = [i for i in np.argsort(-cos) if i != 0][:5]
    assert [r["id"] for r in out] == [rows[i][0] for i in order]
    for r, i in zip(out, order):
        assert r["cos"] == pytest.approx(float(cos[i]), rel=1e-9)


def test_cosine_top_pairs(spark, vecs):
    df, rows = vecs
    out = similarity.cosine_top_pairs(df, "vec_id", "embedding", k=3).collect()
    assert (out[0]["id_a"], out[0]["id_b"]) == (0, 50)
    assert out[0]["cos"] > 0.999


def _pairs_set(rows):
    return {(r["id_a"], r["id_b"]): pytest.approx(r["cos"], rel=1e-9) for r in rows}


def test_blocked_kernel_matches_broadcast_kernel(spark, vecs):
    """The distributed triangular block-GEMM must produce EXACTLY the
    broadcast kernel's pairs — same set, same cosines — at several
    block counts (including B > distinct hash buckets)."""
    df, _ = vecs
    want = _pairs_set(
        similarity.cosine_threshold_pairs(df, "vec_id", "embedding", threshold=0.2).collect()
    )
    assert want  # non-trivial pair set at this threshold
    for B in (2, 4, 9):
        got = _pairs_set(
            similarity.cosine_threshold_pairs_blocked(
                df, "vec_id", "embedding", threshold=0.2, num_blocks=B
            ).collect()
        )
        assert got == want, f"num_blocks={B}"


def test_blocked_top_pairs_matches_broadcast(spark, vecs):
    df, _ = vecs
    want = [
        (r["id_a"], r["id_b"], pytest.approx(r["cos"], rel=1e-9))
        for r in similarity.cosine_top_pairs(df, "vec_id", "embedding", k=5).collect()
    ]
    got = [
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.cosine_top_pairs_blocked(
            df, "vec_id", "embedding", k=5, num_blocks=3
        ).collect()
    ]
    assert got == want


def test_gemm_kernel_falls_back_past_broadcast_guard(spark, vecs, monkeypatch):
    """Past the broadcast row limit the kernel must fall back to the
    distributed blocked plan (NOT raise) and return identical results."""
    df, _ = vecs
    in_core = _pairs_set(
        similarity.cosine_threshold_pairs(
            df, "vec_id", "embedding", threshold=0.2
        ).collect()
    )
    # 51 rows > limit 10 → guard trips → blocked fallback
    monkeypatch.setattr(similarity, "INCORE_VECTOR_BUDGET", 10)
    fallback = _pairs_set(
        similarity.cosine_threshold_pairs(
            df, "vec_id", "embedding", threshold=0.2
        ).collect()
    )
    assert fallback == in_core
    topk_fallback = similarity.cosine_top_pairs(
        df, "vec_id", "embedding", k=3
    ).collect()
    assert (topk_fallback[0]["id_a"], topk_fallback[0]["id_b"]) == (0, 50)


def _brute_pairs(ids, U, k=None, threshold=None):
    """Every ``id_a < id_b`` cell of the full score matrix, then the
    emitter's contract applied by hand."""
    S = U @ U.T
    a, b = np.nonzero(ids[:, None] < ids[None, :])
    ia, ib, cs = ids[a], ids[b], S[a, b]
    if threshold is not None:
        m = cs >= threshold
        return set(zip(ia[m].tolist(), ib[m].tolist()))
    m = cs >= np.partition(cs, -k)[-k]
    ia, ib, cs = ia[m], ib[m], cs[m]
    top = np.lexsort((ib, ia, -cs))[:k]
    return list(zip(ia[top].tolist(), ib[top].tolist()))


def test_pair_emitter_matches_brute_force_in_bounded_memory(monkeypatch):
    """numpy only: with a small tile the one pair emitter returns the
    brute-force pairs in both modes — threshold (every pair) and top-k
    (the best k under cos DESC, id_a, id_b) — on one corpus and on two
    disjoint sides, and its peak allocation stays a small multiple of
    the tile plus its output, where a whole score matrix of 3,000 rows
    is 72 MB."""
    import tracemalloc

    tile = 1 << 16
    monkeypatch.setattr(similarity, "_TILE_CELLS", tile)
    rng = np.random.default_rng(7)
    V = rng.normal(0, 1, (3000, 16))
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = rng.permutation(10_000)[:3000].astype(np.int64)
    want = _brute_pairs(ids, U, threshold=0.6)
    top = _brute_pairs(ids, U, k=25)
    for mode, expect in (({"threshold": 0.6}, want), ({"k": 25}, top)):
        tracemalloc.start()
        out = similarity._emit_pairs(ids, U, ids, U, upper=True, **mode)
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        got = list(zip(out["id_a"].tolist(), out["id_b"].tolist()))
        assert (set(got) if "threshold" in mode else got) == expect, mode
        assert peak <= 4 * (tile * 8 + out.memory_usage(index=False).sum()), (mode, peak)
    side = np.arange(3000) < 1200
    left = set(ids[side].tolist())
    out = similarity._emit_pairs(
        ids[side], U[side], ids[~side], U[~side], upper=False, threshold=0.6
    )
    across = {(x, y) for x, y in want if (x in left) != (y in left)}
    assert set(zip(out["id_a"].tolist(), out["id_b"].tolist())) == across


def test_tiled_kernels_match_untiled(spark, vecs, monkeypatch):
    """Both plans in both modes return the untiled pairs — those of the
    whole score matrix — when every score tile holds only a few rows."""
    df, rows = vecs
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows])
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = U @ U.T
    monkeypatch.setattr(similarity, "_TILE_CELLS", 3 * len(rows))
    thr, top = _brute_pairs(ids, U, threshold=0.2), _brute_pairs(ids, U, k=5)
    for pairs, want in (
        (similarity.cosine_threshold_pairs(df, "vec_id", "embedding", 0.2), thr),
        (similarity.cosine_threshold_pairs_blocked(
            df, "vec_id", "embedding", 0.2, num_blocks=3), thr),
        (similarity.cosine_top_pairs(df, "vec_id", "embedding", k=5), top),
        (similarity.cosine_top_pairs_blocked(
            df, "vec_id", "embedding", k=5, num_blocks=3), top),
    ):
        got = pairs.collect()
        ab = [(r["id_a"], r["id_b"]) for r in got]
        assert (set(ab) if isinstance(want, set) else ab) == want
        assert [r["cos"] for r in got] == pytest.approx([S[a, b] for a, b in ab], rel=1e-12)


def test_pair_kernel_lives_in_one_emitter():
    """Source guard: the exact all-pairs kernels score through the one
    emitter under the one vector budget — no per-call size knob, no
    hand-written triangular emission and no second md5 twin or unused
    round kernel may re-grow in the package — and every row-fetching
    in-core gate probes through ``gates.collect_within``."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark_ifs_spark"
    )
    home = os.path.join(pkg, "operators", "gates.py")
    patterns = [
        r"\b(broadcast_limit_rows|target_block_rows|triu_indices|meshgrid|_py_int60|round_mi)\b",
        r"\.limit\([^()]*\+\s*1\)\s*\.collect\(",
    ]
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == home:
                continue
            txt = open(path).read()
            offenders += [
                (os.path.relpath(path, pkg), m.group(0))
                for pat in patterns
                for m in re.finditer(pat, txt)
            ]
    assert not offenders, f"pair kernel or gate probe outside its one home: {offenders}"


def test_lsh_topk_is_subset_quality(spark, vecs):
    """The LSH path must return the planted near-dup (same bucket with
    overwhelming probability) and only ids from the exact ranking."""
    df, rows = vecs
    query = rows[0][1]
    exact = [r["id"] for r in similarity.cosine_topk(df, "vec_id", "embedding", query, k=51).collect()]
    approx = similarity.cosine_topk_lsh(df, "vec_id", "embedding", query, k=5, num_planes=6).collect()
    assert approx, "query's own bucket cannot be empty (contains vec 0)"
    assert [r["id"] for r in approx] == [i for i in exact if i in {r["id"] for r in approx}][: len(approx)]
    assert approx[0]["id"] in (50, 0)


def test_hyperplane_buckets_deterministic(spark, vecs):
    df, _ = vecs
    b1 = {r["id"]: r["bucket"] for r in similarity.hyperplane_lsh_buckets(df, "vec_id", "embedding", 16, 8).collect()}
    b2 = {r["id"]: r["bucket"] for r in similarity.hyperplane_lsh_buckets(df, "vec_id", "embedding", 16, 8).collect()}
    assert b1 == b2
    # near-identical vectors agree on (almost) all hyperplane signs: each
    # plane flips with prob θ/π ≈ 0.003, so ≤1 differing bit out of 8
    assert bin(b1[0] ^ b1[50]).count("1") <= 1


def test_ivf_probe_subsets_and_agrees_with_brute_force(spark, sf_dir):
    """IVF with all cells probed must equal brute force exactly; with few
    probes it returns a subset of the corpus ranked identically."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    q = [float(x) for x in q]
    exact = [(r["id"], round(r["cos"], 9)) for r in cosine_topk(emb, "vec_id", "embedding", q, k=5, exclude_ids=[0]).collect()]
    # n_probe == num_centroids → every cell scanned → identical to exact
    full = [(r["id"], round(r["cos"], 9)) for r in cosine_topk_ivf(
        emb, "vec_id", "embedding", q, k=5, num_centroids=8, n_probe=8, exclude_ids=[0]
    ).collect()]
    assert full == exact
    # assignment covers the whole corpus, one cell per vector
    cents = ivf.seed_centroids(emb, "vec_id", "embedding", num_centroids=8)
    cells = ivf.tagged_cells(emb, cents, "vec_id", "embedding")
    assert cells.count() == emb.count()
    assert len(cents) == 8
    assert cells.select("cell").distinct().count() <= 8


def test_ivf_kmeans_improves_recall(spark, sf_dir):
    """Lloyd-trained centroids close the loop VERDICT r3 flagged: the
    trained probe must reach recall@10 ≥ 0.9 against brute force on the
    embeddings table, and training must not regress recall below the
    seed-centroid probe at the same (num_centroids, n_probe) budget."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        ivf_centroids_kmeans,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {
        r["id"]
        for r in cosine_topk(
            emb, "vec_id", "embedding", q, k=10, exclude_ids=[0]
        ).collect()
    }

    def recall(cents) -> float:
        got = {
            r["id"]
            for r in cosine_topk_ivf(
                emb, "vec_id", "embedding", q, k=10,
                num_centroids=16, n_probe=4, exclude_ids=[0], centroids=cents,
            ).collect()
        }
        return len(got & exact) / len(exact)

    trained = ivf_centroids_kmeans(emb, "vec_id", "embedding", 16, iters=2)
    seed = ivf.seed_centroids(emb, "vec_id", "embedding", 16)
    r_trained, r_seed = recall(trained), recall(seed)
    assert r_trained >= 0.9
    assert r_trained >= r_seed
    # determinism: retraining reproduces the identical centroid table
    assert trained == ivf_centroids_kmeans(emb, "vec_id", "embedding", 16, iters=2)


def test_gram_matrix_matches_numpy(spark):
    import numpy as np
    from spark_ifs_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(5)
    X = np.floor(rng.normal(size=(40, 6)) * 8) / 8  # quantized → exact
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "v array<double>"
    ).repartition(4)
    got = {(r["i"], r["j"]): r["g"] for r in gram_matrix(df, "v", 6).collect()}
    want = X.T @ X
    assert len(got) == 6 * 7 // 2
    for (i, j), g in got.items():
        assert i <= j
        assert g == want[i, j]  # exact: dyadic inputs, no float drift


def test_gram_matrix_shuffle_is_cardinality_bounded(spark):
    from spark_ifs_spark.operators.similarity import gram_matrix
    from spark_ifs_spark.plans.checks import count_exchanges

    df = spark.createDataFrame([([1.0, 2.0],), ([3.0, 4.0],)], "v array<double>")
    assert count_exchanges(gram_matrix(df, "v", 2)) == 1


def test_power_iteration_step_matches_numpy_and_converges(spark):
    import numpy as np
    from spark_ifs_spark.operators.similarity import power_iteration_step

    rng = np.random.default_rng(11)
    X = np.floor(rng.normal(size=(60, 5)) * 8) / 8
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "v array<double>"
    ).repartition(4)
    v = np.full(5, 0.125)
    # one step, exact vs numpy
    got = {r["dim"]: r["y"] for r in power_iteration_step(df, "v", 5, v.tolist()).collect()}
    want = X.T @ (X @ v)
    assert [got[i] for i in range(5)] == want.tolist()
    # iterate with driver-side renormalization -> top eigenvector of X^T X
    for _ in range(22):
        y = {r["dim"]: r["y"] for r in power_iteration_step(df, "v", 5, v.tolist()).collect()}
        v = np.array([y[i] for i in range(5)])
        v /= np.linalg.norm(v)
    evals, evecs = np.linalg.eigh(X.T @ X)
    top = evecs[:, -1]
    assert abs(abs(float(v @ top)) - 1.0) < 1e-3


def test_power_iteration_loop(spark):
    import numpy as np

    from spark_ifs_spark.operators.similarity import power_iteration

    rng = np.random.default_rng(12)
    X = np.floor(rng.normal(size=(50, 4)) * 8) / 8
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "v array<double>"
    ).repartition(3)
    # unnormalized, 2 steps: exact (X^T X)^2 v0 (dyadic arithmetic)
    v0 = [0.125] * 4
    got = power_iteration(df, "v", 4, v0=v0, iters=2, normalize=False)
    G = X.T @ X
    want = G @ (G @ np.array(v0))
    assert got == want.tolist()
    # normalized to convergence: dominant eigenvector direction
    v = np.array(power_iteration(df, "v", 4, iters=25, normalize=True))
    evals, evecs = np.linalg.eigh(G)
    assert abs(abs(float(v @ evecs[:, -1])) - 1.0) < 1e-3


def test_sq8_params_and_codes(spark):
    rows = [
        (0, [0.0, -1.0, 5.0]),
        (1, [1.0, 1.0, 5.0]),
        (2, [0.5, 0.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    params = similarity.sq8_params(df, "embedding", 3)
    assert params == [(0.0, 1.0), (-1.0, 1.0), (5.0, 5.0)]  # dim 2 constant


def test_topk_sq8_matches_numpy_quantized(spark):
    rng = np.random.RandomState(7)
    vecs = rng.rand(40, 8).astype("float32")
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    query = [float(x) for x in vecs[0]]
    out = similarity.topk_sq8(df, "vec_id", "embedding", query, k=5, exclude_ids=[0]).collect()

    mn, mx = vecs.astype("float64").min(axis=0), vecs.astype("float64").max(axis=0)

    def code(v):
        c = np.floor((v - mn) * 255.0 / (mx - mn))
        return np.clip(c, 0, 255).astype("int64")

    qc = code(np.array(query, dtype="float64"))
    scores = {i: int(code(vecs[i].astype("float64")) @ qc) for i in range(1, 40)}
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["id"], r["dot_q"]) for r in out] == expect


def test_topk_sq8_constant_dim_contributes_zero(spark):
    rows = [(0, [1.0, 3.0]), (1, [0.0, 3.0]), (2, [0.5, 3.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.topk_sq8(df, "vec_id", "embedding", [1.0, 3.0], k=3).collect()
    # dim 1 is constant -> code 0 everywhere; ranking driven by dim 0 only
    assert [r["id"] for r in out] == [0, 2, 1]
    assert out[2]["dot_q"] == 0


def test_cosine_lsh_pairs_recall_vs_exact(spark, sf_dir):
    """The registered recall audit: LSH-bucketed pairs must catch ≥90%
    of the exact blocked-kernel pairs at the dedup threshold (measured
    0.949 at sf0.001/sf0.01, 0.911 at sf0.1 with the registry params)."""
    from spark_ifs_spark.registry import q_dedup_embedding_lsh_recall

    row = q_dedup_embedding_lsh_recall(spark, sf_dir).collect()[0]
    assert row["n_exact"] > 0
    assert row["recall_ppm"] >= 900_000, dict(row.asDict())


def test_cosine_lsh_pairs_every_emitted_cosine_is_exact(spark):
    """Verification is exact even though candidate generation is
    approximate: every emitted (pair, cos) must equal the numpy cosine."""
    import random as _r

    rng = _r.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_lsh_pairs(
        df, "vec_id", "embedding", 16, threshold=0.3, num_planes=4,
        num_tables=8, seed=3,
    ).collect()
    V = {i: np.array(v) for i, v in rows}
    for r in out:
        a, b = V[r["id_a"]], V[r["id_b"]]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cos"] - expect) < 1e-9
        assert r["cos"] >= 0.3


def test_topk_pq_recall_vs_exact(spark, sf_dir):
    """PQ-ADC shortlist + exact rescore must recover most of the true
    top-10 (recall@10 asserted; the shortlist is 5x k)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["id"] for r in similarity.cosine_topk(
        emb, "vec_id", "embedding", qvec, k=10, exclude_ids=[0]).collect()}
    approx = {r["id"] for r in similarity.topk_pq(
        emb, "vec_id", "embedding", qvec, k=10, exclude_ids=[0]).collect()}
    assert len(exact & approx) >= 7, (sorted(exact), sorted(approx))


def test_topk_pq_integer_assignment_matches_numpy(spark):
    """The BIGINT subspace assignment + ADC must equal a numpy replica
    exactly (integer arithmetic — no fp divergence allowed)."""
    import random as _r

    rng = _r.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = rows[0][1]
    out = similarity.topk_pq(
        df, "vec_id", "embedding", q, k=5, m=4, kcode=8, rescore=12,
        scale=32, exclude_ids=[0],
    ).collect()

    import math as _m
    V = {i: v for i, v in rows}
    books = similarity.pq_codebooks(df, "vec_id", "embedding", 16, m=4, kcode=8, scale=32)
    qint = [int(_m.floor(x * 32)) for x in q]
    def adc(v):
        tot = 0
        for j in range(4):
            xs = [int(_m.floor(x * 32)) for x in v[j*4:(j+1)*4]]
            best = min(range(8), key=lambda c: (sum((xs[t]-books[j][c][t])**2 for t in range(4)), c))
            tot += sum(qint[j*4+t] * books[j][best][t] for t in range(4))
        return tot
    scores = sorted(((adc(V[i]), -i) for i in V if i != 0), reverse=True)[:12]
    short = {-s[1] for s in scores}
    def cos(a, b):
        num = sum(x*y for x, y in zip(a, b))
        return num / (_m.sqrt(sum(x*x for x in a)) * _m.sqrt(sum(x*x for x in b)))
    want = sorted(((cos(V[i], q), -i) for i in short), reverse=True)[:5]
    assert [(r["id"]) for r in out] == [-w[1] for w in want]


def test_semantic_dedup_matches_numpy_replica(spark):
    """Hand-verifiable fixture + full numpy replica of cells, in-cell
    pairs, and the keep-lowest-id drop rule."""
    import random as _r

    rng = _r.Random(21)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [
        (0, base),
        (1, [x + 0.01 for x in base]),              # near-dup of 0 -> dropped
        (2, [x * -1.0 for x in base]),              # opposite: kept
        (3, [rng.gauss(0, 1) for _ in range(8)]),
        (4, [x + 0.02 for x in base]),              # near-dup of 0/1 -> dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedup(
        df, "vec_id", "embedding", 8, threshold=0.95, num_centroids=2
    ).collect()
    # numpy replica
    V = {i: np.array(v) for i, v in rows}
    cents = [(0, V[0]), (1, V[1])]  # two smallest ids
    def cell_of(v):
        best = max(
            ((float(v @ c / np.linalg.norm(c)), -cid) for cid, c in cents)
        )
        return -best[1]
    cells = {i: cell_of(V[i]) for i in V}
    dropped = set()
    for a in sorted(V):
        for b in sorted(V):
            if a < b and cells[a] == cells[b]:
                ca = V[a] / np.linalg.norm(V[a]); cb = V[b] / np.linalg.norm(V[b])
                if float(ca @ cb) >= 0.95:
                    dropped.add(b)
    want = {(i, cells[i]) for i in V if i not in dropped}
    assert {(r["id"], r["cell"]) for r in out} == want
    # docs 0 and 1 are the two centroid donors, so they sit in separate
    # cells and survive (per-cell blindness is the SemDeDup trade-off);
    # doc 4 shares a cell with one of them and must be dropped
    assert 4 in dropped and 0 not in dropped and 1 not in dropped


def test_scaled_num_centroids():
    assert ivf.scaled_num_centroids(500) == 16      # gate scale → floor
    assert ivf.scaled_num_centroids(2000) == 16     # sf0.1 → floor
    assert ivf.scaled_num_centroids(50_000) == 390
    assert ivf.scaled_num_centroids(500_000) == 3906
    assert ivf.scaled_num_centroids(0) == 16
    assert ivf.scaled_num_centroids(10_000, target_cell_size=100) == 100


def test_ivf_assign_np_matches_expr_assigner(spark, vecs):
    """The broadcast-numpy assigner (large-k path) must agree with the
    codegen'd literal-expression assigner cell-for-cell — same argmax,
    same centroid-id-asc tie-break."""
    df, rows = vecs
    cents = ivf.seed_centroids(df, "vec_id", "embedding", 8)
    via_expr = {
        r["id"]: r["cell"]
        for r in df.select(
            F.col("vec_id").alias("id"),
            ivf.cell_expr(cents, "embedding").alias("cell"),
        ).collect()
    }
    via_np = {
        r["vec_id"]: r["cell"]
        for r in ivf.assign_np(df, cents, "embedding").collect()
    }
    assert via_np == via_expr


def test_tagged_cells_switches_to_np_past_expr_limit(spark):
    """Past EXPR_MAX_CENTROIDS centroids tagged_cells must route through
    the numpy assigner (no janino-compile-bound literal tree) and still
    produce a valid one-cell-per-row assignment."""
    rng = np.random.default_rng(7)
    n = 300
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    k = ivf.EXPR_MAX_CENTROIDS + 6
    cents = ivf.seed_centroids(df, "vec_id", "embedding", k)
    got = ivf.tagged_cells(df, cents, "vec_id", "embedding").collect()
    assert len(got) == n
    cent_ids = {cid for cid, _ in cents}
    assert {r["cell"] for r in got} <= cent_ids
    # every centroid's own vector must land in its own cell
    own = {r["id"]: r["cell"] for r in got if r["id"] in cent_ids}
    assert own == {cid: cid for cid in cent_ids}
    # numpy ground-truth argmax agreement
    M = np.array([cv for _, cv in cents])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    V = np.array([r[1] for r in rows])
    want = np.array([cid for cid, _ in cents])[np.argmax(V @ M.T, axis=1)]
    got_map = {r["id"]: r["cell"] for r in got}
    assert [got_map[i] for i in range(n)] == list(want)


def test_ivf_assignment_lives_only_in_ivf_module():
    """Source guard: ``operators/ivf.py`` is the only module that scores
    vectors against centroids — no retired assigner, no copy of the
    ladder constants and no ``np.argmax(`` may re-grow elsewhere in the
    package."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark_ifs_spark"
    )
    home = os.path.join(pkg, "operators", "ivf.py")
    patterns = [
        r"\b(ivf_cell_expr|ivf_assign_np|_probe_coarse_np|ivf_cells"
        r"|_cell_assign_np|_topp_coarse_np|_cell_assign_two_level"
        r"|NP_ASSIGN_MIN_CENTROIDS|SIM_TWO_LEVEL_\w+|_EXPR_ASSIGN_LIMIT)\b",
        r"^\s*(EXPR_MAX_CENTROIDS|TWO_LEVEL_MIN_CENTROIDS|TWO_LEVEL_PROBES)\s*=",
        r"np\.argmax\(",
    ]
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == home:
                continue
            txt = open(path).read()
            offenders += [
                (os.path.relpath(path, pkg), m.group(0))
                for pat in patterns
                for m in re.finditer(pat, txt, re.M)
            ]
    assert not offenders, f"IVF assignment outside operators/ivf.py: {offenders}"


def test_semantic_dedup_scaled_default_matches_explicit_floor(spark, sf_dir):
    """num_centroids=None at gate scale (≤ 2048 vectors) must resolve to
    the 16-cell floor — identical output to the explicit 16."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = similarity.semantic_dedup(emb, "vec_id", "embedding", 64, threshold=0.4).collect()
    b = similarity.semantic_dedup(
        emb, "vec_id", "embedding", 64, threshold=0.4, num_centroids=16
    ).collect()
    assert sorted((r["id"], r["cell"]) for r in a) == sorted(
        (r["id"], r["cell"]) for r in b
    )


def test_lsh_hi_threshold_prunes_and_recalls(spark, sf_dir):
    """At the production dedup threshold (cos >= 0.9, P=10 x L=12) the
    LSH candidate gate must prune the pair space by >= 10x while keeping
    recall >= 0.9 — the regime the 100 TB claim rests on (the
    0.4-threshold demo prunes only ~2.4x)."""
    from spark_ifs_spark.registry import QUERIES

    row = QUERIES["dedup_embedding_lsh_hi_audit"](spark, sf_dir).collect()[0]
    assert row["n_exact"] > 0
    assert row["recall_ppm"] >= 900_000
    assert row["cand_ppm"] <= 100_000  # candidates <= 10% of n*(n-1)/2


def test_effective_dim_isotropic_equals_d(spark):
    """± one-hot basis vectors: zero mean, C = I/4 -> PR = d exactly."""
    rows = []
    for d in range(4):
        for sgn in (1.0, -1.0):
            v = [0.0] * 4
            v[d] = sgn
            rows.append((v,))
    df = spark.createDataFrame(rows, "qe array<double>")
    out = similarity.effective_dim(df, "qe", 4).collect()[0]
    assert out["n"] == 8
    assert out["pr"] == 4.0
    assert out["pr_frac"] == 1.0


def test_effective_dim_rank1_collapse_equals_one(spark):
    """±v for a single dyadic direction: C = vv^T (rank 1) -> PR = 1."""
    v = [0.5, 0.5, 0.25, 0.125]
    rows = [(v,), ([-x for x in v],)] * 3
    df = spark.createDataFrame(rows, "qe array<double>")
    out = similarity.effective_dim(df, "qe", 4).collect()[0]
    assert out["pr"] == 1.0


def test_knn_label_accuracy_separable_and_mixed(spark):
    """Two well-separated clusters classify perfectly; a vector planted
    inside the wrong cluster is misclassified (leave-one-out)."""
    rows = []
    # cluster A near +x, cluster B near +y (4 vectors each)
    for i in range(4):
        rows.append((i, [8.0, float(i % 2), 0.0, 0.0], 0))
        rows.append((10 + i, [float(i % 2), 8.0, 0.0, 0.0], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in
           similarity.knn_label_accuracy(df, "vec_id", "embedding", "label", k=3).collect()}
    assert out[0]["acc_ppm"] == 1000000 and out[1]["acc_ppm"] == 1000000
    # plant a label-1 vector in the middle of cluster A -> its 3 NN are
    # all label 0, so it misclassifies; cluster A itself stays clean
    df2 = spark.createDataFrame(
        rows + [(99, [8.0, 0.5, 0.0, 0.0], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    out2 = {r["label"]: r for r in
            similarity.knn_label_accuracy(df2, "vec_id", "embedding", "label", k=3).collect()}
    assert out2[0]["acc_ppm"] == 1000000
    assert out2[1]["n_correct"] == 4 and out2[1]["n_vecs"] == 5


def test_kmeans_train_stats_parity_with_trained_centroids(spark, sf_dir):
    """The gated kmeans_train relation must report exactly the
    centroids ivf_centroids_kmeans trains at the same config — the
    trained-clustering consumers (SemDeDup cells, trained IVF) and the
    gate see one clustering, not two."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.ivf import cell_expr
    from spark_ifs_spark.operators.similarity import (
        ivf_centroids_kmeans,
        kmeans_train_stats,
        as_double_array,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> floor(x * 8) / 8)").alias("qe")
    )
    iters, k = 2, 8
    cents = ivf_centroids_kmeans(emb, "vec_id", "qe", k, iters=iters)
    stats = kmeans_train_stats(emb, "vec_id", "qe", k, iters=iters).collect()
    # the reported means ARE the next Lloyd update of the trained
    # centroids; non-empty cells of one more explicit assignment pass
    # must agree exactly
    tagged = emb.select(
        cell_expr(cents, "qe").alias("cell"), as_double_array("qe").alias("v")
    )
    want = {
        (r["cell"], r["dim"]): (r["n"], r["mean"])
        for r in tagged.select("cell", F.posexplode("v").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("x").alias("mean"))
        .collect()
    }
    got = {(r["cell"], r["dim"]): (r["n"], r["mean"]) for r in stats}
    assert got == want
    # population sanity: every vector lands in exactly one cell
    n_vec = emb.count()
    dims = {d for _, d in got}
    assert sum(n for (c, d), (n, _) in got.items() if d == 0) == n_vec
    assert len(dims) == 64


def test_kmeans_train_iter0_equals_kmeans_step(spark, sf_dir):
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.similarity import kmeans_step, kmeans_train_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {
        (r["cell"], r["dim"]): (r["n"], r["mean"])
        for r in kmeans_train_stats(emb, "vec_id", "embedding", 8, iters=0).collect()
    }
    b = {
        (r["cell"], r["dim"]): (r["n"], r["mean"])
        for r in kmeans_step(emb, "vec_id", "embedding", 8).collect()
    }
    assert a == b


def test_kmeans_train_q8_matches_float_path_when_no_ties(spark, sf_dir):
    """The integer-state variant runs the SAME Lloyd recurrence as the
    float path on quantized input — identical output wherever no exact
    assignment tie occurs (this SF has none; the q8 arithmetic exists
    to decide the ties that DO occur at larger SFs identically across
    engines)."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.similarity import (
        kmeans_train_stats,
        kmeans_train_stats_q8,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q8 = {
        (r["cell"], r["dim"]): (r["n"], r["mean"])
        for r in kmeans_train_stats_q8(emb, "vec_id", "embedding", 8, iters=2).collect()
    }
    embq = emb.select(
        "vec_id", F.expr("transform(embedding, x -> floor(x * 8) / 8)").alias("qe")
    )
    fl = {
        (r["cell"], r["dim"]): (r["n"], r["mean"])
        for r in kmeans_train_stats(embq, "vec_id", "qe", 8, iters=2)
        # Spark's HALF_UP round on both sides — Python's round() is
        # banker's and flips exact-half values like -0.0078125
        .select("cell", "dim", "n", F.round("mean", 6).alias("mean"))
        .collect()
    }
    assert q8 == fl


def test_scaled_tagged_cells_two_level_matches_flat(spark, sf_dir):
    """Past the centroid budget the two-level coarse-quantizer path
    must reproduce the flat assignment on the fixture — both at full
    probe coverage (complete candidate set) and at the default probe
    count; below the budget it IS the flat path."""
    df = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 400)
    )
    nc = 90  # ncc = ceil(sqrt(90)) = 10
    cents = ivf.seed_centroids(df, "vec_id", "embedding", nc)
    want = {
        r["id"]: r["cell"]
        for r in ivf.tagged_cells(df, cents, "vec_id", "embedding").collect()
    }
    flat = {
        r["id"]: r["cell"]
        for r in ivf.scaled_tagged_cells(df, "vec_id", "embedding", nc).collect()
    }
    assert flat == want  # below budget: identical code path
    import pytest

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(ivf, "TWO_LEVEL_MIN_CENTROIDS", 1)
        full = {
            r["id"]: r["cell"]
            for r in ivf.scaled_tagged_cells(
                df, "vec_id", "embedding", nc, probes=10
            ).collect()
        }
        dflt = {
            r["id"]: r["cell"]
            for r in ivf.scaled_tagged_cells(
                df, "vec_id", "embedding", nc
            ).collect()
        }
    finally:
        mp.undo()
    assert full == want  # complete probe coverage == flat argmax
    # default probes (8 of 10 coarse cells here) is the standard IVF
    # approximation: deterministic, near-total agreement on the fixture
    assert set(dflt) == set(want)
    agree = sum(dflt[i] == want[i] for i in want)
    assert agree >= 0.9 * len(want)
