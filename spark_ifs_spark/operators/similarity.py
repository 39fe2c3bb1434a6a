"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine is the exactness baseline; the LSH-bucketed variant is
the 100 TB path (candidates only from colliding hyperplane-sign buckets).
Dot products stay JVM-side via ``F.zip_with`` + ``F.aggregate`` — no
Python in the hot loop.
"""

from __future__ import annotations

import math
import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.operators import ivf
from spark_ifs_spark.operators.gates import collect_within


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_array(col: str | Column) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    exclude_ids: Sequence[int] = (),
) -> DataFrame:
    """Top-k rows by cosine similarity to a single query vector:
    ``(id, cos)`` ordered desc, id-asc tie-break.

    The query is embedded as a literal array (broadcast by the plan); the
    scan is one map-side projection + a TakeOrdered — no shuffle of the
    corpus. This is the flagship ANN baseline: exact, one pass.
    """
    qn = math.sqrt(sum(x * x for x in query))
    qarr = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col).alias("id"),
        (_dot(as_double_array(vec_col), qarr) / (_norm(as_double_array(vec_col)) * F.lit(qn))).alias("cos"),
    )
    if exclude_ids:
        scored = scored.filter(~F.col("id").isin(*[int(i) for i in exclude_ids]))
    return scored.orderBy(F.col("cos").desc(), F.col("id").asc()).limit(k)


#: in-core gate of the exact all-pairs kernels, in vectors, read at call
#: time: at or under it the unit-normalized corpus is collected and
#: broadcast; past it the distributed block-matrix plan runs, in blocks
#: of at most a quarter of it (:func:`_num_blocks`).
INCORE_VECTOR_BUDGET = 200_000

#: cells (doubles, 32 MB) of one scored tile of :func:`_emit_pairs`
_TILE_CELLS = 1 << 22

_PAIRS_SCHEMA = "id_a long, id_b long, cos double"


def _emit_pairs(ida, A, idb, B, *, upper: bool, k=None, threshold=None):
    """The one numpy pair emitter of the exact all-pairs kernels:
    ``(id_a, id_b, cos)`` with ``id_a < id_b`` between the unit rows of
    ``A`` (ids ``ida``) and of ``B`` (ids ``idb``).

    ``upper`` says both sides index one corpus, so only cells with
    ``ida < idb`` are pairs; otherwise the sides are disjoint and every
    cell is one, oriented to ``id_a < id_b``. ``A``'s rows are scored in
    tiles of at most ``_TILE_CELLS`` cells (one row at least), so the
    memory is one tile plus the output, whatever the side sizes. With
    ``threshold`` every pair at or above it is emitted; with ``k``, at
    most ``k`` pairs: the best under ``(cos DESC, id_a ASC, id_b ASC)``,
    a superset of this call's share of the global top-k, which the
    caller's merge-limit cuts. NaN cosines (zero vectors) are never
    emitted.
    """
    import numpy as np
    import pandas as pd

    floor = -np.inf if threshold is None else threshold
    rows = max(1, _TILE_CELLS // max(len(idb), 1))
    xa, xb, cs = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for lo in range(0, len(ida), rows):
        S = A[lo : lo + rows] @ B.T
        keep = S >= floor
        if upper:
            keep &= ida[lo : lo + rows, None] < idb
        if k is not None and 0 < k < np.count_nonzero(keep):
            best = S[keep]
            best.partition(best.size - k)
            keep &= S >= best[best.size - k]
        r, c = np.nonzero(keep)
        a, b = ida[lo + r], idb[c]
        xa.append(np.minimum(a, b))
        xb.append(np.maximum(a, b))
        cs.append(S[r, c])
        if k is not None:
            xa, xb, cs = (np.concatenate(x) for x in (xa, xb, cs))
            top = np.lexsort((xb, xa, -cs))[:k]
            xa, xb, cs = [xa[top]], [xb[top]], [cs[top]]
    return pd.DataFrame(
        {"id_a": np.concatenate(xa), "id_b": np.concatenate(xb), "cos": np.concatenate(cs)}
    )


def _num_blocks(df: DataFrame) -> int:
    """The block count of the distributed plan: ``max(2, ceil(n /
    (INCORE_VECTOR_BUDGET // 4)))``."""
    return max(2, -(-df.count() // max(INCORE_VECTOR_BUDGET // 4, 1)))


def _gemm_pairs_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Shared all-pairs cosine kernel: **broadcast-matrix block multiply**.

    At or under :data:`INCORE_VECTOR_BUDGET` vectors (one
    :func:`~spark_ifs_spark.operators.gates.collect_within` job decides
    and fetches), the normalized corpus matrix is broadcast once; each
    Arrow batch of row indices scores its rows against it with numpy
    (BLAS) through :func:`_emit_pairs` and emits its top-``k`` pairs or
    every pair ≥ ``threshold``. This beats the naive self-join by orders
    of magnitude — Catalyst's higher-order array lambdas are interpreted
    per element, a GEMM is vectorized — at identical full precision.

    Past the budget the kernel falls back to
    :func:`_blocked_pairs_kernel` — the fully distributed triangular
    block-matrix plan with the same exact output, :func:`_num_blocks`
    blocks — instead of collecting an unbounded corpus to the driver.
    """
    import numpy as np

    rows = collect_within(
        df.select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")),
        INCORE_VECTOR_BUDGET,
    )
    if rows is None:
        return _blocked_pairs_kernel(
            df, id_col, vec_col, _num_blocks(df), k=k, threshold=threshold
        )
    rows.sort(key=lambda r: r["id"])
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    M = np.array([r["v"] for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sc = df.sparkSession.sparkContext
    b_ids = sc.broadcast(ids)
    b_m = sc.broadcast(Mn)

    def _block(batches):
        for pdf in batches:
            idx = pdf["idx"].to_numpy()
            if len(idx) == 0:
                continue
            yield _emit_pairs(
                b_ids.value[idx], b_m.value[idx], b_ids.value, b_m.value,
                upper=True, k=k, threshold=threshold,
            )

    blocks = df.sparkSession.range(len(ids)).select(F.col("id").alias("idx"))
    return blocks.mapInPandas(_block, _PAIRS_SCHEMA)


def _blocked_pairs_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_blocks: int,
    k: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Distributed exact all-pairs cosine: **triangular block-matrix GEMM**.

    The corpus is hash-partitioned into ``B = num_blocks`` row blocks;
    every unordered block pair ``(i ≤ j)`` becomes one task group that
    scores block i against block j through :func:`_emit_pairs` and
    emits pairs ≥ ``threshold`` (or its group-local top-``k``; a global
    top-k pair is necessarily in its own group's top-k, so a final
    merge-limit is exact). Every vector pair is scored in exactly ONE
    group — the plan is recall-COMPLETE, unlike LSH/IVF gating, so it is
    graded against the same exact SQL oracle as the broadcast kernel.

    Scale shape: no driver collect, no full-matrix broadcast. Each row
    is replicated to its B group keys (shuffle volume n×B rows); each
    task holds two blocks of ~n/B vectors plus one score tile — bounded
    executor memory at any corpus size by raising ``num_blocks``. The
    B(B+1)/2 groups are the irreducible cost of an EXACT all-pairs
    query; for approximate near-dup at extreme scale, gate with
    :func:`hyperplane_lsh_buckets` or the ``ivf`` cells instead (trade
    recall for replication 1).
    """
    import numpy as np
    import pandas as pd

    B = int(num_blocks)
    rep = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            as_double_array(vec_col).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("bid"),
        )
        .select(
            "id", "v", "bid",
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("o"),
        )
        .select(
            F.least("bid", "o").alias("gi"),
            F.greatest("bid", "o").alias("gj"),
            "id", "v", "bid",
        )
    )

    def _gemm_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[0]), int(key[1])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        if gi == gj:
            order = np.argsort(ids, kind="stable")
            ids, Vn = ids[order], Vn[order]
            return _emit_pairs(ids, Vn, ids, Vn, upper=True, k=k, threshold=threshold)
        ma = pdf["bid"].to_numpy() == gi
        return _emit_pairs(
            ids[ma], Vn[ma], ids[~ma], Vn[~ma], upper=False, k=k, threshold=threshold
        )

    return rep.groupBy("gi", "gj").applyInPandas(_gemm_group, _PAIRS_SCHEMA)


def cosine_threshold_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact embedding near-dup pairs at any corpus size:
    ``(id_a, id_b, cos)`` for every a<b with cosine ≥ threshold, via the
    distributed :func:`_blocked_pairs_kernel` (no driver collect, no
    in-core gate). ``num_blocks`` defaults to :func:`_num_blocks`.
    """
    return _blocked_pairs_kernel(
        df, id_col, vec_col, num_blocks or _num_blocks(df), threshold=float(threshold)
    )


def cosine_top_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 20,
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact global top-k most-similar pairs at any corpus size:
    group-local top-k from :func:`_blocked_pairs_kernel`, then a global
    merge-limit (exact — see kernel docstring)."""
    pairs = _blocked_pairs_kernel(df, id_col, vec_col, num_blocks or _num_blocks(df), k=k)
    return pairs.orderBy(
        F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


def cosine_top_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 20,
) -> DataFrame:
    """Top-k most-similar pairs (a<b) by cosine: ``(id_a, id_b, cos)``.
    Per-batch local top-k via :func:`_gemm_pairs_kernel`, then a global
    top-k merge."""
    pairs = _gemm_pairs_kernel(df, id_col, vec_col, k=k)
    return pairs.orderBy(
        F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


def cosine_threshold_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, cos)`` for
    every a<b with cosine ≥ threshold — the fifth dedup modality
    (exact/minhash/simhash/jaccard being the text-side four).

    Emission is sparse at dedup-grade thresholds even though comparison
    is all-pairs (:func:`_gemm_pairs_kernel`; see its docstring for the
    in-core gate and the distributed fallback).
    """
    return _gemm_pairs_kernel(df, id_col, vec_col, threshold=float(threshold))


def knn_label_accuracy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """``(label, n_vecs, n_correct, acc_ppm)`` — leave-one-out k-NN
    classification accuracy of the embedding space against a label
    column, per true label: each vector is classified by the majority
    label of its ``k`` exact nearest neighbors (cosine, self excluded).
    The standard probe for "does this embedding actually separate my
    classes" — run it before trusting the space for semantic dedup,
    hard-negative mining or retrieval.

    Determinism: neighbors rank on ``round(cos, 6)`` with the neighbor
    id as tie-break; vote ties resolve to the smallest label — the
    engine-portable float-ranking convention throughout this package.

    Scale: this is the EXACT evaluation (all-pairs through the
    broadcast/blocked GEMM kernels, like the recall audits) — an audit
    tool you run on a sample, not the per-query serving path; at corpus
    scale swap the neighbor stage for the IVF/PQ ANN operators and keep
    the voting tail unchanged.
    """
    from spark_ifs_spark.operators.topk import topk_per_key

    pairs = _gemm_pairs_kernel(df, id_col, vec_col, threshold=-1.01)
    # symmetrize by exploding both directions off ONE subtree: the
    # fwd/rev unionByName spelling plans the all-pairs GEMM twice, and
    # the duplicated branch is a MapInPandas stage AQE exchange reuse
    # cannot dedup (it fires on Exchange nodes, not Python stages) — so
    # the corpus GEMM ran twice per query (dedup_containment's f67e36a
    # restructure applied here). Identical row multiset.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id"), F.col("id_b").alias("nb")
                ),
                F.struct(
                    F.col("id_b").alias("id"), F.col("id_a").alias("nb")
                ),
            )
        ).alias("_d"),
        "cos",
    ).select(
        F.col("_d.id").alias("id"), F.col("_d.nb").alias("nb"), "cos"
    ).withColumn("cos_r", F.round("cos", 6))
    knn = topk_per_key(sym, ["id"], "cos_r", k, tiebreak_cols=["nb"])
    labels = df.select(F.col(id_col).alias("_lid"), F.col(label_col).alias("_lbl"))
    votes = (
        knn.join(labels, knn["nb"] == labels["_lid"])
        .groupBy("id", F.col("_lbl").alias("_nb_label"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    pred = topk_per_key(votes, ["id"], "_c", 1, tiebreak_cols=["_nb_label"]).select(
        "id", F.col("_nb_label").alias("_pred")
    )
    own = df.select(F.col(id_col).alias("id"), F.col(label_col).alias("label"))
    return (
        own.join(pred, "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("_pred") == F.col("label")).cast("long")).alias("n_correct"),
        )
        .withColumn(
            "acc_ppm",
            F.floor(
                F.col("n_correct").cast("double")
                * F.lit(1000000.0)
                / F.col("n_vecs").cast("double")
            ).cast("long"),
        )
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """``(id, bucket)`` — sign-of-projection LSH over random hyperplanes.

    Vectors with high cosine land in the same bucket with probability
    ``(1 − θ/π)^num_planes``. The scale path for ANN: bucket (one
    map-side pass), then exact cosine only within buckets. Hyperplanes
    are seeded literals — no fitting, reproducible across engines.
    """
    rng = random.Random(seed)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]
    v = as_double_array(vec_col)
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        parr = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(v, parr) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + F.shiftleft(bit, j)
    return df.select(F.col(id_col).alias("id"), bucket.alias("bucket"))


def cosine_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.4,
    num_planes: int = 6,
    num_tables: int = 32,
    seed: int = 2024,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs: ``(id_a, id_b, cos)`` with
    exact cosine ≥ threshold, candidates only from hyperplane-LSH bucket
    collisions — :func:`dedup.minhash_lsh_pairs`'s shape transplanted to
    embeddings. This replaces the O(n²)-compute blocked GEMM
    (:func:`cosine_threshold_pairs_blocked`) as the 100 TB embedding-
    dedup path.

    Plan: ONE Arrow pass computes every vector's L bucket codes and
    emits ``(id, tbl, bucket, unit-vector)`` — L rows per vector — then
    an ``applyInPandas`` over (tbl, bucket) groups GEMMs each bucket's
    members against themselves (BLAS) and emits only in-bucket pairs
    with cosine ≥ threshold; a final first()-per-pair collapse dedupes
    pairs that collide in several tables. Shuffle volume is L × corpus
    (signature rows), NEVER per-pair: the earlier candidate-join
    formulation shuffled two full vectors per candidate pair, which at
    10× sf0.1 was 600 MB and 25× slower. Exact cosine, vectorized; no
    all-pairs structure anywhere (plan-asserted).

    Approximate in candidate generation (recall < 1 by design; audit
    with the blocked kernel as ground truth — see the
    ``dedup_embedding_lsh_recall`` registry query), exact in
    verification: every emitted cosine is the true cosine.

    Defaults (P=6, L=32, seed=2024) are generic; the registry query
    uses P=6, L=40, seed=31337, tuned for this repo's synthetic
    embeddings, whose planted near-dups sit at cosine 0.40–0.51 — a
    regime where sign-LSH discriminates weakly (collision prob at
    θ≈65° is only ≈0.63 per bit), so recall ≥ 0.9 costs generous
    OR-amplification and prunes only ~2.4× of the pair space. At
    production dedup thresholds (cosine ≥ 0.9) the same s-curve with
    P=8–12 prunes by orders of magnitude; parameters are the knob, the
    plan shape is identical.

    ``max_bucket`` (optional) drops over-full (tbl, bucket) groups
    before the GEMM — the skew guard for adversarial corpora where one
    giant near-dup cluster floods a bucket with a k² pair blow-up.
    Dropped buckets lose those candidates (recall, not correctness,
    degrades; other tables may still catch the pair), mirroring the
    ``max_df`` stop-shingle policy of ``ngram_jaccard_pairs``.
    
    Pick ``num_planes``/``num_tables`` for a target recall and candidate
    budget with
    :func:`~spark_ifs_spark.functions.hashing.plan_hyperplane_lsh`.
    """
    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(num_planes * num_tables)
    ]
    thr = float(threshold)

    def _sig(batches):
        P = np.array(planes, dtype=np.float64)  # (L*p, dim)
        w = 1 << np.arange(num_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf["id_v"]]
            )
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = (V @ P.T) >= 0  # (n, L*p)
            codes = S.reshape(len(pdf), num_tables, num_planes) @ w  # (n, L)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), num_tables),
                    "tbl": np.tile(
                        np.arange(num_tables, dtype=np.int32), n
                    ),
                    "bucket": codes.reshape(-1),
                    "u": [
                        row for row in Vn.tolist() for _ in range(num_tables)
                    ],
                }
            )

    src = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("id_v")
    )
    sig = src.mapInPandas(
        _sig, "id long, tbl int, bucket long, u array<double>"
    )

    def _bucket_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        if max_bucket is not None and len(pdf) > int(max_bucket):
            order = order[:0]  # skew guard: score no row of an over-full bucket
        ids = pdf["id"].to_numpy(dtype=np.int64)[order]
        U = np.array(pdf["u"].tolist(), dtype=np.float64)[order]
        return _emit_pairs(ids, U, ids, U, upper=True, threshold=thr)

    pairs = sig.groupBy("tbl", "bucket").applyInPandas(_bucket_pairs, _PAIRS_SCHEMA)
    # a pair colliding in several tables is emitted once per collision;
    # the dots are bitwise-identical (same unit vectors, same kernel),
    # so first() per pair is exact
    return pairs.groupBy("id_a", "id_b").agg(F.first("cos").alias("cos"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int = 6,
    num_tables: int = 32,
    seed: int = 2024,
) -> DataFrame:
    """Distinct colliding ``(id_a < id_b)`` pairs from the hyperplane-LSH
    bucket gate — the candidate set :func:`cosine_lsh_pairs` verifies,
    WITHOUT the cosine verify. Exposed for pruning audits: at production
    thresholds (cosine ≥ 0.9, P≈10) ``count(candidates)`` should sit
    orders of magnitude below ``n·(n−1)/2``, and that ratio is the whole
    100 TB argument for the LSH path. Same seeded planes, same one-pass
    Arrow signature computation as :func:`cosine_lsh_pairs`; shuffle is
    L rows per vector, per-bucket emission is ids only (no vectors).
    """
    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(num_planes * num_tables)
    ]

    def _sig(batches):
        P = np.array(planes, dtype=np.float64)
        w = 1 << np.arange(num_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["id_v"]])
            codes = ((V @ P.T) >= 0).reshape(len(pdf), num_tables, num_planes) @ w
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), num_tables),
                    "tbl": np.tile(np.arange(num_tables, dtype=np.int32), len(pdf)),
                    "bucket": codes.reshape(-1),
                }
            )

    src = df.select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("id_v"))
    sig = src.mapInPandas(_sig, "id long, tbl int, bucket long")

    # pair emission is a JVM-side self-join on the bucket key, NOT an
    # applyInPandas: at production plane counts buckets are tiny (mean
    # occupancy ~2), so the census is ~10k groups and per-group pandas
    # overhead dominated (measured 16 s for a 33k-pair census at sf0.1;
    # the join form is 1.5 s). The quadratic in-bucket emission is
    # intrinsic either way — the join just keeps it in codegen.
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ivf_centroids_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Lloyd-trained IVF centroids: start from the deterministic seed
    centroids (:func:`~spark_ifs_spark.operators.ivf.seed_centroids`)
    and run ``iters`` k-means
    iterations, each being exactly the :func:`kmeans_step` plan — one
    corpus scan with map-side cell assignment + one hash aggregate of
    ``num_centroids × dims`` cells. The driver holds only the ``k × d``
    centroid table between iterations (same driver-state contract as
    ``power_iteration``); cells that come up empty keep their previous
    centroid, the standard Lloyd convention. Deterministic end to end —
    seed centroids are lowest-id vectors and the update is an exact
    mean — so trained-IVF results are engine-reproducible too.

    Better cell balance and recall than the raw seed centroids (pinned
    by ``test_similarity.py::test_ivf_kmeans_improves_recall``); use
    with ``cosine_topk_ivf(..., centroids=...)``.
    """
    cents = ivf.seed_centroids(df, id_col, vec_col, num_centroids)
    dims = len(cents[0][1]) if cents else 0
    for _ in range(iters):
        tagged = ivf.tagged_cells(df, cents, id_col, vec_col).select("cell", "v")
        rows = (
            tagged.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("mean"))
            .collect()  # k × d rows — bounded, corpus-size-independent
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = float(r["mean"])
        cents = [
            (cid, [by_cell[cid][d] for d in range(dims)])
            if cid in by_cell
            else (cid, cvec)
            for cid, cvec in cents
        ]
    return cents


def kmeans_train_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """``(cell, dim, n, mean)`` — the CONVERGED k-means clustering:
    run ``iters`` Lloyd iterations (:func:`ivf_centroids_kmeans`, the
    trained-centroid producer behind SemDeDup cells and trained IVF)
    and report the final assignment's per-cell populations and centroid
    coordinates. :func:`kmeans_step` is this with ``iters=0``.

    Plan per iteration (and for the final stats pass): one corpus scan
    with the map-side cell-assignment projection + ONE hash aggregate
    of ``num_centroids × dims`` cells; the driver holds only the
    ``k × d`` centroid table between iterations. Total cost is
    ``iters + 1`` bounded scan+aggregate passes — the 100 TB contract
    for Lloyd training. Deterministic end to end (lowest-id seeds,
    exact means, empty cells keep their previous centroid), so with
    quantized inputs the whole trained trajectory is engine-exact.
    """
    cents = ivf_centroids_kmeans(df, id_col, vec_col, num_centroids, iters)
    assigned = ivf.tagged_cells(df, cents, id_col, vec_col).select(
        "cell", F.posexplode("v").alias("dim", "x")
    )
    return assigned.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).alias("n"), F.avg("x").alias("mean")
    )


def kmeans_train_stats_q8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    iters: int = 2,
) -> DataFrame:
    """``(cell, dim, n, mean)`` — ENGINE-EXACT converged k-means over
    1/8-quantized vectors, the gated variant of
    :func:`kmeans_train_stats`.

    Why a separate arithmetic: the float path scores cells as
    ``dot(v, c/|c|)`` while a relational twin computes
    ``dot(v, c) / (|v||c|)`` — mathematically the same argmax, but on a
    MATHEMATICALLY EXACT tie (which symmetric synthetic data does
    produce at scale) the two spellings round differently and the
    tie-break diverges. Here the Lloyd state is INTEGER: each cell
    carries its members' summed ``floor(x*8)`` vector ``S`` and count
    ``n`` (the mean's direction is ``S`` — the ``1/(8n)`` factor
    cancels out of the cosine argmax), and the assignment score is
    ``int_dot(v8, S) / sqrt(int_ssq(S))`` — an exact int64 dot divided
    by the correctly-rounded sqrt of an exact int64: every engine
    computes the identical double, ties are exact on both sides, and
    the shared ``cid``-ascending tie-break decides them identically.
    Reported means are ``round(S / (8.0 · n), 6)`` — same two exact
    operands everywhere.

    Plan shape per iteration (and final stats pass): one scan with the
    map-side ``ivf.INT`` numpy argmax + ONE ``k × d``-bounded
    integer-sum hash aggregate; driver holds only the integer centroid
    table.
    Exact at any corpus size while ``|S| · 8·max|x| · d < 2^53``
    (petascale headroom for unit-norm embeddings).
    """
    v8 = F.expr(
        f"transform({vec_col}, x -> CAST(floor(x * 8) AS BIGINT))"
    )
    src = df.select(F.col(id_col).alias("id"), v8.alias("v8"))
    # state: cid -> (S vector of int64, n)
    state: dict[int, tuple[list[int], int]] = {
        cid: (s, 1)
        for cid, s in ivf.seed_centroids(src, "id", "v8", num_centroids, ivf.INT)
    }

    def assigned() -> DataFrame:
        # The numpy rung directly, not the ladder: the literal rung
        # would build a fresh k x d expression tree per iteration and pay
        # analysis + janino codegen every Lloyd round — ~2 s/round of
        # pure driver overhead at any data size. The INTEGER state makes
        # the GEMM bit-exact, so it decides exactly as the literal rung.
        # Only v8 crosses the Arrow boundary (opaque functions defeat
        # column pruning — select first).
        cents = [(cid, s) for cid, (s, _) in state.items()]
        tagged = ivf.assign_np(src.select("v8"), cents, "v8", ivf.INT)
        return tagged.select(
            F.col("cell").cast("int").alias("cell"),
            F.posexplode("v8").alias("dim", "x"),
        )

    dims = len(state[min(state)][0]) if state else 0
    for _ in range(iters):
        agg = (
            assigned()
            .groupBy("cell", "dim")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
            .collect()  # k × d integer rows — bounded
        )
        by_cell: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
        for r in agg:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = int(r["s"])
            counts[int(r["cell"])] = int(r["n"])
        state = {
            cid: (
                ([by_cell[cid][d] for d in range(dims)], counts[cid])
                if cid in by_cell
                else state[cid]  # empty cell keeps its previous state
            )
            for cid in state
        }
    final = (
        assigned()
        .groupBy("cell", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    )
    return final.select(
        "cell",
        "dim",
        "n",
        F.round(F.col("s").cast("double") / (8.0 * F.col("n")), 6).alias("mean"),
    )


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    num_centroids: int = 16,
    n_probe: int = 4,
    exclude_ids: Sequence[int] = (),
    centroids: Sequence[tuple[int, Sequence[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF probing: keep only rows whose inline
    cell assignment falls in the ``n_probe`` cells nearest the query,
    exact cosine within them — ONE scan of the corpus, no join (over a
    cell-partitioned corpus from ``write_ivf_corpus`` the same filter
    partition-prunes instead). Same output schema as
    :func:`cosine_topk`. Pass ``centroids`` (e.g. from
    :func:`ivf_centroids_kmeans`) to probe trained cells; the default
    stays the deterministic seed centroids the DuckDB oracle embeds."""
    cents = (
        [(int(c), [float(x) for x in v]) for c, v in centroids]
        if centroids is not None
        else ivf.seed_centroids(df, id_col, vec_col, num_centroids)
    )
    candidates = _probed(df, vec_col, cents, query, n_probe)
    return cosine_topk(candidates, id_col, vec_col, query, k, exclude_ids)


def _probed(
    df: DataFrame,
    vec_col: str,
    cents: Sequence[tuple[int, Sequence[float]]],
    query: Sequence[float],
    n_probe: int,
) -> DataFrame:
    """The rows of ``df`` whose cell is one of the ``n_probe`` cells
    nearest ``query`` — the IVF gate of :func:`cosine_topk_ivf` and
    :func:`topk_ivfpq`."""
    probe_ids = ivf.rank_probes(cents, query, n_probe)
    tagged = ivf.with_cells(df, cents, vec_col)
    return tagged.filter(F.col("cell").isin(*probe_ids)).drop("cell")


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    exclude_ids: Sequence[int] = (),
) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's LSH bucket,
    then exact cosine. Same output schema as :func:`cosine_topk`. The
    hyperplanes are seeded Python float literals, so the DuckDB oracle
    embeds the identical planes (``sql_ann_topk_lsh``) and replicates
    the bucket gate exactly."""
    dim = len(query)
    rng = random.Random(seed)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]
    qbucket = 0
    for j, plane in enumerate(planes):
        if sum(p * q for p, q in zip(plane, query)) >= 0:
            qbucket |= 1 << j
    buckets = hyperplane_lsh_buckets(df, id_col, vec_col, dim, num_planes, seed)
    in_bucket = buckets.filter(F.col("bucket") == qbucket).select("id")
    candidates = df.join(
        F.broadcast(in_bucket), df[id_col] == in_bucket["id"], "leftsemi"
    )
    return cosine_topk(candidates, id_col, vec_col, query, k, exclude_ids)


def gram_matrix(df: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """Upper-triangle Gram matrix ``(i, j, g)`` with ``g = Σ_rows
    x_i · x_j`` — the X^T X reduction under PCA / least squares /
    whitening of an embedding corpus.

    Scale shape: each partition folds its rows into a local ``d × d``
    numpy Gram inside ONE Arrow pass (BLAS ``X.T @ X``, never
    materializing per-row outer products), then emits ``d(d+1)/2``
    partial cells; the only shuffle carries ``partitions × d²`` floats
    — independent of corpus size — into a final cardinality-bounded
    aggregate. Compare the naive ``posexplode × posexplode`` form,
    which shuffles ``rows × d²`` cells.

    Float caveat: partial sums combine in partition order, so the last
    bits can differ run-to-run on real-valued input; quantized inputs
    (e.g. ``floor(x·8)/8``, exact in IEEE-754) make the result
    bit-stable across engines — the registry query does exactly that.
    """
    import numpy as np
    import pandas as pd

    upper = np.triu(np.ones((dims, dims), dtype=bool))
    iu_i, iu_j = (a.astype("int32") for a in np.nonzero(upper))

    def fold(batches):
        acc = np.zeros((dims, dims))
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(float)
            if x.shape[1] != dims:
                raise ValueError(f"expected dim {dims}, got {x.shape[1]}")
            acc += x.T @ x
            seen = True
        if seen:
            yield pd.DataFrame({"i": iu_i, "j": iu_j, "g": acc[iu_i, iu_j]})

    partials = df.select(as_double_array(vec_col).alias(vec_col)).mapInPandas(
        fold, "i int, j int, g double"
    )
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def effective_dim(
    df: DataFrame,
    vec_col: str,
    dims: int,
    quant_inv: int = 64,
) -> DataFrame:
    """One row ``(n, trace_q, pr, pr_frac)`` — the participation ratio
    ``PR = tr(C)² / tr(C²)`` of the embedding covariance ``C``: the
    "effective dimensionality" of the corpus in embedding space
    (``PR = d`` for isotropic embeddings, ``PR → 1`` under anisotropic
    collapse — the standard one-number health check before trusting
    cosine similarity / ANN over a learned embedding column).

    No eigendecomposition: ``tr(C) = Σ λ_i`` and ``tr(C²) = Σ λ_i² =
    ‖C‖_F²`` come straight from the Gram matrix and the per-dimension
    sums. With ``C = M / n²`` for ``M = n·G − s·sᵀ``, the ``n`` powers
    cancel in the ratio, so PR is computed entirely from ``M``.

    Determinism contract: for inputs on a dyadic grid (the registry
    quantizes to 1/8), every ``M`` entry is an exact multiple of
    ``1/quant_inv``; ``M·quant_inv`` is therefore an exact integer, and
    both reductions (trace; Frobenius with off-diagonals doubled) run
    in integer/decimal arithmetic — order-invariant on both engines.
    ``trace_q = tr(M)·quant_inv`` is emitted as the exact-integer
    witness; ``pr`` is the closed-form double of the two exact sums.

    Scale shape: one Arrow-BLAS Gram pass
    (:func:`gram_matrix` — shuffle is ``partitions × d²``, corpus-size
    independent) + one ``d``-cell sums aggregate + the d²-row closed
    form. Nothing here grows with the corpus but the two scans.
    """
    g = gram_matrix(df, vec_col, dims)
    exploded = df.select(F.posexplode(as_double_array(vec_col)).alias("d", "x"))
    # every vector emits one row per dimension, so any dimension's row
    # count IS the corpus count — no third scan for n
    s = exploded.groupBy("d").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    si = s.select(F.col("d").alias("i"), F.col("s").alias("s_i"), "n")
    sj = s.select(F.col("d").alias("j"), F.col("s").alias("s_j"))
    m = (
        g.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            "n",
            F.round(
                (F.col("n") * F.col("g") - F.col("s_i") * F.col("s_j"))
                * F.lit(float(quant_inv))
            )
            .cast("decimal(18,0)")
            .alias("mi"),
        )
    )
    sq = (F.col("mi") * F.col("mi")).cast("decimal(37,0)")
    zero = F.lit(0).cast("decimal(37,0)")
    agg = m.groupBy("n").agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("mi"))).alias("tr"),
        # Frobenius over the upper triangle: diagonal once, off-diagonal
        # twice — split into two decimal sums so no product ever needs
        # precision past 37 digits
        (F.sum(sq) + F.sum(F.when(F.col("i") != F.col("j"), sq).otherwise(zero))).alias(
            "q2"
        ),
    )
    tr_d = F.col("tr").cast("double")
    q2_d = F.col("q2").cast("double")
    pr = tr_d * tr_d / q2_d
    return agg.select(
        "n",
        F.col("tr").cast("long").alias("trace_q"),
        F.round(pr, 6).alias("pr"),
        F.round(pr / F.lit(float(dims)), 6).alias("pr_frac"),
    )


def power_iteration_step(
    df: DataFrame, vec_col: str, dims: int, v0: Sequence[float]
) -> DataFrame:
    """One power-iteration step for corpus PCA: ``(dim, y)`` with
    ``y = X^T (X v)`` — WITHOUT materializing the d×d Gram matrix.

    Each partition computes its partial ``Σ x (x·v)`` in one BLAS pass
    over an Arrow batch (a length-``d`` vector, not a d×d block), so the
    shuffle carries ``partitions × d`` floats into one final ``dim``-keyed
    aggregate — corpus-size-independent, the same contract as
    :func:`gram_matrix` but O(d) instead of O(d²) per partition.
    Iterating = renormalizing ``y`` on the driver (length-``d``, trivially
    bounded) and re-running; convergence gives the top eigenvector of
    X^T X. ``v0`` is embedded as a literal — no broadcast round-trip.
    """
    import numpy as np
    import pandas as pd

    v = np.asarray(list(v0), dtype=float)
    if v.shape != (dims,):
        raise ValueError(f"v0 must have length {dims}")

    def fold(batches):
        acc = np.zeros(dims)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(float)
            acc += x.T @ (x @ v)
            seen = True
        if seen:
            yield pd.DataFrame(
                {"dim": np.arange(dims, dtype="int32"), "y": acc}
            )

    partials = df.select(as_double_array(vec_col).alias(vec_col)).mapInPandas(
        fold, "dim int, y double"
    )
    return partials.groupBy("dim").agg(F.sum("y").alias("y"))


def power_iteration(
    df: DataFrame,
    vec_col: str,
    dims: int,
    v0: Sequence[float] | None = None,
    iters: int = 8,
    normalize: bool = True,
) -> list[float]:
    """Dominant eigenvector direction of ``X^T X`` (top principal
    component of the embedding corpus) by iterating
    :func:`power_iteration_step`.

    The driver holds only the length-``d`` iterate between steps
    (metadata scale — the corpus never leaves the executors); each step
    is one Arrow pass whose shuffle carries ``partitions × d`` floats.
    ``normalize=True`` rescales to unit L2 after every step (the form
    you run to convergence). ``normalize=False`` returns the raw
    ``(X^T X)^iters · v0`` — the oracle-checked registry form: with
    quantized dyadic inputs every product and sum stays exact in
    IEEE-754 (no sqrt in the loop), so Spark and DuckDB agree
    bit-for-bit.
    """
    if iters <= 0:
        raise ValueError("iters must be > 0")
    v = [1.0 / dims] * dims if v0 is None else list(v0)
    for _ in range(iters):
        y = [0.0] * dims
        for r in power_iteration_step(df, vec_col, dims, v).collect():
            y[r["dim"]] = float(r["y"])
        if normalize:
            n = math.sqrt(sum(x * x for x in y)) or 1.0
            y = [x / n for x in y]
        v = y
    return v


def kmeans_step(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
) -> DataFrame:
    """One Lloyd iteration over cosine assignment to the deterministic
    seed centroids: ``(cell, dim, n, mean)`` — the updated centroid
    coordinates plus each cell's population.

    The per-iteration plan shape k-means has at any scale: assignment
    is the map-side ``ivf`` projection (no shuffle, no broadcast of
    per-row state), and the centroid update is ONE hash aggregate keyed
    on ``(cell, dim)`` — cardinality ``num_centroids × dims`` regardless
    of corpus size, with partial aggregation combining map-side.
    Iterating = re-running this with the returned means as the next
    centroid literals; each iteration is one scan + one bounded
    shuffle, which is the 100 TB contract. It is
    :func:`kmeans_train_stats` with ``iters=0``.
    """
    return kmeans_train_stats(df, id_col, vec_col, num_centroids, iters=0)


def random_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    out_dims: int = 8,
    seed: int = 7,
    quantize: bool = True,
) -> DataFrame:
    """``(id, k, v)`` — seeded Rademacher (±1) random projection of an
    embedding column down to ``out_dims`` components (Achlioptas 2001:
    sign matrices satisfy the Johnson–Lindenstrauss bound with the same
    distortion constants as Gaussian ones, at integer-arithmetic cost).
    The cheap first stage of embedding-side pipelines — shrink 1024-dim
    vectors before clustering / LSH / near-dup so every downstream pass
    moves ``out_dims`` floats per row instead of ``dim``.

    Plan: pure map-side expression fused into the scan — the sign
    matrix is ``out_dims × dim`` Python literals (seeded, reproducible
    across engines), each output component one ``zip_with``/``aggregate``
    fold. Zero shuffles at any corpus size.

    ``quantize`` snaps inputs to multiples of 1/8 first (the package's
    established cross-engine convention): ±1 weights then make every
    partial sum exact in binary floating point, so results are
    bit-identical regardless of evaluation order or engine — the
    property the value-hash oracle needs. Disable for raw-float
    projections when only geometry matters.
    """
    rng = random.Random(seed)
    signs = [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(out_dims)
    ]
    v = as_double_array(vec_col)
    if quantize:
        v = F.transform(v, lambda x: F.floor(x * 8) / 8)
    comps = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("k"),
                _dot(v, F.array(*[F.lit(s) for s in signs[k]])).alias("v"),
            )
            for k in range(out_dims)
        ]
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(comps).alias("c")
    ).select("id", F.col("c.k").alias("k"), F.col("c.v").alias("v"))


def sq8_params(df: DataFrame, vec_col: str, dims: int) -> list[tuple[float, float]]:
    """Per-dimension ``(min, max)`` over the corpus — the codebook for
    8-bit scalar quantization. One posexplode + ONE dim-keyed min/max
    aggregate: partial aggregation collapses every task to ``dims``
    rows before the (tiny) shuffle, and the driver holds only
    ``O(dims)`` scalars (the same bounded-metadata posture as
    ``ivf.seed_centroids``). The explode-free alternative — ``2·dims``
    separate aggregate expressions — is plan-quadratic (compile cost
    dominated a measured run 50:1) and was replaced by this shape."""
    rows = (
        df.select(F.posexplode(as_double_array(vec_col)).alias("j", "x"))
        .filter(F.col("j") < dims)
        .groupBy("j")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    by_dim = {r["j"]: (float(r["mn"]), float(r["mx"])) for r in rows}
    return [by_dim[j] for j in range(dims)]


def topk_sq8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    params: Sequence[tuple[float, float]] | None = None,
    exclude_ids: Sequence[int] = (),
) -> DataFrame:
    """``(id, dot_q)`` — top-``k`` by INTEGER dot product in 8-bit
    scalar-quantized space: the memory-compression half of a
    quantized-ANN stack (IVF gates candidates, SQ8/PQ shrinks them 4×
    so a 100 TB float32 corpus rescans from a 25 TB code table that
    fits page cache — reranking the shortlist at full precision is the
    standard second stage and composes with :func:`cosine_topk`).

    Exactness: codes are ``floor``-clamped BIGINTs, the query is
    quantized with the identical formula, and the score is an exact
    integer sum of products — no floating accumulation anywhere, so
    Spark and the SQL oracle agree bit-for-bit (ties broken id-asc).

    Plan: the codebook is ``O(dims)`` driver metadata
    (:func:`sq8_params`); scoring is a map-side projection of
    ``dims`` fused multiply-adds inside whole-stage codegen, then ONE
    ``TakeOrdered`` — the corpus is scanned once and never shuffled.
    """
    dims = len(query)
    if params is None:
        params = sq8_params(df, vec_col, dims)
    qc: list[int] = []
    for x, (mn, mx) in zip(query, params):
        if mx == mn:
            qc.append(0)
        else:
            c = math.floor((float(x) - mn) * 255.0 / (mx - mn))
            qc.append(max(0, min(255, c)))
    # one higher-order-function loop over literal codebook arrays — a
    # dims-wide flat sum of least/greatest/floor trees is semantically
    # identical but plan-quadratic (compile cost swamps the scan)
    qc_arr = F.array(*[F.lit(int(w)) for w in qc])
    mn_arr = F.array(*[F.lit(float(mn)) for mn, _ in params])
    mx_arr = F.array(*[F.lit(float(mx)) for _, mx in params])
    vec = as_double_array(vec_col)

    def _step(acc: Column, i: Column) -> Column:
        qw = F.element_at(qc_arr, i + 1).cast("long")
        x = F.element_at(vec, i + 1)
        mn = F.element_at(mn_arr, i + 1)
        mx = F.element_at(mx_arr, i + 1)
        scaled = F.floor((x - mn) * F.lit(255.0) / (mx - mn))
        code = F.least(
            F.lit(255).cast("long"), F.greatest(F.lit(0).cast("long"), scaled)
        )
        # qw = 0 exactly covers constant dims (mx = mn): skip them both
        # to avoid the 0/0 division and because the product is 0 anyway
        return F.when(qw == 0, acc).otherwise(acc + qw * code)

    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        F.lit(0).cast("long"),
        _step,
    )
    scored = df.select(F.col(id_col).alias("id"), score.alias("dot_q"))
    if exclude_ids:
        scored = scored.filter(~F.col("id").isin(*[int(i) for i in exclude_ids]))
    return scored.orderBy(F.col("dot_q").desc(), F.col("id").asc()).limit(k)


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    kcode: int = 16,
    scale: int = 64,
) -> list[list[list[int]]]:
    """Product-quantization codebooks: ``m`` subspaces of ``dim/m``
    dims, each with ``kcode`` codewords = the integer-quantized
    (``floor(x*scale)``) subvectors of the ``kcode`` smallest-id
    vectors. Deterministic seed-codeword choice (the
    ``ivf.seed_centroids`` pattern): no Lloyd fitting, bit-reproducible
    across engines and the SQL oracle; production PQ would k-means
    each subspace, with every downstream plan shape identical.
    Driver state is ``O(m·kcode·dim/m) = O(kcode·dim)`` ints."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rows = (
        df.select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v"))
        .orderBy("id")
        .limit(kcode)
        .collect()
    )
    if len(rows) < kcode:
        raise ValueError(f"corpus has {len(rows)} rows < kcode {kcode}")
    books: list[list[list[int]]] = []
    for j in range(m):
        words = []
        for r in rows:
            words.append(
                [int(math.floor(float(x) * scale)) for x in r["v"][j * sub : (j + 1) * sub]]
            )
        books.append(words)
    return books


def topk_pq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    m: int = 8,
    kcode: int = 16,
    rescore: int = 50,
    scale: int = 64,
    exclude_ids: Sequence[int] = (),
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """``(id, cos)`` — top-``k`` by exact cosine over a PQ-ADC
    shortlist: the third leg of the quantized-ANN stack (IVF gates
    cells, SQ8 compresses scalars, PQ compresses SUBVECTORS — at 100 TB
    the corpus becomes an ``m``-byte-per-vector code table and
    asymmetric-distance scoring is ``m`` table lookups per row).

    Stage 1 (ADC): every vector's subspace codes are assigned map-side
    — per subspace, argmin of the INTEGER L2 distance (quantized
    ``floor(x*scale)`` coords, BIGINT sums — exact, engine-identical,
    ties to the smallest codeword id) over ``kcode`` literal codewords
    — and scored against the query's precomputed per-subspace
    lookup table (integer dot with the chosen codeword). One scan, one
    ``TakeOrdered`` of the ``rescore`` best, no corpus shuffle.

    Stage 2: the shortlist (``rescore`` rows, broadcast) joins back for
    EXACT cosine; final top-``k`` orders by (cos desc, id asc).
    Approximate ≠ unchecked: the SQL oracle replicates codebook
    derivation, integer assignment, ADC, and shortlist exactly.
    """
    dim = len(query)
    sub = dim // m
    if books is None:
        books = pq_codebooks(df, id_col, vec_col, dim, m, kcode, scale)
    # per-subspace query LUT: integer dot of quantized query subvector
    # with each codeword (driver-side, m×kcode ints)
    qint = [int(math.floor(float(x) * scale)) for x in query]
    luts = [
        [
            sum(qint[j * sub + t] * w[t] for t in range(sub))
            for w in books[j]
        ]
        for j in range(m)
    ]
    # ADC scoring in ONE Arrow pass: quantize, per-subspace integer
    # L2 argmin against the codebook (numpy, ties -> first/smallest cid
    # like the SQL row_number), LUT sum. Two expression formulations
    # were profiled and rejected: a flat diff-square tree (m*kcode*sub
    # terms) is compile-bound (~8 s/query in janino), and nested
    # interpreted HOF aggregates are ~20 s/query at 2k rows; the Arrow
    # kernel is milliseconds and keeps identical integer semantics.
    import numpy as np
    import pandas as pd

    B = [np.array(books[j], dtype=np.int64) for j in range(m)]
    L = [np.array(luts[j], dtype=np.int64) for j in range(m)]

    def _adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            X = np.floor(V * scale).astype(np.int64)
            total = np.zeros(len(pdf), dtype=np.int64)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d = ((Xj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                total += L[j][np.argmin(d, axis=1)]
            yield pd.DataFrame(
                {"id": pdf["id"], "v": pdf["v"], "adc": total}
            )

    v = as_double_array(vec_col)
    scored = df.select(
        F.col(id_col).alias("id"), v.alias("v")
    ).mapInPandas(_adc, "id long, v array<double>, adc long")
    if exclude_ids:
        scored = scored.filter(~F.col("id").isin(*[int(i) for i in exclude_ids]))
    shortlist = (
        scored.orderBy(F.col("adc").desc(), F.col("id").asc())
        .limit(int(rescore))
        .select("id", "v")
    )
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    qarr = F.array(*[F.lit(float(x)) for x in query])
    rescored = shortlist.select(
        "id",
        (_dot(F.col("v"), qarr) / (_norm(F.col("v")) * F.lit(qn))).alias("cos"),
    )
    return rescored.orderBy(F.col("cos").desc(), F.col("id").asc()).limit(k)


def _gated_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int | None,
    target_cell_size: int,
    centroids: Sequence[tuple[int, Sequence[float]]] | None,
) -> DataFrame:
    """``(id, cell, v)`` for the cell-gated curation operators: the
    given ``centroids``, else ``num_centroids`` seed cells, else a
    corpus-scaled count — through the ladder that keeps the centroid
    collect bounded."""
    if centroids is not None:
        return ivf.tagged_cells(df, list(centroids), id_col, vec_col)
    k = (
        int(num_centroids)
        if num_centroids is not None
        else ivf.scaled_num_centroids(df.count(), target_cell_size)
    )
    return ivf.scaled_tagged_cells(df, id_col, vec_col, k)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.4,
    num_centroids: int | None = None,
    target_cell_size: int = 128,
    centroids: Sequence[tuple[int, Sequence[float]]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup survivors: ``(id, cell)`` — the
    documents kept after dropping near-identical-in-embedding-space
    neighbors WITHIN each centroid cell (Abbas et al. 2023 recipe:
    cluster, then dedup inside clusters only, so the pair computation
    is corpus/num_centroids²-sized per cell instead of corpus²).

    Drop rule (deterministic, SQL-expressible): drop ``d`` iff some
    ``d'`` with a smaller id shares its cell and ``cos(d, d') ≥
    threshold`` — the keep-lowest-id convention every dedup operator
    here uses. Pessimistic relative to the sequential greedy (a dropped
    doc can still shadow a later one), which only ever drops MORE
    near-duplicates, never fewer — the safe direction for training-data
    hygiene.

    Plan: cell assignment is the map-side ``ivf`` ladder — no shuffle,
    no fitting; within each cell one ``applyInPandas`` GEMM emits
    ≥-threshold pairs (the per-bucket kernel of
    :func:`cosine_lsh_pairs`); survivors are a left-anti join against
    the dropped-id set. Shuffle volume is one (id, cell, vector) row
    per document — never pairs.

    ``num_centroids=None`` (the default) scales the cell count with
    the corpus (:func:`~spark_ifs_spark.operators.ivf.scaled_num_centroids`):
    cell SIZE stays ~
    ``target_cell_size`` as the corpus grows, so the in-cell pair
    compute is linear in n, not quadratic. Pass ``centroids=`` (e.g.
    from :func:`ivf_centroids_kmeans`) to dedup inside trained cells.
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    # one assignment evaluation: survivors join back to THIS relation
    # (re-tagging would evaluate the centroid argmax in a second scan)
    src = _gated_cells(
        df, id_col, vec_col, num_centroids, target_cell_size, centroids
    )
    cells = src.select("id", "cell")

    def _cell_drops(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy(dtype=np.int64)[order]
        V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        U = V / np.linalg.norm(V, axis=1, keepdims=True)
        pairs = _emit_pairs(ids, U, ids, U, upper=True, threshold=thr)
        return pd.DataFrame({"id": np.unique(pairs["id_b"].to_numpy())})

    drops = src.groupBy("cell").applyInPandas(_cell_drops, "id long")
    return cells.join(drops, "id", "left_anti").select("id", "cell")


def topk_ivfpq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    num_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    kcode: int = 16,
    rescore: int = 50,
    scale: int = 64,
    exclude_ids: Sequence[int] = (),
    centroids: Sequence[tuple[int, Sequence[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ: the production 100 TB ANN composition end-to-end — the
    IVF cell gate prunes the scan to ``n_probe`` cells (partition
    pruning over a ``write_ivf_corpus`` layout), PQ-ADC scores only the
    gated rows from ``m`` one-byte codes, and the ``rescore`` shortlist
    is re-ranked at full precision. Codebooks come from the FULL corpus
    (smallest-id donors), not the gated subset, so codes are
    query-independent — the property that lets a real system precompute
    the code table once. Same output schema as :func:`cosine_topk`;
    the oracle replicates gate + assignment + ADC + shortlist exactly.

    ``centroids=`` overrides the seeded IVF cells with pre-trained ones
    (e.g. :func:`ivf_centroids_kmeans`) — gate/probe plan shape is
    identical; only the cell literals change.
    """
    cents = (
        list(centroids)
        if centroids is not None
        else ivf.seed_centroids(df, id_col, vec_col, num_centroids)
    )
    books = pq_codebooks(df, id_col, vec_col, len(query), m, kcode, scale)
    gated = _probed(df, vec_col, cents, query, n_probe)
    return topk_pq(
        gated,
        id_col,
        vec_col,
        query,
        k=k,
        m=m,
        kcode=kcode,
        rescore=rescore,
        scale=scale,
        exclude_ids=exclude_ids,
        books=books,
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    dup_ceiling: float = 0.95,
    num_centroids: int | None = None,
    target_cell_size: int = 128,
    centroids: Sequence[tuple[int, Sequence[float]]] | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training data:
    ``(id, neg_id, cos, rank)`` — per anchor, the ``k`` highest-cosine
    neighbors in its IVF cell whose cosine is BELOW ``dup_ceiling``
    (near-duplicates are positives/leakage, not negatives; the hardest
    *negative* is the most similar non-duplicate).

    Cell-gated by design (the SemDeDup/IVF posture): candidates come
    only from the anchor's own centroid cell, and with the default
    corpus-scaled cell count (``num_centroids=None`` →
    ``ivf.scaled_num_centroids``) cell size stays ~``target_cell_size``
    as the corpus grows, so per-cell GEMM compute is linear in n. The
    shuffle is one (id, cell, vector) row per document. Ranking is on
    ``round(cos, 6)`` with neg-id-asc ties, so both engines order
    identically even at float ulp distance.
    """
    import numpy as np
    import pandas as pd

    src = _gated_cells(
        df, id_col, vec_col, num_centroids, target_cell_size, centroids
    )
    ceil_ = float(dup_ceiling)
    kk = int(k)

    def _cell_negs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id": pd.Series(dtype="int64"),
                "neg_id": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
                "rank": pd.Series(dtype="int32"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        U = V / np.linalg.norm(V, axis=1, keepdims=True)
        C = np.round(U @ U.T, 6)
        # fully vectorized per-cell top-k (a per-row Python loop here is
        # the scale killer: it runs once per corpus row, not per cell).
        # Masked entries sink to -inf; ids ascend, so a stable row-wise
        # argsort on -C gives the neg-id-asc tie-break for free.
        M = np.where((C < ceil_) & ~np.eye(n, dtype=bool), C, -np.inf)
        take = np.minimum(np.isfinite(M).sum(axis=1), kk)
        sel = np.argsort(-M, axis=1, kind="stable")[:, :kk]
        valid = np.arange(kk)[None, :] < take[:, None]
        rows, ranks = np.nonzero(valid)
        cols = sel[rows, ranks]
        return pd.DataFrame(
            {
                "id": ids[rows],
                "neg_id": ids[cols],
                "cos": M[rows, cols],
                "rank": (ranks + 1).astype(np.int32),
            }
        )

    return src.groupBy("cell").applyInPandas(
        _cell_negs, "id long, neg_id long, cos double, rank int"
    )


def grouped_centroid_cosine(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    scale: int = 8,
) -> DataFrame:
    """``(key_a, key_b, n_a, n_b, cos)`` — pairwise cosine similarity
    between per-group embedding CENTROIDS (the source-vs-source /
    domain-vs-domain semantic-proximity matrix a mixture designer reads
    before reweighting: near-duplicate sources are mix-redundant).

    Integer-state determinism (the ``kmeans_train`` contract): each
    component is quantized ``floor(x·scale)`` (scale a power of two —
    the float→double promotion and the multiply are both exact), groups
    carry exact int64 sum-vectors, and cosine is computed from integer
    dot/ssq via IEEE-exact ``sqrt``/division — bit-identical across
    engines, and cosine is scale-invariant so the un-normalized sum
    vector IS the centroid direction. Exact while
    ``(n_group · scale·max|x|)² · d < 2^53`` (the dot/ssq SUMS are the
    binding terms, not the per-dim sums — at d=64, scale=8, |x|≤1 that
    is n_group ≲ 4×10⁶ docs per group; past it, pre-scale the sums or
    widen to decimal).

    Plan: one scan exploding to ``(key, dim, q)``, a (key × d)-bounded
    partial-aggregating sum, then all pair math on the keys×d relation
    — corpus rows never shuffle, and the pair join is keys²·d-bounded
    by construction.
    """
    q = df.select(
        F.col(key_col).alias("key"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    s = q.groupBy("key", "dim").agg(
        F.sum(F.floor(F.col("x").cast("double") * scale).cast("long")).alias("s")
    )
    nrm = s.groupBy("key").agg(F.sum(F.col("s") * F.col("s")).alias("ssq"))
    cnt = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("n"))
    a = s.select(F.col("key").alias("key_a"), "dim", F.col("s").alias("sa"))
    b = s.select(F.col("key").alias("key_b"), "dim", F.col("s").alias("sb"))
    dot = (
        a.join(b, "dim")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = F.broadcast(nrm.select(F.col("key").alias("key_a"), F.col("ssq").alias("ssq_a")))
    nb = F.broadcast(nrm.select(F.col("key").alias("key_b"), F.col("ssq").alias("ssq_b")))
    ca = F.broadcast(cnt.select(F.col("key").alias("key_a"), F.col("n").alias("n_a")))
    cb = F.broadcast(cnt.select(F.col("key").alias("key_b"), F.col("n").alias("n_b")))
    cos = F.when(
        (F.col("ssq_a") == 0) | (F.col("ssq_b") == 0), F.lit(0.0)
    ).otherwise(
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("ssq_a").cast("double"))
                * F.sqrt(F.col("ssq_b").cast("double"))
            ),
            6,
        )
    )
    return (
        dot.join(na, "key_a").join(nb, "key_b").join(ca, "key_a").join(cb, "key_b")
        .select("key_a", "key_b", "n_a", "n_b", cos.alias("cos"))
    )
