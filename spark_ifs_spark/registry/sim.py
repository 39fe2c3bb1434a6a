"""Embedding similarity/ANN/linear-algebra queries."""

from spark_ifs_spark.registry._common import *  # noqa: F401,F403
from spark_ifs_spark.registry._common import (  # noqa: F401
    _BENFORD_PPM,
    _PROFILE_SKETCH_COLS,
    _SQL_SHINGLES,
    _SQL_WORDS,
    _lr_features,
    _quantized_wide,
    _read,
    _sql_bpe_round,
    _sql_count_word,
    _sql_emb_long,
    _sql_emb_lsh_cand,
    _sql_pair_mi,
    _sql_unrolled_greedy,
    _t,
)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.cosine_topk(emb, "vec_id", "embedding", [float(x) for x in qvec], k=ANN_K, exclude_ids=[0])
    return out.select("id", F.round("cos", 6).alias("cos"))


def sql_ann_topk() -> str:
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS id,
         sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)) /
         (sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) *
          sqrt(sum(CAST(q.qe[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)))) AS cos
  FROM embeddings e CROSS JOIN q CROSS JOIN range({EMB_DIMS}) t(i)
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
)
SELECT id, round(cos, 6) AS cos FROM scored ORDER BY cos DESC, id ASC LIMIT {ANN_K}
"""


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k: same query vector as ``ann_topk`` but
    scanning only the ``IVF_PROBE`` nearest of ``IVF_CENTROIDS`` cells.
    The oracle replicates the IVF semantics exactly (same seed centroids,
    same argmax assignment, same probe set), so approximate ≠ unchecked."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.cosine_topk_ivf(
        emb,
        "vec_id",
        "embedding",
        [float(x) for x in qvec],
        k=ANN_K,
        num_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
        exclude_ids=[0],
    )
    return out.select("id", F.round("cos", 6).alias("cos"))


def sql_ann_topk_ivf() -> str:
    dot = (
        "sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE)) / "
        "(sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) * "
        "sqrt(sum(CAST(c.ce[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE))))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
vc AS (
  SELECT e.vec_id AS id, c.cid, {dot} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
qprobe AS (
  SELECT cid FROM vc WHERE id = 0 ORDER BY cos DESC, cid ASC LIMIT {IVF_PROBE}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS id,
         sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)) /
         (sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) *
          sqrt(sum(CAST(q.qe[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)))) AS cos
  FROM embeddings e
  JOIN assign a ON a.id = e.vec_id
  CROSS JOIN q CROSS JOIN range({EMB_DIMS}) t(i)
  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cid FROM qprobe)
  GROUP BY e.vec_id
)
SELECT id, round(cos, 6) AS cos FROM scored ORDER BY cos DESC, id ASC LIMIT {ANN_K}
"""


def q_ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed top-k over LLOYD-TRAINED centroids (one k-means
    iteration from the seed centroids, means rounded to 6dp so both
    engines quantize away summation-order ulps). The oracle replicates
    the ENTIRE training loop in SQL — seed assignment, per-cell means
    with the empty-cell-keeps-seed convention, re-assignment to the
    trained centroids, probe selection — so trained-approximate is as
    hash-checked as exact."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cents = similarity.ivf_centroids_kmeans(
        emb, "vec_id", "embedding", IVF_CENTROIDS, iters=1
    )
    cents = [(cid, [round(x, 6) for x in v]) for cid, v in cents]
    out = similarity.cosine_topk_ivf(
        emb,
        "vec_id",
        "embedding",
        [float(x) for x in qvec],
        k=ANN_K,
        n_probe=IVF_PROBE,
        exclude_ids=[0],
        centroids=cents,
    )
    return out.select("id", F.round("cos", 6).alias("cos"))


def sql_ann_topk_ivf_trained() -> str:
    dot = (
        "sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE)) / "
        "(sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) * "
        "sqrt(sum(CAST(c.ce[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE))))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
vc AS (
  SELECT e.vec_id AS id, c.cid, {dot} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
means AS (
  SELECT a.cell AS cid, CAST(t.i AS INT) AS dim,
         round(avg(CAST(e.embedding[t.i + 1] AS DOUBLE)), 6) AS m
  FROM embeddings e
  JOIN assign a ON a.id = e.vec_id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2
),
seedd AS (
  SELECT cid, CAST(t.i AS INT) AS dim, round(CAST(ce[t.i + 1] AS DOUBLE), 6) AS m
  FROM cents CROSS JOIN range({EMB_DIMS}) t(i)
),
trained AS (
  SELECT s.cid, s.dim, coalesce(mn.m, s.m) AS m
  FROM seedd s LEFT JOIN means mn ON mn.cid = s.cid AND mn.dim = s.dim
),
vc2 AS (
  SELECT e.vec_id AS id, tr.cid,
         sum(CAST(e.embedding[tr.dim + 1] AS DOUBLE) * tr.m) /
         (sqrt(sum(CAST(e.embedding[tr.dim + 1] AS DOUBLE) * CAST(e.embedding[tr.dim + 1] AS DOUBLE))) *
          sqrt(sum(tr.m * tr.m))) AS cos
  FROM embeddings e CROSS JOIN trained tr
  GROUP BY e.vec_id, tr.cid
),
assign2 AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc2
  ) WHERE rn = 1
),
qprobe AS (
  SELECT cid FROM vc2 WHERE id = 0 ORDER BY cos DESC, cid ASC LIMIT {IVF_PROBE}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS id,
         sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)) /
         (sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) *
          sqrt(sum(CAST(q.qe[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)))) AS cos
  FROM embeddings e
  JOIN assign2 a ON a.id = e.vec_id
  CROSS JOIN q CROSS JOIN range({EMB_DIMS}) t(i)
  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cid FROM qprobe)
  GROUP BY e.vec_id
)
SELECT id, round(cos, 6) AS cos FROM scored ORDER BY cos DESC, id ASC LIMIT {ANN_K}
"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-gated approximate top-k: scan restricted to the
    query's sign-of-projection bucket, exact cosine within it. The
    hyperplanes are seeded Python float literals, so the oracle embeds
    the SAME planes as SQL VALUES and replicates the bucket gate exactly
    (the pattern ``sql_dedup_minhash`` uses for its hash params) —
    approximate ≠ unchecked."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.cosine_topk_lsh(
        emb,
        "vec_id",
        "embedding",
        [float(x) for x in qvec],
        k=ANN_K,
        num_planes=ANN_LSH_PLANES,
        seed=ANN_LSH_SEED,
        exclude_ids=[0],
    )
    return out.select("id", F.round("cos", 6).alias("cos"))


def sql_ann_topk_lsh() -> str:
    import random

    rng = random.Random(ANN_LSH_SEED)
    planes = [
        [rng.gauss(0, 1) for _ in range(EMB_DIMS)] for _ in range(ANN_LSH_PLANES)
    ]
    vals = ",\n".join(
        f"({j}, {i}, {w!r})"
        for j, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    return f"""
WITH pl(j, i, w) AS (VALUES {vals}),
proj AS (
  SELECT e.vec_id, pl.j, sum(CAST(e.embedding[pl.i + 1] AS DOUBLE) * pl.w) AS d
  FROM embeddings e CROSS JOIN pl
  GROUP BY 1, 2
),
b AS (
  SELECT vec_id,
         sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS bucket
  FROM proj GROUP BY 1
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS id,
         sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)) /
         (sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) *
          sqrt(sum(CAST(q.qe[i + 1] AS DOUBLE) * CAST(q.qe[i + 1] AS DOUBLE)))) AS cos
  FROM embeddings e
  JOIN b ON b.vec_id = e.vec_id
  CROSS JOIN q CROSS JOIN range({EMB_DIMS}) t(i)
  WHERE e.vec_id <> 0
    AND b.bucket = (SELECT bucket FROM b WHERE vec_id = 0)
  GROUP BY e.vec_id
)
SELECT id, round(cos, 6) AS cos FROM scored ORDER BY cos DESC, id ASC LIMIT {ANN_K}
"""


def q_embedding_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    out = similarity.cosine_top_pairs(emb, "vec_id", "embedding", k=TOP_PAIRS_K)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def sql_embedding_top_pairs() -> str:
    return f"""
WITH n AS (
  SELECT vec_id, sqrt(sum(CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE))) AS nrm
  FROM embeddings CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         sum((CAST(a.embedding[i + 1] AS DOUBLE) / na.nrm) * (CAST(b.embedding[i + 1] AS DOUBLE) / nb.nrm)) AS cos
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(cos, 6) AS cos FROM scored
ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT {TOP_PAIRS_K}
"""


def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification accuracy of the embedding
    space against its label column, per label — see
    :func:`~spark_ifs_spark.operators.similarity.knn_label_accuracy`."""
    emb = _read(spark, sf_dir, "embeddings", fan_out=True)
    return similarity.knn_label_accuracy(emb, "vec_id", "embedding", "label", k=KNN_K)


def sql_knn_label_accuracy() -> str:
    return f"""
WITH n AS (
  SELECT vec_id, sqrt(sum(CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE))) AS nrm
  FROM embeddings CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
),
scored AS (
  SELECT a.vec_id AS id, b.vec_id AS nb,
         round(sum((CAST(a.embedding[i + 1] AS DOUBLE) / na.nrm)
                   * (CAST(b.embedding[i + 1] AS DOUBLE) / nb2.nrm)), 6) AS cos_r
  FROM embeddings a
  JOIN embeddings b ON a.vec_id <> b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb2 ON nb2.vec_id = b.vec_id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2
),
rk AS (
  SELECT id, nb,
         row_number() OVER (PARTITION BY id ORDER BY cos_r DESC, nb ASC) AS r
  FROM scored
),
votes AS (
  SELECT rk.id, l.label AS nb_label, count(*) AS c
  FROM rk JOIN embeddings l ON l.vec_id = rk.nb
  WHERE rk.r <= {KNN_K}
  GROUP BY 1, 2
),
pred AS (
  SELECT id, nb_label
  FROM (SELECT id, nb_label,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, nb_label ASC) AS rr
        FROM votes)
  WHERE rr = 1
)
SELECT e.label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN p.nb_label = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(floor(sum(CASE WHEN p.nb_label = e.label THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS acc_ppm
FROM embeddings e JOIN pred p ON p.id = e.vec_id
GROUP BY 1
"""


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the embeddings (cosine assignment to the
    IVF seed centroids): per-(cell, dim) population and updated mean."""
    emb = _read(spark, sf_dir, "embeddings", fan_out=True)
    out = similarity.kmeans_step(emb, "vec_id", "embedding", IVF_CENTROIDS)
    return out.select("cell", "dim", "n", F.round("mean", 6).alias("mean"))


def sql_kmeans_step() -> str:
    dot = (
        "sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE)) / "
        "(sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) * "
        "sqrt(sum(CAST(c.ce[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE))))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
vc AS (
  SELECT e.vec_id AS id, c.cid, {dot} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc
  ) WHERE rn = 1
)
SELECT a.cell,
       CAST(t.i AS INT) AS dim,
       count(*) AS n,
       round(avg(CAST(e.embedding[i + 1] AS DOUBLE)), 6) AS mean
FROM embeddings e
JOIN assign a ON a.id = e.vec_id
CROSS JOIN range({EMB_DIMS}) t(i)
GROUP BY 1, 2
"""


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle X^T X over quantized embeddings (quantization makes
    the float sums bit-stable across engines — same ``floor(x*8)``
    convention as the selectors)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr("transform(embedding, x -> floor(x * 8) / 8)").alias("qe")
    )
    return similarity.gram_matrix(q, "qe", EMB_DIMS).select(
        "i", "j", F.round("g", 6).alias("g")
    )


def sql_embedding_gram() -> str:
    return f"""
SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
       round(sum((floor(e.embedding[i.i + 1] * 8) / 8) * (floor(e.embedding[j.j + 1] * 8) / 8)), 6) AS g
FROM embeddings e, range({EMB_DIMS}) i(i), range({EMB_DIMS}) j(j)
WHERE i.i <= j.j
GROUP BY 1, 2
"""


def q_embedding_effective_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio tr(C)²/tr(C²) of the (quantized) embedding
    covariance — the effective-dimensionality / anisotropic-collapse
    health check; see :func:`~spark_ifs_spark.operators.similarity.
    effective_dim` for the exact-integer reduction."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr("transform(embedding, x -> floor(x * 8) / 8)").alias("qe")
    )
    return similarity.effective_dim(q, "qe", EMB_DIMS)


def sql_embedding_effective_dim() -> str:
    return f"""
WITH q AS (
  SELECT list_transform(embedding, x -> floor(x * 8) / 8) AS qe FROM embeddings
), nrows AS (SELECT count(*) AS n FROM q),
s AS (
  SELECT i.i AS d, sum(qe[i.i + 1]) AS s FROM q, range({EMB_DIMS}) i(i) GROUP BY 1
), g AS (
  SELECT i.i AS i, j.j AS j, sum(qe[i.i + 1] * qe[j.j + 1]) AS g
  FROM q, range({EMB_DIMS}) i(i), range({EMB_DIMS}) j(j)
  WHERE i.i <= j.j GROUP BY 1, 2
), m AS (
  SELECT g.i, g.j, n,
         CAST(round((n * g.g - si.s * sj.s) * 64) AS BIGINT) AS mi
  FROM g JOIN s si ON si.d = g.i JOIN s sj ON sj.d = g.j CROSS JOIN nrows
), agg AS (
  SELECT n,
         CAST(sum(CASE WHEN i = j THEN mi END) AS BIGINT) AS tr,
         sum(CAST(mi AS HUGEINT) * mi)
           + sum(CASE WHEN i <> j THEN CAST(mi AS HUGEINT) * mi ELSE 0 END) AS q2
  FROM m GROUP BY 1
)
SELECT n, tr AS trace_q,
       round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE) / CAST(q2 AS DOUBLE), 6) AS pr,
       round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE) / CAST(q2 AS DOUBLE)
             / {float(EMB_DIMS)}, 6) AS pr_frac
FROM agg
"""


def q_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PCA power-iteration step y = X^T(Xv) over quantized
    embeddings with v = (1/8, …, 1/8) — dyadic inputs keep every product
    and sum exact in IEEE-754, so both engines agree bit-for-bit."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr("transform(embedding, x -> floor(x * 8) / 8)").alias("qe")
    )
    out = similarity.power_iteration_step(q, "qe", EMB_DIMS, [0.125] * EMB_DIMS)
    return out.select("dim", F.round("y", 6).alias("y"))


def sql_pca_power_step() -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(x * 8) / 8) AS qe
  FROM embeddings
),
d AS (SELECT vec_id, qe, 0.125 * list_sum(qe) AS dot FROM q)
SELECT CAST(i.i AS INT) AS dim, round(sum(d.qe[i.i + 1] * d.dot), 6) AS y
FROM d, range({EMB_DIMS}) i(i)
GROUP BY 1
"""


def q_pca_power_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unnormalized power-iteration steps y = (X^T X)^2 v0 over
    quantized embeddings — the iterated form of ``pca_power_step``
    driven through :func:`similarity.power_iteration` (driver holds only
    the length-d iterate). Dyadic inputs keep every term exact in
    IEEE-754, so skipping the sqrt normalization lets both engines agree
    bit-for-bit across BOTH corpus passes."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr("transform(embedding, x -> floor(x * 8) / 8)").alias("qe")
    )
    y = similarity.power_iteration(
        q, "qe", EMB_DIMS, v0=[0.125] * EMB_DIMS, iters=2, normalize=False
    )
    return spark.createDataFrame(
        [(i, round(val, 6)) for i, val in enumerate(y)], "dim int, y double"
    )


def sql_pca_power_iter2() -> str:
    return f"""
WITH q AS (
  SELECT list_transform(embedding, x -> floor(x * 8) / 8) AS qe
  FROM embeddings
),
d1 AS (SELECT qe, 0.125 * list_sum(qe) AS dot FROM q),
y1 AS (
  SELECT CAST(i.i AS INT) AS dim, sum(qe[i.i + 1] * dot) AS y
  FROM d1, range({EMB_DIMS}) i(i) GROUP BY 1
),
v1 AS (SELECT list(y ORDER BY dim) AS v FROM y1),
d2 AS (
  SELECT qe,
         list_sum(list_transform(generate_series(1, {EMB_DIMS}), j -> qe[j] * v[j])) AS dot
  FROM q, v1
)
SELECT CAST(i.i AS INT) AS dim, round(sum(qe[i.i + 1] * dot), 6) AS y
FROM d2, range({EMB_DIMS}) i(i)
GROUP BY 1
"""


@staged("bigram_ll", "documents")
def _bigram_ll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's bigram-LM scoring relation ``(id, n_bigrams,
    ll_micronats)`` over the documents table, session-staged: five
    queries (lm_bigram_logprob, ppl_buckets, ccnet_mix, doremi_weights,
    doremi_mix) consume it. Exact integer micronats, so the staged rows
    are bit-identical to an inline run."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return textstats.bigram_logprob(docs, "doc_id", "text")


def q_lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM scoring (the CCNet/Gopher "perplexity
    filter" signal) — see :func:`~spark_ifs_spark.operators.textstats.
    bigram_logprob` for the integer-micronat determinism contract and
    plan shape."""
    return _bigram_ll(spark, sf_dir).withColumnRenamed("id", "doc_id")


def sql_lm_bigram_logprob() -> str:
    return """
WITH occ AS (
  SELECT doc_id, t[s.i + 1] || ' ' || t[s.i + 2] AS pair
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(generate_series(0, len(t) - 2)) AS i) s
  WHERE len(t) >= 2
), per_doc AS (
  SELECT doc_id, pair, count(*) AS k FROM occ GROUP BY 1, 2
), pair_counts AS (
  SELECT pair, CAST(sum(k) AS BIGINT) AS c_pair FROM per_doc GROUP BY pair
), left_counts AS (
  SELECT split_part(pair, ' ', 1) AS l, CAST(sum(c_pair) AS BIGINT) AS c_left
  FROM pair_counts GROUP BY 1
), model AS (
  SELECT pair, CAST(floor(ln(c_pair * 1.0 / c_left) * 1e6) AS BIGINT) AS t
  FROM pair_counts JOIN left_counts ON split_part(pair, ' ', 1) = l
)
SELECT per_doc.doc_id,
       CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(sum(k * t) AS BIGINT) AS ll_micronats
FROM per_doc JOIN model USING (pair)
GROUP BY per_doc.doc_id
"""


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity partitioning at the
    global tertiles of the bigram-LM score — see
    :func:`~spark_ifs_spark.operators.textstats.ppl_buckets`."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.ppl_buckets(
        docs, "doc_id", "text", ll=_bigram_ll(spark, sf_dir)
    )


def _sql_bigram_ll_cte() -> str:
    """CTE chain (no ``WITH``) ending in ``ll(doc_id, n_bigrams,
    ll_micronats)`` — the corpus-trained bigram-LM scoring relation
    shared by ``lm_bigram_logprob``, ``ppl_buckets``/``ccnet_mix``, and
    ``doremi_weights``."""
    return """occ AS (
  SELECT doc_id, t[s.i + 1] || ' ' || t[s.i + 2] AS pair
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(generate_series(0, len(t) - 2)) AS i) s
  WHERE len(t) >= 2
), per_doc AS (
  SELECT doc_id, pair, count(*) AS k FROM occ GROUP BY 1, 2
), pair_counts AS (
  SELECT pair, CAST(sum(k) AS BIGINT) AS c_pair FROM per_doc GROUP BY pair
), left_counts AS (
  SELECT split_part(pair, ' ', 1) AS l, CAST(sum(c_pair) AS BIGINT) AS c_left
  FROM pair_counts GROUP BY 1
), model AS (
  SELECT pair, CAST(floor(ln(c_pair * 1.0 / c_left) * 1e6) AS BIGINT) AS t
  FROM pair_counts JOIN left_counts ON split_part(pair, ' ', 1) = l
), ll AS (
  SELECT per_doc.doc_id,
         CAST(sum(k) AS BIGINT) AS n_bigrams,
         CAST(sum(k * t) AS BIGINT) AS ll_micronats
  FROM per_doc JOIN model USING (pair)
  GROUP BY per_doc.doc_id
)"""


def _sql_ppl_cte() -> str:
    """CTE chain (no ``WITH``) ending in ``scored(doc_id, n_bigrams,
    ppl_micro)`` + ``qs(q0, q1)`` — the per-doc CCNet scoring shared by
    ``sql_ppl_buckets`` and the pipeline composites (``ccnet_mix``)."""
    c0, c1 = repr(1.0 / 3.0), repr(2.0 / 3.0)
    return f"""{_sql_bigram_ll_cte()}, scored AS (
  SELECT doc_id, n_bigrams,
         CAST(floor((-ll_micronats) * 1.0 / n_bigrams) AS BIGINT) AS ppl_micro
  FROM ll
), qs AS (
  SELECT round(quantile_cont(ppl_micro, {c0}), 6) AS q0,
         round(quantile_cont(ppl_micro, {c1}), 6) AS q1
  FROM scored
)"""


def sql_ppl_buckets() -> str:
    return f"""
WITH {_sql_ppl_cte()}
SELECT CASE WHEN ppl_micro <= q0 THEN 'head'
            WHEN ppl_micro <= q1 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
       min(ppl_micro) AS min_ppl_micro,
       max(ppl_micro) AS max_ppl_micro
FROM scored CROSS JOIN qs
GROUP BY 1
"""


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Rademacher random projection of the embeddings down to
    ``PROJ_DIMS`` components — see :func:`~spark_ifs_spark.operators.
    similarity.random_project` for the JL argument and the
    exact-in-binary quantization contract."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.random_project(
        emb, "vec_id", "embedding", EMB_DIMS, out_dims=PROJ_DIMS, seed=PROJ_SEED
    ).select(F.col("id").alias("vec_id"), "k", "v")


def sql_embedding_project() -> str:
    import random

    rng = random.Random(PROJ_SEED)
    signs = [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(EMB_DIMS)]
        for _ in range(PROJ_DIMS)
    ]
    vals = ",\n".join(
        f"({k}, {i}, {s!r})"
        for k, row in enumerate(signs)
        for i, s in enumerate(row)
    )
    return f"""
WITH sg(k, i, s) AS (VALUES {vals})
SELECT e.vec_id, CAST(sg.k AS INT) AS k,
       sum((floor(CAST(e.embedding[sg.i + 1] AS DOUBLE) * 8) / 8) * sg.s) AS v
FROM embeddings e JOIN sg ON true
GROUP BY e.vec_id, sg.k
"""


def q_ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN in 8-bit scalar-quantized space: integer dot-product top-10
    against vec_id 0 (see ``similarity.topk_sq8`` — the 4× compression
    stage of a quantized retrieval stack)."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return similarity.topk_sq8(
        emb,
        "vec_id",
        "embedding",
        [float(x) for x in qvec],
        k=ANN_K,
        exclude_ids=[0],
    )


def sql_ann_topk_sq8() -> str:
    return f"""
WITH dims AS (
  SELECT t.i + 1 AS j,
         min(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS mn,
         max(CAST(e.embedding[t.i + 1] AS DOUBLE)) AS mx
  FROM embeddings e CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
), q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), qc AS (
  SELECT d.j,
         CASE WHEN d.mx = d.mn THEN 0
              ELSE least(255, greatest(0, CAST(floor(
                (CAST(q.qe[d.j] AS DOUBLE) - d.mn) * 255.0 / (d.mx - d.mn)) AS BIGINT)))
         END AS c
  FROM dims d CROSS JOIN q
), scored AS (
  SELECT e.vec_id AS id,
         CAST(sum(qc.c * CASE WHEN d.mx = d.mn THEN 0
              ELSE least(255, greatest(0, CAST(floor(
                (CAST(e.embedding[d.j] AS DOUBLE) - d.mn) * 255.0 / (d.mx - d.mn)) AS BIGINT)))
         END) AS BIGINT) AS dot_q
  FROM embeddings e
  CROSS JOIN dims d
  JOIN qc ON qc.j = d.j
  WHERE e.vec_id <> 0 AND qc.c <> 0
  GROUP BY 1
)
SELECT id, dot_q FROM scored ORDER BY dot_q DESC, id ASC LIMIT {ANN_K}
"""


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-probed ANN path against the brute-force exact
    top-k, as a first-class query — the audit that keeps "approximate"
    from meaning "unchecked" when cell counts or probe budgets change.
    Plan: both paths run as usual (IVF gates candidates to n_probe
    cells); the overlap count is a broadcast join of two k-row results."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    q = [float(x) for x in qvec]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", q, k=ANN_K, exclude_ids=[0])
    approx = similarity.cosine_topk_ivf(
        emb, "vec_id", "embedding", q,
        k=ANN_K, num_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE, exclude_ids=[0],
    )
    return (
        exact.select("id")
        .join(approx.select("id"), "id", "inner")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.round(F.count(F.lit(1)) / F.lit(ANN_K), 6).alias("recall"),
        )
    )


def sql_ann_recall_audit() -> str:
    return f"""
SELECT count(*) AS n_overlap,
       round(count(*) * 1.0 / {ANN_K}, 6) AS recall
FROM ({sql_ann_topk()}) e
JOIN ({sql_ann_topk_ivf()}) a USING (id)
"""


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the monitoring
    distribution chart. Bin = floor(value / 25) computed identically in
    both engines (one double division + floor); ONE map-combined
    aggregate, shuffle bounded by types × bins."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sql_events_value_histogram() -> str:
    return f"""
SELECT event_type, CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin, count(*) AS n
FROM events
GROUP BY 1, 2
"""




def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k with exact rescore: the third leg of the
    quantized-ANN stack (IVF gates cells, SQ8 compresses scalars, PQ
    compresses subvectors to m one-byte codes). Codebooks are the
    integer-quantized subvectors of the ``PQ_KCODE`` smallest-id
    vectors (deterministic, no fitting), assignment and ADC are exact
    BIGINT arithmetic, so the oracle replicates the entire shortlist
    bit-for-bit before the final exact-cosine rescore."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.topk_pq(
        emb,
        "vec_id",
        "embedding",
        [float(x) for x in qvec],
        k=ANN_K,
        m=PQ_M,
        kcode=PQ_KCODE,
        rescore=PQ_RESCORE,
        scale=PQ_SCALE,
        exclude_ids=[0],
    )
    return out.select("id", F.round("cos", 6).alias("cos"))


def sql_ann_topk_pq() -> str:
    sub = EMB_DIMS // PQ_M
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
donors AS (
  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS cid
  FROM embeddings ORDER BY vec_id LIMIT {PQ_KCODE}
),
cw AS (
  SELECT CAST(t.i // {sub} AS INT) AS j, d.cid, CAST(t.i % {sub} AS INT) AS t,
         CAST(floor(CAST(d.embedding[t.i + 1] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS w
  FROM donors d CROSS JOIN range({EMB_DIMS}) t(i)
),
vc AS (
  SELECT e.vec_id, CAST(t.i // {sub} AS INT) AS j, CAST(t.i % {sub} AS INT) AS t,
         CAST(floor(CAST(e.embedding[t.i + 1] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS x
  FROM embeddings e CROSS JOIN range({EMB_DIMS}) t(i)
  WHERE e.vec_id <> 0
),
dist AS (
  SELECT vc.vec_id, vc.j, cw.cid, sum((vc.x - cw.w) * (vc.x - cw.w)) AS d
  FROM vc JOIN cw ON cw.j = vc.j AND cw.t = vc.t
  GROUP BY 1, 2, 3
),
assign AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid ASC) AS rn
    FROM dist) s WHERE rn = 1
),
qint AS (
  SELECT CAST(t.i // {sub} AS INT) AS j, CAST(t.i % {sub} AS INT) AS t,
         CAST(floor(CAST(q.qe[t.i + 1] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS qx
  FROM q CROSS JOIN range({EMB_DIMS}) t(i)
),
lut AS (
  SELECT cw.j, cw.cid, CAST(sum(qint.qx * cw.w) AS BIGINT) AS dp
  FROM cw JOIN qint ON qint.j = cw.j AND qint.t = cw.t
  GROUP BY 1, 2
),
adc AS (
  SELECT a.vec_id AS id, CAST(sum(l.dp) AS BIGINT) AS adc
  FROM assign a JOIN lut l ON l.j = a.j AND l.cid = a.cid
  GROUP BY 1
),
short AS (SELECT id FROM adc ORDER BY adc DESC, id ASC LIMIT {PQ_RESCORE}),
scored AS (
  SELECT e.vec_id AS id,
         sum(CAST(e.embedding[t.i + 1] AS DOUBLE) * CAST(q.qe[t.i + 1] AS DOUBLE)) /
         (sqrt(sum(CAST(e.embedding[t.i + 1] AS DOUBLE) * CAST(e.embedding[t.i + 1] AS DOUBLE))) *
          sqrt(sum(CAST(q.qe[t.i + 1] AS DOUBLE) * CAST(q.qe[t.i + 1] AS DOUBLE)))) AS cos
  FROM embeddings e
  JOIN short s ON s.id = e.vec_id
  CROSS JOIN q CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
)
SELECT id, round(cos, 6) AS cos FROM scored ORDER BY cos DESC, id ASC LIMIT {ANN_K}
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style survivors: centroid-cell assignment (seeded IVF
    cells — map-side expression), within-cell embedding-cosine pair
    detection (per-cell GEMM), keep-lowest-id drop rule. The oracle
    replicates cells, in-cell pairs, and the anti-join exactly."""
    emb = _read(spark, sf_dir, "embeddings")
    # num_centroids=None → corpus-scaled cell count (floor 16, target
    # cell size 128); at every gate SF (≤ 2k vectors) this resolves to
    # 16 cells, exactly what the oracle's GREATEST(16, n // 128) yields
    out = similarity.semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        EMB_DIMS,
        threshold=EMB_DEDUP_THRESHOLD,
        num_centroids=None,
    )
    return out.select("id", "cell")


def sql_semantic_dedup() -> str:
    dot = (
        "sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE)) / "
        "(sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) * "
        "sqrt(sum(CAST(c.ce[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE))))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  QUALIFY row_number() OVER (ORDER BY vec_id) <= GREATEST(16, (count(*) OVER ()) // 128)
),
vc AS (
  SELECT e.vec_id AS id, c.cid, {dot} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
nrms AS (
  SELECT vec_id,
         sqrt(sum(CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE))) AS nrm
  FROM embeddings CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
),
pairs AS (
  SELECT aa.id AS id_a, bb.id AS id_b,
         sum(CAST(ea.embedding[i + 1] AS DOUBLE) * CAST(eb.embedding[i + 1] AS DOUBLE))
           / (na.nrm * nb.nrm) AS cos
  FROM assign aa
  JOIN assign bb ON aa.cell = bb.cell AND aa.id < bb.id
  JOIN embeddings ea ON ea.vec_id = aa.id
  JOIN embeddings eb ON eb.vec_id = bb.id
  JOIN nrms na ON na.vec_id = aa.id
  JOIN nrms nb ON nb.vec_id = bb.id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2, na.nrm, nb.nrm
),
dropped AS (
  SELECT DISTINCT id_b AS id FROM pairs WHERE cos >= {EMB_DEDUP_THRESHOLD}
)
SELECT a.id, a.cell FROM assign a
WHERE a.id NOT IN (SELECT id FROM dropped)
"""


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed end-to-end: probe the IVF_PROBE nearest seed
    cells, PQ-ADC the gated rows (full-corpus codebooks), exact-cosine
    rescore of the shortlist. The oracle replicates cell gate,
    integer assignment, ADC, and shortlist bit-for-bit."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.topk_ivfpq(
        emb,
        "vec_id",
        "embedding",
        [float(x) for x in qvec],
        k=ANN_K,
        num_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
        m=PQ_M,
        kcode=PQ_KCODE,
        rescore=PQ_RESCORE,
        scale=PQ_SCALE,
        exclude_ids=[0],
    )
    return out.select("id", F.round("cos", 6).alias("cos"))


_IVFPQ_DOT = (
    "sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE)) / "
    "(sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) * "
    "sqrt(sum(CAST(c.ce[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE))))"
)


def _sql_ivfpq_seed_prefix() -> str:
    """CTEs ``cents → cellcos → assign / qprobe / q`` over SEED IVF
    centroids — the gate the PQ body (:func:`_sql_ivfpq_body`) scans."""
    return f"""cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
cellcos AS (
  SELECT e.vec_id AS id, c.cid, {_IVFPQ_DOT} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM cellcos
  ) WHERE rn = 1
),
qprobe AS (
  SELECT cid FROM cellcos WHERE id = 0 ORDER BY cos DESC, cid ASC LIMIT {IVF_PROBE}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)"""


def _sql_ivfpq_trained_prefix() -> str:
    """Same ``assign / qprobe / q`` contract but over LLOYD-TRAINED
    centroids (one k-means iteration from the seeds, means rounded to
    6dp, empty cells keep their seed — the ``ann_topk_ivf_trained``
    training loop verbatim)."""
    return f"""cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
),
vc0 AS (
  SELECT e.vec_id AS id, c.cid, {_IVFPQ_DOT} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign0 AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc0
  ) WHERE rn = 1
),
means AS (
  SELECT a.cell AS cid, CAST(t.i AS INT) AS dim,
         round(avg(CAST(e.embedding[t.i + 1] AS DOUBLE)), 6) AS m
  FROM embeddings e
  JOIN assign0 a ON a.id = e.vec_id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2
),
seedd AS (
  SELECT cid, CAST(t.i AS INT) AS dim, round(CAST(ce[t.i + 1] AS DOUBLE), 6) AS m
  FROM cents CROSS JOIN range({EMB_DIMS}) t(i)
),
trained AS (
  SELECT s.cid, s.dim, coalesce(mn.m, s.m) AS m
  FROM seedd s LEFT JOIN means mn ON mn.cid = s.cid AND mn.dim = s.dim
),
cellcos AS (
  SELECT e.vec_id AS id, tr.cid,
         sum(CAST(e.embedding[tr.dim + 1] AS DOUBLE) * tr.m) /
         (sqrt(sum(CAST(e.embedding[tr.dim + 1] AS DOUBLE) * CAST(e.embedding[tr.dim + 1] AS DOUBLE))) *
          sqrt(sum(tr.m * tr.m))) AS cos
  FROM embeddings e CROSS JOIN trained tr
  GROUP BY e.vec_id, tr.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM cellcos
  ) WHERE rn = 1
),
qprobe AS (
  SELECT cid FROM cellcos WHERE id = 0 ORDER BY cos DESC, cid ASC LIMIT {IVF_PROBE}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)"""


def _sql_ivfpq_body() -> str:
    """The PQ stage of IVF-PQ (codebooks → codes → ADC → shortlist →
    exact rescore), expecting ``assign``/``qprobe``/``q`` CTEs from a
    prefix builder. Shared verbatim between the seed and trained
    variants so the only difference under audit is the cell gate."""
    sub = EMB_DIMS // PQ_M
    return f"""donors AS (
  SELECT embedding, row_number() OVER (ORDER BY vec_id) - 1 AS cid
  FROM embeddings ORDER BY vec_id LIMIT {PQ_KCODE}
),
cw AS (
  SELECT CAST(t.i // {sub} AS INT) AS j, d.cid, CAST(t.i % {sub} AS INT) AS t,
         CAST(floor(CAST(d.embedding[t.i + 1] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS w
  FROM donors d CROSS JOIN range({EMB_DIMS}) t(i)
),
vc AS (
  SELECT e.vec_id, CAST(t.i // {sub} AS INT) AS j, CAST(t.i % {sub} AS INT) AS t,
         CAST(floor(CAST(e.embedding[t.i + 1] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS x
  FROM embeddings e
  JOIN assign a ON a.id = e.vec_id AND a.cell IN (SELECT cid FROM qprobe)
  CROSS JOIN range({EMB_DIMS}) t(i)
  WHERE e.vec_id <> 0
),
dist AS (
  SELECT vc.vec_id, vc.j, cw.cid, sum((vc.x - cw.w) * (vc.x - cw.w)) AS d
  FROM vc JOIN cw ON cw.j = vc.j AND cw.t = vc.t
  GROUP BY 1, 2, 3
),
pqassign AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d ASC, cid ASC) AS rn
    FROM dist) s WHERE rn = 1
),
qint AS (
  SELECT CAST(t.i // {sub} AS INT) AS j, CAST(t.i % {sub} AS INT) AS t,
         CAST(floor(CAST(q.qe[t.i + 1] AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS qx
  FROM q CROSS JOIN range({EMB_DIMS}) t(i)
),
lut AS (
  SELECT cw.j, cw.cid, CAST(sum(qint.qx * cw.w) AS BIGINT) AS dp
  FROM cw JOIN qint ON qint.j = cw.j AND qint.t = cw.t
  GROUP BY 1, 2
),
adc AS (
  SELECT a.vec_id AS id, CAST(sum(l.dp) AS BIGINT) AS adc
  FROM pqassign a JOIN lut l ON l.j = a.j AND l.cid = a.cid
  GROUP BY 1
),
short AS (SELECT id FROM adc ORDER BY adc DESC, id ASC LIMIT {PQ_RESCORE}),
scored AS (
  SELECT e.vec_id AS id,
         sum(CAST(e.embedding[t.i + 1] AS DOUBLE) * CAST(q.qe[t.i + 1] AS DOUBLE)) /
         (sqrt(sum(CAST(e.embedding[t.i + 1] AS DOUBLE) * CAST(e.embedding[t.i + 1] AS DOUBLE))) *
          sqrt(sum(CAST(q.qe[t.i + 1] AS DOUBLE) * CAST(q.qe[t.i + 1] AS DOUBLE)))) AS cos
  FROM embeddings e
  JOIN short s ON s.id = e.vec_id
  CROSS JOIN q CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
)
SELECT id, round(cos, 6) AS cos FROM scored ORDER BY cos DESC, id ASC LIMIT {ANN_K}
"""


def sql_ann_topk_ivfpq() -> str:
    return f"""
WITH {_sql_ivfpq_seed_prefix()},
{_sql_ivfpq_body()}
"""


def q_ann_ivfpq_trained_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed vs Lloyd-trained IVF cells through the FULL IVF-PQ stack at
    equal probe budget: ``(n_seed, recall_seed, n_trained,
    recall_trained)`` against the brute-force exact top-k. Trained
    centroids come from ``ivf_centroids_kmeans`` (1 iteration, means
    rounded to 6dp — the ``ann_topk_ivf_trained`` convention), threaded
    via ``topk_ivfpq(centroids=...)``; the PQ codebooks/ADC/rescore are
    identical, so the audit isolates exactly the cell-gate quality."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    q = [float(x) for x in qvec]
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding", q, k=ANN_K, exclude_ids=[0]
    ).select("id")
    kw = dict(
        k=ANN_K,
        n_probe=IVF_PROBE,
        m=PQ_M,
        kcode=PQ_KCODE,
        rescore=PQ_RESCORE,
        scale=PQ_SCALE,
        exclude_ids=[0],
    )
    seed = similarity.topk_ivfpq(
        emb, "vec_id", "embedding", q, num_centroids=IVF_CENTROIDS, **kw
    ).select("id")
    cents = similarity.ivf_centroids_kmeans(
        emb, "vec_id", "embedding", IVF_CENTROIDS, iters=1
    )
    cents = [(cid, [round(x, 6) for x in v]) for cid, v in cents]
    trained = similarity.topk_ivfpq(
        emb, "vec_id", "embedding", q, centroids=cents, **kw
    ).select("id")
    # one pass over the brute-force exact subtree: both overlap counts
    # come from a single left-join chain (seed/trained emit one row per
    # id, so the joins preserve exact's k rows) instead of evaluating
    # the exact top-k once per leg and crossJoining the two aggregates
    flagged = exact.join(
        seed.withColumn("_s", F.lit(1)), "id", "left"
    ).join(trained.withColumn("_t", F.lit(1)), "id", "left")
    return flagged.agg(
        F.count("_s").alias("n_seed"),
        F.round(F.count("_s") / F.lit(ANN_K), 6).alias("recall_seed"),
        F.count("_t").alias("n_trained"),
        F.round(F.count("_t") / F.lit(ANN_K), 6).alias("recall_trained"),
    )


def sql_ann_ivfpq_trained_audit() -> str:
    trained_sql = f"""
WITH {_sql_ivfpq_trained_prefix()},
{_sql_ivfpq_body()}
"""
    return f"""
SELECT s.n_seed, s.recall_seed, t.n_trained, t.recall_trained
FROM (
  SELECT count(*) AS n_seed, round(count(*) * 1.0 / {ANN_K}, 6) AS recall_seed
  FROM ({sql_ann_topk()}) e JOIN ({sql_ann_topk_ivfpq()}) a USING (id)
) s
CROSS JOIN (
  SELECT count(*) AS n_trained, round(count(*) * 1.0 / {ANN_K}, 6) AS recall_trained
  FROM ({sql_ann_topk()}) e JOIN ({trained_sql}) a USING (id)
) t
"""


def q_ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC path against the brute-force exact top-k
    — the same first-class audit ``ann_recall_audit`` runs for IVF, so
    quantization loss is measured, not assumed, when m/kcode/rescore
    change."""
    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    q = [float(x) for x in qvec]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", q, k=ANN_K, exclude_ids=[0])
    approx = similarity.topk_pq(
        emb, "vec_id", "embedding", q,
        k=ANN_K, m=PQ_M, kcode=PQ_KCODE, rescore=PQ_RESCORE, scale=PQ_SCALE,
        exclude_ids=[0],
    )
    return (
        exact.select("id")
        .join(approx.select("id"), "id", "inner")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.round(F.count(F.lit(1)) / F.lit(ANN_K), 6).alias("recall"),
        )
    )


def sql_ann_pq_recall_audit() -> str:
    return f"""
SELECT count(*) AS n_overlap,
       round(count(*) * 1.0 / {ANN_K}, 6) AS recall
FROM ({sql_ann_topk()}) e
JOIN ({sql_ann_topk_pq()}) a USING (id)
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: per anchor, the HARDNEG_K
    highest-cosine non-duplicate neighbors within its IVF cell, ranked
    on round(cos, 6) with id ties. The oracle replicates the cell gate,
    the dup ceiling, and the ranking exactly."""
    emb = _read(spark, sf_dir, "embeddings")
    # num_centroids=None → corpus-scaled cell count (floor 16 at every
    # gate SF, matching the oracle's GREATEST(16, n // 128))
    out = similarity.hard_negatives(
        emb,
        "vec_id",
        "embedding",
        EMB_DIMS,
        k=HARDNEG_K,
        dup_ceiling=HARDNEG_DUP_CEILING,
        num_centroids=None,
    )
    return out.select("id", "neg_id", "cos", "rank")


def sql_hard_negatives() -> str:
    dot = (
        "sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE)) / "
        "(sqrt(sum(CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE))) * "
        "sqrt(sum(CAST(c.ce[i + 1] AS DOUBLE) * CAST(c.ce[i + 1] AS DOUBLE))))"
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  QUALIFY row_number() OVER (ORDER BY vec_id) <= GREATEST(16, (count(*) OVER ()) // 128)
),
cellcos AS (
  SELECT e.vec_id AS id, c.cid, {dot} AS cos
  FROM embeddings e CROSS JOIN cents c CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY cos DESC, cid ASC) AS rn
    FROM cellcos
  ) WHERE rn = 1
),
nrms AS (
  SELECT vec_id,
         sqrt(sum(CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE))) AS nrm
  FROM embeddings CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1
),
pcos AS (
  SELECT aa.id AS id, bb.id AS neg_id,
         round(sum(CAST(ea.embedding[i + 1] AS DOUBLE) * CAST(eb.embedding[i + 1] AS DOUBLE))
           / (na.nrm * nb.nrm), 6) AS cos
  FROM assign aa
  JOIN assign bb ON aa.cell = bb.cell AND aa.id <> bb.id
  JOIN embeddings ea ON ea.vec_id = aa.id
  JOIN embeddings eb ON eb.vec_id = bb.id
  JOIN nrms na ON na.vec_id = aa.id
  JOIN nrms nb ON nb.vec_id = bb.id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2, na.nrm, nb.nrm
),
ranked AS (
  SELECT id, neg_id, cos,
         CAST(row_number() OVER (PARTITION BY id ORDER BY cos DESC, neg_id ASC) AS INT) AS rank
  FROM pcos WHERE cos < {HARDNEG_DUP_CEILING}
)
SELECT id, neg_id, cos, rank FROM ranked WHERE rank <= {HARDNEG_K}
"""


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain-weight update: one multiplicative-weights
    step over per-source excess loss under the corpus bigram LM — see
    :func:`~spark_ifs_spark.operators.selection.doremi_weights`."""
    from spark_ifs_spark.operators.selection import doremi_weights

    docs = _read(spark, sf_dir, "documents")
    return doremi_weights(
        docs, "source", "doc_id", "text",
        eta=DOREMI_ETA, smoothing=DOREMI_SMOOTHING,
        ll=_bigram_ll(spark, sf_dir),
    )


def sql_doremi_weights() -> str:
    from spark_ifs_spark.registry._common import DOREMI_ETA, DOREMI_SMOOTHING

    return f"""
WITH {_sql_bigram_ll_cte()},
per AS (
  SELECT d.source AS domain,
         CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
         CAST(floor((-sum(ll_micronats)) * 1.0 / sum(n_bigrams)) AS BIGINT)
           AS loss_micro
  FROM ll JOIN documents d USING (doc_id)
  GROUP BY 1
),
ex AS (
  SELECT domain, n_bigrams, loss_micro,
         loss_micro - min(loss_micro) OVER () AS excess_micro,
         count(*) OVER () AS s
  FROM per
),
sm AS (SELECT *, exp({DOREMI_ETA} * excess_micro / 1e6) AS ew FROM ex)
SELECT domain, n_bigrams, loss_micro, excess_micro,
       CAST(floor(round((1.0 - {DOREMI_SMOOTHING}) * ew / sum(ew) OVER ()
                        + {DOREMI_SMOOTHING} / s, 9) * 1e6) AS BIGINT)
         AS rate_ppm
FROM sm
"""


def q_doremi_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi weights applied: the rate_ppm relation converts to
    per-source char budgets (rate x DOREMI_MIX_CHARS) and feeds
    ``weighted_mix`` — the full feedback loop (loss -> weights -> new
    corpus mix) end-to-end. Collecting the S-row rate relation to build
    the budget dict is the broadcast-small-side rule (domains, not
    documents)."""
    from spark_ifs_spark.operators.sampling import weighted_mix
    from spark_ifs_spark.operators.selection import doremi_weights

    docs = _read(spark, sf_dir, "documents")
    rates = doremi_weights(
        docs, "source", "doc_id", "text",
        eta=DOREMI_ETA, smoothing=DOREMI_SMOOTHING,
        ll=_bigram_ll(spark, sf_dir),
    )
    targets = {
        r["domain"]: r["rate_ppm"] * DOREMI_MIX_CHARS // 1_000_000
        for r in rates.select("domain", "rate_ppm").collect()
    }
    kept = weighted_mix(
        docs, "doc_id", "source", "n_chars", targets, seed=MIX_SEED
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


def sql_doremi_mix() -> str:
    from spark_ifs_spark.operators.sampling import SPLIT_BUCKETS, sql_split_bucket
    from spark_ifs_spark.registry._common import (
        DOREMI_ETA,
        DOREMI_MIX_CHARS,
        DOREMI_SMOOTHING,
    )

    b = sql_split_bucket("d.doc_id", MIX_SEED)
    return f"""
WITH {_sql_bigram_ll_cte()},
per AS (
  SELECT d.source AS domain,
         CAST(floor((-sum(ll_micronats)) * 1.0 / sum(n_bigrams)) AS BIGINT)
           AS loss_micro
  FROM ll JOIN documents d USING (doc_id)
  GROUP BY 1
),
ex AS (
  SELECT domain, loss_micro - min(loss_micro) OVER () AS excess_micro,
         count(*) OVER () AS s
  FROM per
),
sm AS (SELECT *, exp({DOREMI_ETA} * excess_micro / 1e6) AS ew FROM ex),
tgt AS (
  SELECT domain AS source,
         CAST(floor(round((1.0 - {DOREMI_SMOOTHING}) * ew / sum(ew) OVER ()
                          + {DOREMI_SMOOTHING} / s, 9) * 1e6) AS BIGINT)
           * {DOREMI_MIX_CHARS} // 1000000 AS target
  FROM sm
),
tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS total FROM documents GROUP BY 1),
kept AS (
  SELECT d.source, d.n_chars
  FROM documents d JOIN tot USING (source) JOIN tgt USING (source)
  WHERE tot.total <= tgt.target
     OR {b} * tot.total < tgt.target * {SPLIT_BUCKETS}
)
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY 1
"""


KN_DISCOUNT = 0.75


def q_lm_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (KenLM's smoothing) —
    see :func:`~spark_ifs_spark.operators.textstats.kneser_ney_logprob`."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.kneser_ney_logprob(
        docs, "doc_id", "text", discount=KN_DISCOUNT
    ).withColumnRenamed("id", "doc_id")


def sql_lm_kn_logprob() -> str:
    d = repr(KN_DISCOUNT)
    return f"""
WITH occ AS (
  SELECT doc_id, t[s.i + 1] || ' ' || t[s.i + 2] AS pair
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(generate_series(0, len(t) - 2)) AS i) s
  WHERE len(t) >= 2
), per_doc AS (
  SELECT doc_id, pair, count(*) AS k FROM occ GROUP BY 1, 2
), pair_counts AS (
  SELECT pair, CAST(sum(k) AS BIGINT) AS c_pair FROM per_doc GROUP BY pair
), stats AS (
  SELECT pair, c_pair,
         sum(c_pair) OVER (PARTITION BY split_part(pair, ' ', 1)) AS cl,
         count(*) OVER (PARTITION BY split_part(pair, ' ', 1)) AS n1l,
         count(*) OVER (PARTITION BY split_part(pair, ' ', -1)) AS n1r,
         count(*) OVER () AS np
  FROM pair_counts
), model AS (
  SELECT pair,
         CAST(floor(ln(
           ((CAST(c_pair AS DOUBLE) - {d}) / CAST(cl AS DOUBLE))
           + ((({d} * CAST(n1l AS DOUBLE)) / CAST(cl AS DOUBLE))
              * (CAST(n1r AS DOUBLE) / CAST(np AS DOUBLE)))
         ) * 1e6) AS BIGINT) AS t
  FROM stats
)
SELECT per_doc.doc_id,
       CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(sum(k * t) AS BIGINT) AS ll_micronats
FROM per_doc JOIN model USING (pair)
GROUP BY per_doc.doc_id
"""


KMEANS_ITERS = 2  # Lloyd iterations for the trained-clustering gate


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERGED k-means over quantized embeddings: KMEANS_ITERS Lloyd
    iterations from the deterministic seeds, then the final
    assignment's per-cell populations and centroid means —
    ``kmeans_step`` is the ``iters=0`` special case. Gated through the
    INTEGER-STATE variant
    (:func:`~spark_ifs_spark.operators.similarity.kmeans_train_stats_q8`):
    cells carry exact integer sum-vectors, assignment scores are
    ``int_dot / sqrt(int_ssq)``, so both engines compute bit-identical
    scores and exact ties break identically — the float spelling
    diverged on a mathematically exact tie at sf0.1."""
    emb = _read(spark, sf_dir, "embeddings", fan_out=True)
    return similarity.kmeans_train_stats_q8(
        emb, "vec_id", "embedding", IVF_CENTROIDS, iters=KMEANS_ITERS
    )


def sql_kmeans_train() -> str:
    v8 = "CAST(floor(e.embedding[t.i + 1] * 8) AS BIGINT)"
    cte = [f"""c0 AS MATERIALIZED (
  SELECT s.vec_id AS cid, CAST(t.i AS INT) AS dim,
         CAST(floor(s.embedding[t.i + 1] * 8) AS BIGINT) AS s
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}) s
  CROSS JOIN range({EMB_DIMS}) t(i)
)"""]
    for r in range(1, KMEANS_ITERS + 2):
        cte.append(f"""q{r} AS MATERIALIZED (
  SELECT cid, CAST(sum(s * s) AS BIGINT) AS ssq FROM c{r - 1} GROUP BY 1
)""")
        cte.append(f"""vc{r} AS MATERIALIZED (
  SELECT e.vec_id AS id, c.cid,
         CAST(sum(({v8}) * c.s) AS DOUBLE)
           / (CASE WHEN q.ssq = 0 THEN 1.0 ELSE sqrt(CAST(q.ssq AS DOUBLE)) END) AS sc
  FROM embeddings e
  CROSS JOIN range({EMB_DIMS}) t(i)
  JOIN c{r - 1} c ON c.dim = t.i
  JOIN q{r} q ON q.cid = c.cid
  GROUP BY e.vec_id, c.cid, q.ssq
)""")
        cte.append(f"""assign{r} AS MATERIALIZED (
  SELECT id, cid AS cell FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY sc DESC, cid ASC) AS rn
    FROM vc{r}
  ) WHERE rn = 1
)""")
        if r <= KMEANS_ITERS:
            cte.append(f"""u{r} AS MATERIALIZED (
  SELECT a.cell AS cid, CAST(t.i AS INT) AS dim, CAST(sum({v8}) AS BIGINT) AS s
  FROM embeddings e
  JOIN assign{r} a ON a.id = e.vec_id
  CROSS JOIN range({EMB_DIMS}) t(i)
  GROUP BY 1, 2
)""")
            cte.append(f"""c{r} AS MATERIALIZED (
  SELECT c.cid, c.dim, coalesce(u.s, c.s) AS s
  FROM c{r - 1} c LEFT JOIN u{r} u ON u.cid = c.cid AND u.dim = c.dim
)""")
    body = ",\n".join(cte)
    fin = KMEANS_ITERS + 1
    return f"""
WITH {body}
SELECT a.cell,
       CAST(t.i AS INT) AS dim,
       count(*) AS n,
       round(CAST(sum(CAST(floor(e.embedding[t.i + 1] * 8) AS BIGINT)) AS DOUBLE)
             / (8.0 * count(*)), 6) AS mean
FROM embeddings e
JOIN assign{fin} a ON a.id = e.vec_id
CROSS JOIN range({EMB_DIMS}) t(i)
GROUP BY 1, 2
"""


def q_source_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-source semantic proximity: pairwise cosine between
    per-source embedding centroids (integer-state exact) — the matrix a
    mixture designer reads to find mix-redundant sources. See
    :func:`~spark_ifs_spark.operators.similarity.grouped_centroid_cosine`."""
    emb = _read(spark, sf_dir, "embeddings")
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    e = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        "source", "embedding"
    )
    out = similarity.grouped_centroid_cosine(e, "source", "embedding", scale=8)
    return out.select(
        F.col("key_a").alias("source_a"),
        F.col("key_b").alias("source_b"),
        "n_a", "n_b", "cos",
    )


def sql_source_centroid_sim() -> str:
    return f"""
WITH e AS MATERIALIZED (
  SELECT d.source, t.i AS dim,
         CAST(floor(CAST(em.embedding[t.i + 1] AS DOUBLE) * 8) AS BIGINT) AS q
  FROM embeddings em
  JOIN documents d ON d.doc_id = em.vec_id, range({EMB_DIMS}) t(i)
),
s AS MATERIALIZED (
  SELECT source, dim, CAST(sum(q) AS BIGINT) AS s FROM e GROUP BY 1, 2
),
nrm AS (SELECT source, CAST(sum(s * s) AS BIGINT) AS ssq FROM s GROUP BY 1),
cnt AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n
  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
  GROUP BY 1
),
dot AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(sum(a.s * b.s) AS BIGINT) AS dot
  FROM s a JOIN s b ON a.dim = b.dim AND a.source < b.source
  GROUP BY 1, 2
)
SELECT dot.source_a, dot.source_b, ca.n AS n_a, cb.n AS n_b,
       CASE WHEN na.ssq = 0 OR nb.ssq = 0 THEN 0.0
            ELSE round(CAST(dot.dot AS DOUBLE)
                       / (sqrt(CAST(na.ssq AS DOUBLE)) * sqrt(CAST(nb.ssq AS DOUBLE))), 6)
       END AS cos
FROM dot
JOIN nrm na ON na.source = dot.source_a
JOIN nrm nb ON nb.source = dot.source_b
JOIN cnt ca ON ca.source = dot.source_a
JOIN cnt cb ON cb.source = dot.source_b
"""


# --- approximate kNN graph (NN-descent) --------------------------------
from spark_ifs_spark.operators import ivf  # noqa: E402
from spark_ifs_spark.operators import knn as _knn  # noqa: E402

KNN_GRAPH_K = 4  # emitted out-degree
KNN_GRAPH_ROUNDS = 3  # NN-descent refinement rounds
KNN_GRAPH_GROUPS = 8  # hash-ring seed groups
KNN_GRAPH_SCALE = 1024  # integer-state quantization (power of two)
KNN_GRAPH_SAMPLE_MOD = 20  # recall-audit node sample (id % mod == 0)
_KNN_WORK = 5 * KNN_GRAPH_K  # internal working degree (K = 5k)

@staged("knn_edges", "embeddings")
def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's kNN-graph edge relation ``(id, nb, score, rank)``
    for ``sf_dir`` at the gate knobs, session-staged: the NN-descent is
    the family's dominant cost and all seven graph consumers read the
    same edges. Each ORACLE still rebuilds the graph from scratch in
    SQL, so the value-hash gate keeps auditing the full build."""
    emb = _read(spark, sf_dir, "embeddings")
    nc = ivf.scaled_num_centroids(emb.count())
    return _knn.knn_graph(
        emb, "vec_id", "embedding", k=KNN_GRAPH_K, num_centroids=nc,
        rounds=KNN_GRAPH_ROUNDS, groups=KNN_GRAPH_GROUPS,
        scale=KNN_GRAPH_SCALE, work_degree=_KNN_WORK,
    )


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate directed kNN graph via IVF-seeded NN-descent — see
    :func:`~spark_ifs_spark.operators.knn.knn_graph`. Centroid count is
    corpus-scaled (constant ~128-vector cells) so seed cost stays
    linear; the edge relation comes from the session-staged build
    (:func:`_knn_edges`) shared by all seven graph consumers."""
    out = _knn_edges(spark, sf_dir)
    return out.select("id", "nb", F.round("score", 6).alias("score"), "rank")


def q_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of :func:`q_knn_graph` against EXACT top-k (same
    quantized metric) on the deterministic node sample — the
    ``minhash_recall_audit`` discipline for the graph family, run over
    the staged edge relation (audit-what-you-serve)."""
    emb = _read(spark, sf_dir, "embeddings", fan_out=True)
    return _knn.knn_graph_recall(
        emb, "vec_id", "embedding", k=KNN_GRAPH_K,
        scale=KNN_GRAPH_SCALE, sample_mod=KNN_GRAPH_SAMPLE_MOD,
        edges=_knn_edges(spark, sf_dir),
    )


def _sql_knn_score(pairs: str, kk: int) -> str:
    """Score a ``(id, nb)`` pair relation with the exact integer-state
    cosine and keep each id's top-``kk`` (score desc, nb asc) — the SQL
    twin of ``knn._scored`` + ``topk_per_key``."""
    return f"""
  SELECT id, nb,
         CASE WHEN sa = 0 OR sb = 0 THEN 0.0
              ELSE CAST(list_sum([qa[i + 1] * qb[i + 1] FOR i IN range({EMB_DIMS})]) AS DOUBLE)
                   / (sqrt(CAST(sa AS DOUBLE)) * sqrt(CAST(sb AS DOUBLE))) END AS score
  FROM (
    SELECT c.id, c.nb, a.qv AS qa, a.ssq AS sa, b.qv AS qb, b.ssq AS sb
    FROM {pairs} c JOIN kq a ON a.id = c.id JOIN kq b ON b.id = c.nb)
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY score DESC, nb ASC) <= {kk}"""


def _sql_knn_ctes() -> str:
    """The WITH-body shared by the two kNN-graph oracles: quantized
    vectors, ring + IVF-cell seeds, then KNN_GRAPH_ROUNDS unrolled
    NN-descent rounds ending at ``ke{R}`` (working-degree edge lists).
    MATERIALIZED per the unrolled-round rule (`_sql_unrolled_greedy`
    precedent) — later rounds reference earlier ones many times."""
    kk, g, sc = _KNN_WORK, KNN_GRAPH_GROUPS, KNN_GRAPH_SCALE
    cte = [f"""kq0 AS (
  SELECT vec_id AS id,
         [CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * {sc}) AS BIGINT) FOR i IN range({EMB_DIMS})] AS qv
  FROM embeddings
)""", """kq AS MATERIALIZED (
  SELECT id, qv, CAST(list_sum([x * x FOR x IN qv]) AS BIGINT) AS ssq FROM kq0
)""", f"""kpos AS MATERIALIZED (
  SELECT id, id % {g} AS g,
         row_number() OVER (PARTITION BY id % {g} ORDER BY id) - 1 AS rn,
         count(*) OVER (PARTITION BY id % {g}) AS cnt
  FROM kq
)""", f"""kring AS (
  SELECT p.id, t.id AS nb
  FROM kpos p
  CROSS JOIN (SELECT unnest(range(1, {kk + 1})) AS j) js
  JOIN kpos t ON t.g = p.g AND t.rn = (p.rn + js.j) % p.cnt
  WHERE js.j < p.cnt
)""", """kcents AS MATERIALIZED (
  SELECT id AS cid, qv AS cq, ssq AS cs FROM kq
  QUALIFY row_number() OVER (ORDER BY id) <= GREATEST(16, count(*) OVER () // 128)
)""", f"""kassign AS MATERIALIZED (
  SELECT id, cell FROM (
    SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY cscore DESC, cell ASC) AS rn
    FROM (
      SELECT id, cid AS cell,
             CASE WHEN cs = 0 THEN 0.0
                  ELSE CAST(list_sum([qv[i + 1] * cq[i + 1] FOR i IN range({EMB_DIMS})]) AS DOUBLE)
                       / sqrt(CAST(cs AS DOUBLE)) END AS cscore
      FROM (SELECT q.id, q.qv, c.cid, c.cq, c.cs FROM kq q CROSS JOIN kcents c)))
  WHERE rn = 1
)""", """kseed AS (
  SELECT DISTINCT id, nb FROM (
    SELECT id, nb FROM kring
    UNION ALL SELECT nb AS id, id AS nb FROM kring
    UNION ALL SELECT a.id, b.id AS nb FROM kassign a JOIN kassign b ON a.cell = b.cell AND a.id <> b.id)
)""", f"""ke0 AS MATERIALIZED ({_sql_knn_score('kseed', kk)}
)"""]
    for r in range(1, KNN_GRAPH_ROUNDS + 1):
        cte.append(f"""krev{r} AS (
  SELECT id, nb, score FROM (SELECT nb AS id, id AS nb, score FROM ke{r - 1})
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY score DESC, nb ASC) <= {kk}
)""")
        cte.append(f"""kb{r} AS MATERIALIZED (
  SELECT DISTINCT id, nb FROM (SELECT id, nb FROM ke{r - 1} UNION ALL SELECT id, nb FROM krev{r})
)""")
        cte.append(f"""kcand{r} AS MATERIALIZED (
  SELECT DISTINCT id, nb FROM (
    SELECT x.nb AS id, y.nb AS nb FROM kb{r} x JOIN kb{r} y ON x.id = y.id AND x.nb <> y.nb
    UNION ALL SELECT id, nb FROM kb{r}
    UNION ALL SELECT nb AS id, id AS nb FROM kb{r})
  WHERE id <> nb
)""")
        cte.append(f"""ke{r} AS MATERIALIZED ({_sql_knn_score(f'kcand{r}', kk)}
)""")
    return ",\n".join(cte)


def sql_knn_graph() -> str:
    rr = KNN_GRAPH_ROUNDS
    return f"""
WITH {_sql_knn_ctes()}
SELECT id, nb, round(score, 6) AS score, CAST(rnk AS INTEGER) AS rank
FROM {_sql_kranked(rr)}
WHERE rnk <= {KNN_GRAPH_K}
"""


def sql_knn_graph_recall() -> str:
    rr, k, mod = KNN_GRAPH_ROUNDS, KNN_GRAPH_K, KNN_GRAPH_SAMPLE_MOD
    truth_pairs = f"(SELECT a.id, b.id AS nb FROM kq a JOIN kq b ON a.id % {mod} = 0 AND a.id <> b.id)"
    return f"""
WITH {_sql_knn_ctes()},
kfin AS {_sql_kfin(rr, k)},
ktruth AS MATERIALIZED (
  SELECT id, nb FROM ({_sql_knn_score(truth_pairs, k)})
)
SELECT n.n_nodes, CAST({k} AS INTEGER) AS k, s.n_sample, h.hits, p.possible,
       CASE WHEN p.possible = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST(floor(h.hits * 1000000 / p.possible) AS BIGINT) END AS recall_ppm
FROM (SELECT count(*) AS n_nodes FROM kq) n,
     (SELECT count(*) AS n_sample FROM kq WHERE id % {mod} = 0) s,
     (SELECT count(*) AS hits FROM ktruth t JOIN kfin e ON e.id = t.id AND e.nb = t.nb) h,
     (SELECT count(*) AS possible FROM ktruth) p
"""


def q_knn_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based near-dup clusters: connected components of the
    MUTUAL kNN graph thresholded at ``EMB_DEDUP_THRESHOLD`` — the ANN
    approximation of the exact ``dedup_embedding`` pipeline and the
    consumer the graph family exists for. See
    :func:`~spark_ifs_spark.operators.knn.knn_graph_components`."""
    return _knn.knn_components_from_edges(
        _knn_edges(spark, sf_dir), threshold=EMB_DEDUP_THRESHOLD
    )


DIVERSITY_SELECT_K = 5  # greedy farthest-point picks
LABEL_PROP_ROUNDS = 3  # bounded vote-spread rounds
LABEL_PROP_SEED_MOD = 10  # seeds: id % mod == 0
LABEL_PROP_CLASSES = 4  # seed label = id % classes


def _sql_kranked(rr: int) -> str:
    """The ranked working-degree edge body over the unrolled descent's
    ``ke{rr}`` — ONE definition of the (score DESC, nb ASC) rank rule,
    shared by ``sql_knn_graph`` itself and every consumer oracle so the
    tie-break can never drift between the graph and its consumers."""
    return f"""(
    SELECT id, nb, score,
           row_number() OVER (PARTITION BY id ORDER BY score DESC, nb ASC) AS rnk
    FROM ke{rr})"""


def _sql_kfin(rr: int, k: int, extra_where: str = "") -> str:
    """Final top-``k`` edge CTE body (``id, nb, score``) over
    :func:`_sql_kranked`; ``extra_where`` appends a conjunct (e.g. the
    components oracle's score threshold)."""
    return f"""(
  SELECT id, nb, score FROM {_sql_kranked(rr)}
  WHERE rnk <= {k}{extra_where}
)"""


def q_graph_diversity_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point (k-center) diversity selection over the
    kNN graph — the embedding-space dual of ``coverage_select``'s term
    set cover and the second named consumer of :func:`q_knn_graph`;
    see :func:`~spark_ifs_spark.operators.knn.graph_diversity_select`."""
    emb = _read(spark, sf_dir, "embeddings")
    out = _knn.graph_diversity_select(
        _knn_edges(spark, sf_dir), emb.select("vec_id"), k=DIVERSITY_SELECT_K
    )
    return out.select("rank", "id", F.round("far_sim", 6).alias("far_sim"))


def sql_graph_diversity_select_k5() -> str:
    """Unrolled-greedy twin (`_sql_unrolled_greedy` discipline): the
    symmetrized max-score edge relation, then round r picks the
    (sim ASC, id ASC) argmin of the maintained sim-to-selected column
    and folds the winner's incident edges in with greatest()."""
    kd = DIVERSITY_SELECT_K
    cte = [
        _sql_knn_ctes(),
        f"kfin AS {_sql_kfin(KNN_GRAPH_ROUNDS, KNN_GRAPH_K)}",
        """gsym AS MATERIALIZED (
  SELECT id, nb, max(score) AS score FROM (
    SELECT id, nb, score FROM kfin
    UNION ALL SELECT nb AS id, id AS nb, score FROM kfin)
  GROUP BY id, nb
)""",
        "s1 AS (SELECT id, 0.0 AS far_sim FROM kq ORDER BY id LIMIT 1)",
        """d1 AS MATERIALIZED (
  SELECT q.id, coalesce(g.score, 0.0) AS sim
  FROM kq q
  LEFT JOIN (SELECT gsym.id, gsym.score FROM gsym JOIN s1 ON gsym.nb = s1.id) g
         ON g.id = q.id
  WHERE q.id NOT IN (SELECT id FROM s1)
)""",
    ]
    for r in range(2, kd + 1):
        cte.append(
            f"s{r} AS (SELECT id, sim AS far_sim FROM d{r - 1} "
            "ORDER BY sim ASC, id ASC LIMIT 1)"
        )
        cte.append(f"""d{r} AS MATERIALIZED (
  SELECT d.id, greatest(d.sim, coalesce(g.score, 0.0)) AS sim
  FROM d{r - 1} d
  LEFT JOIN (SELECT gsym.id, gsym.score FROM gsym JOIN s{r} ON gsym.nb = s{r}.id) g
         ON g.id = d.id
  WHERE d.id NOT IN (SELECT id FROM s{r})
)""")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, id, round(far_sim, 6) AS far_sim FROM s{r}"
        for r in range(1, kd + 1)
    )
    body = ",\n".join(cte)
    return f"""
WITH {body}
{union}
"""


def q_knn_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round label propagation over the kNN graph — the third
    named consumer of :func:`q_knn_graph`: deterministic seeds
    (``vec_id % LABEL_PROP_SEED_MOD == 0``, label ``vec_id %
    LABEL_PROP_CLASSES``) spread by integer majority vote for
    ``LABEL_PROP_ROUNDS`` rounds; see
    :func:`~spark_ifs_spark.operators.knn.label_propagation`."""
    emb = _read(spark, sf_dir, "embeddings")
    edges = _knn_edges(spark, sf_dir).select("id", "nb")
    seeds = (
        emb.select(F.col("vec_id").alias("id"))
        .filter((F.col("id") % LABEL_PROP_SEED_MOD) == 0)
        .select("id", (F.col("id") % LABEL_PROP_CLASSES).alias("label"))
    )
    return _knn.label_propagation(edges, seeds, rounds=LABEL_PROP_ROUNDS)


def sql_knn_label_prop() -> str:
    """Unrolled vote rounds: lp0 = seeds; round r labels the frontier
    (unlabeled nodes with labeled neighbors) with the (votes DESC,
    label ASC) winner, stamped round_converged = r."""
    mod, cls, rr = LABEL_PROP_SEED_MOD, LABEL_PROP_CLASSES, LABEL_PROP_ROUNDS
    cte = [
        _sql_knn_ctes(),
        f"kfin AS {_sql_kfin(KNN_GRAPH_ROUNDS, KNN_GRAPH_K)}",
        """lsym AS MATERIALIZED (
  SELECT DISTINCT id, nb FROM (
    SELECT id, nb FROM kfin UNION ALL SELECT nb AS id, id AS nb FROM kfin)
)""",
        f"""lp0 AS MATERIALIZED (
  SELECT id, id % {cls} AS label, 0 AS rc FROM kq WHERE id % {mod} = 0
)""",
    ]
    for r in range(1, rr + 1):
        cte.append(f"""n{r} AS (
  SELECT id, label, {r} AS rc FROM (
    SELECT e.id, l.label, count(*) AS c
    FROM lsym e JOIN lp{r - 1} l ON e.nb = l.id
    WHERE e.id NOT IN (SELECT id FROM lp{r - 1})
    GROUP BY e.id, l.label)
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) = 1
)""")
        cte.append(f"""lp{r} AS MATERIALIZED (
  SELECT * FROM lp{r - 1} UNION ALL SELECT * FROM n{r}
)""")
    body = ",\n".join(cte)
    return f"""
WITH {body}
SELECT id, label, CAST(rc AS INTEGER) AS round_converged FROM lp{rr}
"""


def sql_knn_graph_components() -> str:
    rr, k = KNN_GRAPH_ROUNDS, KNN_GRAPH_K
    thr = repr(EMB_DEDUP_THRESHOLD)
    return f"""
WITH RECURSIVE {_sql_knn_ctes()},
kfe AS {_sql_kfin(rr, k, extra_where=f" AND score >= {thr}")},
kmut AS (
  SELECT e1.id AS a, e1.nb AS b
  FROM kfe e1 JOIN kfe e2 ON e1.id = e2.nb AND e1.nb = e2.id
  WHERE e1.id < e1.nb
),
kedges AS (SELECT a, b FROM kmut UNION SELECT b AS a, a AS b FROM kmut),
kwalk(node, reach) AS (
  SELECT a, b FROM kedges
  UNION
  SELECT w.node, e.b FROM kwalk w JOIN kedges e ON w.reach = e.a
)
SELECT node AS id, least(node, min(reach)) AS component
FROM kwalk GROUP BY node
"""


FACILITY_SELECT_K = 5  # greedy facility-location picks


def q_facility_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location (max-sum representativeness) selection
    over the kNN graph — the submodular counterpart of
    ``graph_diversity_select_k5``'s max-min k-center and the fourth
    consumer of :func:`q_knn_graph`; see
    :func:`~spark_ifs_spark.operators.knn.facility_location_select`."""
    emb = _read(spark, sf_dir, "embeddings")
    return _knn.facility_location_select(
        _knn_edges(spark, sf_dir), emb.select("vec_id"), k=FACILITY_SELECT_K
    )


def sql_facility_select_k5() -> str:
    """Unrolled-greedy twin (`_sql_unrolled_greedy` discipline) with
    INTEGER-ppm gains: the symmetrized edge relation carries
    ``floor(max(score)·10⁶)`` so every marginal-gain sum is an exact
    BIGINT and the (gain DESC, id ASC) argmax matches Spark bit-for-bit
    (float gain sums would be summation-order-dependent)."""
    kd = FACILITY_SELECT_K
    cte = [
        _sql_knn_ctes(),
        f"kfin AS {_sql_kfin(KNN_GRAPH_ROUNDS, KNN_GRAPH_K)}",
        """fsym AS MATERIALIZED (
  SELECT id, nb, CAST(floor(max(score) * 1000000) AS BIGINT) AS sim FROM (
    SELECT id, nb, score FROM kfin
    UNION ALL SELECT nb AS id, id AS nb, score FROM kfin)
  GROUP BY id, nb
)""",
        "fb0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS best FROM kq)",
    ]
    sel_union = None
    for r in range(1, kd + 1):
        not_sel = f"WHERE b.id NOT IN ({sel_union})" if sel_union else ""
        cte.append(f"""fg{r} AS (
  SELECT b.id,
         coalesce(s.g, 0) + (1000000 - b.best) AS gain
  FROM fb{r - 1} b
  LEFT JOIN (
    SELECT fs.nb AS id, sum(greatest(fs.sim - bb.best, 0)) AS g
    FROM fsym fs JOIN fb{r - 1} bb ON fs.id = bb.id
    GROUP BY fs.nb) s ON s.id = b.id
  {not_sel}
)""")
        cte.append(
            f"fs{r} AS (SELECT id, gain FROM fg{r} "
            "ORDER BY gain DESC, id ASC LIMIT 1)"
        )
        cte.append(f"""fb{r} AS MATERIALIZED (
  SELECT f.id,
         CASE WHEN f.id IN (SELECT id FROM fs{r}) THEN CAST(1000000 AS BIGINT)
              ELSE greatest(f.best, coalesce(g.sim, 0)) END AS best
  FROM fb{r - 1} f
  LEFT JOIN (SELECT fsym.id, fsym.sim FROM fsym JOIN fs{r} ON fsym.nb = fs{r}.id) g
         ON g.id = f.id
)""")
        sel_union = " UNION ALL ".join(
            f"SELECT id FROM fs{i}" for i in range(1, r + 1)
        )
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, id, CAST(gain AS BIGINT) AS gain_ppm FROM fs{r}"
        for r in range(1, kd + 1)
    )
    body = ",\n".join(cte)
    return f"""
WITH {body}
{union}
"""


KNN_CENTRALITY_ITERS = 2  # power iterations (the textrank_keywords count)


def q_knn_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank representativeness over the MUTUAL kNN graph — the
    fifth consumer of :func:`q_knn_graph` (after dedup components,
    k-center diversity, label propagation and facility location):
    centrality in the similarity graph is the standard soft-dedup /
    sampling weight — a document many near-neighbors point back to is
    representative; an isolated one sits at the teleport floor. Reuses
    :func:`~spark_ifs_spark.operators.graph.pagerank` (exact integer
    micro-units, engine-identical) on the symmetrized mutual edge
    relation; the mutuality filter is the same asymmetric-hub guard as
    ``knn_graph_components``, so a hub nobody links back to gains no
    centrality. Output is the full node relation ``(id, pr_micro)``."""
    emb = _read(spark, sf_dir, "embeddings")
    mutual = _knn.mutual_knn_pairs(_knn_edges(spark, sf_dir))
    edges = mutual.select(
        F.col("id").alias("src"), F.col("nb").alias("dst")
    )
    from spark_ifs_spark.operators.graph import pagerank

    return pagerank(
        edges, emb.select("vec_id"), iters=KNN_CENTRALITY_ITERS,
        damping=PAGERANK_DAMPING,
    )


def sql_knn_centrality() -> str:
    """Shared `_sql_knn_ctes` edge relation + the unrolled integer
    pagerank rounds of ``sql_textrank_keywords`` (same arithmetic:
    truncating per-edge division, exact integer in-sums, one floored
    double product per node per round)."""
    teleport = int((1.0 - PAGERANK_DAMPING) * 1000000)
    d = PAGERANK_DAMPING
    cte = [
        _sql_knn_ctes(),
        f"kfin AS {_sql_kfin(KNN_GRAPH_ROUNDS, KNN_GRAPH_K)}",
        """cmut AS MATERIALIZED (
  SELECT e1.id AS src, e1.nb AS dst
  FROM kfin e1 JOIN kfin e2 ON e1.id = e2.nb AND e1.nb = e2.id
)""",
        "cdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM cmut GROUP BY 1)",
        "cr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM kq)",
    ]
    for r in range(1, KNN_CENTRALITY_ITERS + 1):
        cte.append(f"""cc{r} AS (
  SELECT e.dst AS id, CAST(sum(cr{r - 1}.pr // d.deg) AS BIGINT) AS s
  FROM cr{r - 1} JOIN cmut e ON e.src = cr{r - 1}.id JOIN cdeg d ON d.src = e.src
  GROUP BY 1
)""")
        cte.append(f"""cr{r} AS (
  SELECT kq.id,
         CAST({teleport} + floor({d} * CAST(coalesce(cc{r}.s, 0) AS DOUBLE)) AS BIGINT) AS pr
  FROM kq LEFT JOIN cc{r} USING (id)
)""")
    body = ",\n".join(cte)
    return f"""
WITH {body}
SELECT id, pr AS pr_micro FROM cr{KNN_CENTRALITY_ITERS}
"""


# graph-serving ANN (ann_topk_graph / ann_graph_recall_audit)
GRAPH_SEARCH_QIDS = [0, 41, 97]  # deterministic query rows (vec_ids)
GRAPH_SEARCH_EF = 32  # beam width
GRAPH_SEARCH_HOPS = 4  # expansion rounds
GRAPH_SEARCH_ENTRY = 16  # rendezvous entry points per query
# (measured recall@10 at the gate fixture: 37% at ef16/h3/e8, 90% at
# ef32/h4/e16, 97% at ef64/h5/e32 — the middle point is the gate)
GRAPH_SEARCH_SEED = 7  # rendezvous seed


def q_ann_topk_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving over the persisted kNN graph: batch greedy beam
    search (``ef``-walk) from rendezvous-seeded entry points — the
    consumer that turns the staged :func:`_knn_edges` artifact into a
    query-side index; see
    :func:`~spark_ifs_spark.operators.knn.graph_search`. Queries are
    the ``GRAPH_SEARCH_QIDS`` corpus rows (the ``ann_topk``
    vec_id-as-query convention, batched)."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(GRAPH_SEARCH_QIDS))
    out = _knn.graph_search(
        _knn_edges(spark, sf_dir), emb, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        k=ANN_K, ef=GRAPH_SEARCH_EF, hops=GRAPH_SEARCH_HOPS,
        n_entry=GRAPH_SEARCH_ENTRY, scale=KNN_GRAPH_SCALE,
        entry_seed=GRAPH_SEARCH_SEED,
    )
    return out.select(
        "qid", "id", F.round("score", 6).alias("score"), "rank"
    )


def q_ann_graph_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of :func:`q_ann_topk_graph` against EXACT
    top-k (same quantized metric, same query set) — every approximate
    path in this package ships its audit; see
    :func:`~spark_ifs_spark.operators.knn.graph_search_recall`."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(GRAPH_SEARCH_QIDS))
    return _knn.graph_search_recall(
        _knn_edges(spark, sf_dir), emb, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        k=ANN_K, ef=GRAPH_SEARCH_EF, hops=GRAPH_SEARCH_HOPS,
        n_entry=GRAPH_SEARCH_ENTRY, scale=KNN_GRAPH_SCALE,
        entry_seed=GRAPH_SEARCH_SEED,
    )


def _sql_gscore(pairs: str) -> str:
    """Score a ``(qid, id)`` candidate relation against the ``gq``
    query vectors with the exact integer-state cosine — the SQL twin
    of ``knn._scored_vs_queries`` (corpus vectors from ``kq``)."""
    return f"""
  SELECT qid, id,
         CASE WHEN sa = 0 OR sb = 0 THEN 0.0
              ELSE CAST(list_sum([qa[i + 1] * qb[i + 1] FOR i IN range({EMB_DIMS})]) AS DOUBLE)
                   / (sqrt(CAST(sa AS DOUBLE)) * sqrt(CAST(sb AS DOUBLE))) END AS score
  FROM (
    SELECT c.qid, c.id, a.qv AS qa, a.ssq AS sa, g.qv AS qb, g.ssq AS sb
    FROM {pairs} c JOIN kq a ON a.id = c.id JOIN gq g ON g.qid = c.qid)"""


def _sql_graph_search_ctes() -> str:
    """WITH-body shared by the two graph-serving oracles: the full
    graph-build chain (`_sql_knn_ctes` + `kfin`), the symmetrized
    navigation relation, query vectors, rendezvous entries, then
    ``GRAPH_SEARCH_HOPS`` unrolled beam refinements ending at
    ``gb{H}`` (qid, id, score)."""
    ef, ne = GRAPH_SEARCH_EF, GRAPH_SEARCH_ENTRY
    qids = ",".join(str(q) for q in GRAPH_SEARCH_QIDS)
    h = sql_md5_int60(
        f"concat('{GRAPH_SEARCH_SEED}:', CAST(g.qid AS VARCHAR), ':', "
        "CAST(k.id AS VARCHAR))"
    )
    cte = [
        _sql_knn_ctes(),
        f"kfin AS {_sql_kfin(KNN_GRAPH_ROUNDS, KNN_GRAPH_K)}",
        """gnav AS MATERIALIZED (
  SELECT DISTINCT id, nb FROM (
    SELECT id, nb FROM kfin UNION ALL SELECT nb AS id, id AS nb FROM kfin)
)""",
        f"gq AS MATERIALIZED (SELECT id AS qid, qv, ssq FROM kq WHERE id IN ({qids}))",
        f"""gent AS (
  SELECT qid, id FROM (
    SELECT g.qid, k.id, {h} AS h FROM kq k CROSS JOIN gq g)
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY h DESC, id ASC) <= {ne}
)""",
        f"""gb0 AS MATERIALIZED (
  SELECT qid, id, score FROM ({_sql_gscore('gent')})
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) <= {ef}
)""",
    ]
    for r in range(1, GRAPH_SEARCH_HOPS + 1):
        cte.append(f"""gc{r} AS (
  SELECT DISTINCT b.qid, e.nb AS id FROM gb{r - 1} b JOIN gnav e ON e.id = b.id
)""")
        cte.append(f"""gb{r} AS MATERIALIZED (
  SELECT qid, id, score FROM (
    SELECT DISTINCT qid, id, score FROM (
      SELECT qid, id, score FROM gb{r - 1}
      UNION ALL SELECT qid, id, score FROM ({_sql_gscore(f'gc{r}')})))
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) <= {ef}
)""")
    return ",\n".join(cte)


def sql_ann_topk_graph() -> str:
    hh, k = GRAPH_SEARCH_HOPS, ANN_K
    return f"""
WITH {_sql_graph_search_ctes()}
SELECT qid, id, round(score, 6) AS score, CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT qid, id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
  FROM gb{hh} WHERE qid <> id)
WHERE rnk <= {k}
"""


def sql_ann_graph_recall_audit() -> str:
    hh, k = GRAPH_SEARCH_HOPS, ANN_K
    truth_pairs = "(SELECT g.qid, k.id FROM kq k CROSS JOIN gq g WHERE k.id <> g.qid)"
    return f"""
WITH {_sql_graph_search_ctes()},
gtruth AS MATERIALIZED (
  SELECT qid, id FROM ({_sql_gscore(truth_pairs)})
  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) <= {k}
),
ggot AS (
  SELECT qid, id FROM (
    SELECT qid, id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rnk
    FROM gb{hh} WHERE qid <> id)
  WHERE rnk <= {k}
)
SELECT n.n_queries, CAST({k} AS INTEGER) AS k, h.hits, p.possible,
       CASE WHEN p.possible = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST(floor(h.hits * 1000000 / p.possible) AS BIGINT) END AS recall_ppm
FROM (SELECT count(*) AS n_queries FROM gq) n,
     (SELECT count(*) AS hits FROM gtruth t JOIN ggot e ON e.qid = t.qid AND e.id = t.id) h,
     (SELECT count(*) AS possible FROM gtruth) p
"""
