"""Deduplication & decontamination queries (exact through embedding-LSH)."""

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
    _aug_hi_embeddings,
    _sql_aug_hi,
    _sql_emb_long,
    _sql_emb_lsh_cand,
    _sql_emb_lsh_cand_impl,
    _sql_pair_mi,
    _sql_unrolled_greedy,
    _t,
    _url_fixture_expr,
    _c4_line_fixture_expr,
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", ["text"])


def sql_dedup_exact() -> str:
    return "SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY text"


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fed from the staged shingle relation: word_shingles is a
    # scan-fused projection, and a paired A/B measured the staged-parquet
    # read (≈3× corpus bytes) strictly worse here (1.80 -> 2.39 s at
    # sf0.1) — injection only pays where downstream work is eliminated
    # (the staged PAIR relations), not where it merely replaces a cheap
    # map-side build with a bigger read
    docs = _read(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", NGRAM_N, JACCARD_THRESHOLD, max_df=NGRAM_MAX_DF
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def sql_dedup_ngram_jaccard() -> str:
    # Same semantics as the Spark side: candidate pairs require a shared
    # shingle with DF <= NGRAM_MAX_DF; the Jaccard itself is exact over
    # ALL shingles of the candidate pair.
    return f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM sh x
  JOIN sh y ON x.sh = y.sh AND x.id < y.id
  JOIN dfreq d ON d.sh = x.sh
  WHERE d.df <= {NGRAM_MAX_DF}
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh x ON x.id = c.id_a
  JOIN sh y ON y.id = c.id_b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {JACCARD_THRESHOLD}
"""


PREFIX_N = 3             # trigram shingles: 27k-term vocabulary at sf0.1, so the
#                          (df, digest) prefix order actually discriminates (bigrams
#                          collapse to ~900 stop-terms and the filter cannot prune)
PREFIX_THRESHOLD = 0.75  # exact Jaccard floor — dyadic, so ceil(t*n) is float-exact
#                          at every set size (0.8 rounds UP at n=50 and would
#                          over-shorten the lossless prefix bound)
# _prefix_pairs injects the staged NGRAM_N shingles into the PREFIX_N join
assert PREFIX_N == NGRAM_N


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs/
    PPJoin, Bayardo et al. WWW'07) — the lossless counterpart to
    ``dedup_minhash`` on bigram shingle sets; see
    :func:`~spark_ifs_spark.operators.dedup.jaccard_prefix_pairs`."""
    out = _prefix_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def sql_dedup_jaccard_prefix() -> str:
    # brute-force exact Jaccard over the SAME bigram digests — the
    # prefix filter is lossless, so the oracle needs no filter at all
    n = PREFIX_N
    shingle_of = f"array_to_string(t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+{n})], ' ')"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS id, {sql_md5_int60(shingle_of)} AS h
  FROM toks, unnest(generate_series(0, len(t) - {n})) AS u(i)
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
  FROM sh x JOIN sh y ON y.h = x.h AND x.id < y.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {PREFIX_THRESHOLD}
"""


def q_dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs under length-band blocking — the fuzzy
    dedup complement to token-set Jaccard (catches single-char edits
    Jaccard over-counts and transpositions it misses)."""
    docs = _read(spark, sf_dir, "documents")
    out = dedup.edit_distance_pairs(
        docs, "doc_id", "text",
        max_dist=EDIT_MAX_DIST, len_band=EDIT_LEN_BAND, len_col="n_chars",
    )
    return out.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


def sql_dedup_fuzzy_edit() -> str:
    # same blocking semantics: only pairs within the length band are
    # candidates (band >= max_dist makes the block lossless)
    return f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS dist
FROM documents a
JOIN documents b
  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= {EDIT_LEN_BAND}
WHERE levenshtein(a.text, b.text) <= {EDIT_MAX_DIST}
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _minhash_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def sql_dedup_minhash() -> str:
    return _sql_minhash_pairs(JACCARD_THRESHOLD)


def _sql_minhash_pairs(threshold: float) -> str:
    params = minhash_params(MINHASH_HASHES)
    hash_rows = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(params))
    rpb = MINHASH_ROWS_PER_BAND
    powers = ", ".join(f"({j}, {sql_band_power(j)})" for j in range(rpb))
    return f"""
WITH {_SQL_SHINGLES},
shi AS (SELECT id, {sql_md5_int60('sh')} AS x FROM sh),
hp(i, a, b) AS (VALUES {hash_rows}),
pw(j, p) AS (VALUES {powers}),
sig AS (
  SELECT shi.id, hp.i, min((hp.a * (shi.x % {MINHASH_P}) + hp.b) % {MINHASH_P}) AS minh
  FROM shi CROSS JOIN hp
  GROUP BY 1, 2
),
bands AS (
  SELECT id, CAST(floor(i * 1.0 / {rpb}) AS INT) AS band,
         sum((minh * pw.p) % {MINHASH_P}) % {MINHASH_P} AS bkey
  FROM sig JOIN pw ON pw.j = i % {rpb}
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS i
  FROM cand
  JOIN sh x ON x.id = cand.id_a
  JOIN sh y ON y.id = cand.id_b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {threshold}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=SIMHASH_BITS)


def sql_dedup_simhash() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
),
th AS (SELECT id, {sql_md5_int60('w')} AS h FROM toks),
votes AS (
  SELECT id, b.bit, sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range({SIMHASH_BITS}) b(bit)
  GROUP BY 1, 2
)
SELECT id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM votes GROUP BY 1
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (fifth dedup modality): every
    vector pair with cosine ≥ threshold, via the blocked-GEMM all-pairs
    kernel. Exact (not LSH-gated), so the SQL oracle is the literal
    definition."""
    emb = _read(spark, sf_dir, "embeddings")
    out = similarity.cosine_threshold_pairs(
        emb, "vec_id", "embedding", threshold=EMB_DEDUP_THRESHOLD
    )
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def sql_dedup_embedding() -> str:
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
SELECT id_a, id_b, round(cos, 6) AS cos FROM scored WHERE cos >= {EMB_DEDUP_THRESHOLD}
"""


def q_dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup query through the DISTRIBUTED plan: triangular
    block-matrix GEMM (`similarity.py:_blocked_pairs_kernel`) — no
    driver collect, no in-core gate, recall-complete by construction,
    so it is graded against the identical exact oracle as
    ``dedup_embedding``. This is the 100 TB path; the broadcast kernel
    is the fast path at or under ``similarity.INCORE_VECTOR_BUDGET``
    vectors and falls back to this one past it."""
    emb = _read(spark, sf_dir, "embeddings")
    out = similarity.cosine_threshold_pairs_blocked(
        emb, "vec_id", "embedding", threshold=EMB_DEDUP_THRESHOLD, num_blocks=4
    )
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


@staged("emb_lsh_pairs", "embeddings")
def _emb_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demo-knob (0.4-threshold) sign-LSH embedding pair relation
    ``(id_a, id_b, cos)``, session-staged: it feeds the pair query and
    its recall audit's detect side. ``cos`` is the kernel's raw double
    (rounding happens at the consumer)."""
    emb = _read(spark, sf_dir, "embeddings", fan_out=True)
    return similarity.cosine_lsh_pairs(
        emb,
        "vec_id",
        "embedding",
        EMB_DIMS,
        threshold=EMB_DEDUP_THRESHOLD,
        num_planes=EMB_LSH_PLANES,
        num_tables=EMB_LSH_TABLES,
        seed=EMB_LSH_SEED,
    ).select("id_a", "id_b", "cos")


@staged("emb_lsh_hi_pairs", "embeddings")
def _emb_lsh_hi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-knob (threshold 0.9) sign-LSH pair relation over
    the augmented corpus, session-staged like :func:`_emb_lsh_pairs`."""
    aug = _aug_hi_embeddings(spark, sf_dir)
    return similarity.cosine_lsh_pairs(
        aug,
        "vec_id",
        "embedding",
        EMB_DIMS,
        threshold=EMB_LSH_HI_THRESHOLD,
        num_planes=EMB_LSH_HI_PLANES,
        num_tables=EMB_LSH_HI_TABLES,
        seed=EMB_LSH_SEED,
    ).select("id_a", "id_b", "cos")


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through the LSH-bucketed scale path:
    candidates only from hyperplane-sign bucket collisions (P=6 bits ×
    L=32 OR-amplified tables), exact cosine verify. The oracle embeds
    the SAME seeded hyperplanes as SQL VALUES and replicates the bucket
    gate exactly (the ``sql_ann_topk_lsh`` pattern) — approximate ≠
    unchecked. Recall vs the exact blocked kernel is audited by
    ``dedup_embedding_lsh_recall``. Served from the session-staged
    build (:func:`_emb_lsh_pairs`) shared with that audit."""
    out = _emb_lsh_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def sql_dedup_embedding_lsh() -> str:
    return f"""
WITH {_sql_emb_lsh_cand()}
SELECT id_a, id_b, round(cos, 6) AS cos
FROM lsh_pairs WHERE cos >= {EMB_DEDUP_THRESHOLD}
"""


def q_dedup_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the LSH-bucketed embedding dedup against the
    exact (recall-complete) blocked-GEMM kernel at the same threshold:
    ``(n_exact, n_lsh, n_hit, recall_ppm)`` — the ``ann_recall_audit``
    pattern. A pytest asserts recall_ppm ≥ 900_000."""
    emb = _read(spark, sf_dir, "embeddings")
    exact = similarity.cosine_threshold_pairs_blocked(
        emb, "vec_id", "embedding", threshold=EMB_DEDUP_THRESHOLD, num_blocks=4
    ).select("id_a", "id_b")
    # detect side from the session-staged build — the audited pair
    # relation IS q_dedup_embedding_lsh's relation, so auditing the
    # staged parquet audits exactly what that query serves
    found = _emb_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    # all three counts in ONE pass: a full outer join of the two
    # distinct pair sets keeps one row per pair in either set, so
    # count(_e) = n_exact, count(_f) = n_lsh, and rows carrying both
    # flags are the hits — the former shape evaluated the blocked-GEMM
    # kernel and the 240-plane LSH pass twice each (agg + semi-join)
    j = exact.withColumn("_e", F.lit(1)).join(
        found.withColumn("_f", F.lit(1)), ["id_a", "id_b"], "full"
    )
    return j.agg(
        F.count("_e").alias("n_exact"),
        F.count("_f").alias("n_lsh"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_f").isNotNull(), 1)).alias(
            "n_hit"
        ),
    ).select(
        "n_exact",
        "n_lsh",
        "n_hit",
        F.expr("(1000000 * n_hit) div n_exact").alias("recall_ppm"),
    )


def sql_dedup_embedding_lsh_recall() -> str:
    return f"""
WITH {_sql_emb_lsh_cand()},
exact_pairs AS (
  SELECT ua.vec_id AS id_a, ub.vec_id AS id_b, list_dot_product(ua.u, ub.u) AS cos
  FROM unit ua JOIN unit ub ON ua.vec_id < ub.vec_id
),
e AS (SELECT id_a, id_b FROM exact_pairs WHERE cos >= {EMB_DEDUP_THRESHOLD}),
f AS (SELECT id_a, id_b FROM lsh_pairs WHERE cos >= {EMB_DEDUP_THRESHOLD}),
h AS (SELECT e.id_a, e.id_b FROM e JOIN f USING (id_a, id_b))
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM f) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM h) AS BIGINT) AS n_hit,
       CAST((1000000 * (SELECT count(*) FROM h)) // (SELECT count(*) FROM e) AS BIGINT) AS recall_ppm
"""


def q_dedup_embedding_lsh_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at the PRODUCTION dedup threshold
    (cosine ≥ 0.9) with P=10 bits × L=12 tables — the s-curve regime
    where sign-LSH prunes the candidate space by orders of magnitude
    (audited by ``dedup_embedding_lsh_hi_audit``), unlike the
    weak-discrimination 0.4-threshold demo. The raw synthetic corpus has
    no ≥0.9 pairs, so the query plants deterministic near-dup replicas
    (cosine ≈ 0.9998) via exact rational perturbation both engines
    compute bit-identically."""
    out = _emb_lsh_hi_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def sql_dedup_embedding_lsh_hi() -> str:
    chain = _sql_emb_lsh_cand_impl(
        "aug", EMB_LSH_HI_PLANES, EMB_LSH_HI_TABLES, EMB_LSH_SEED
    )
    return f"""
WITH {_sql_aug_hi()},
{chain}
SELECT id_a, id_b, round(cos, 6) AS cos
FROM lsh_pairs WHERE cos >= {EMB_LSH_HI_THRESHOLD}
"""


def q_dedup_embedding_lsh_hi_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB argument for the LSH path, measured and hash-gated:
    ``(n_exact, n_lsh, n_hit, recall_ppm, n_cand, n_allpairs,
    cand_ppm)`` — recall vs the exact blocked kernel at threshold 0.9
    AND the candidate-pruning ratio (distinct LSH bucket collisions vs
    n·(n−1)/2). At production thresholds cand_ppm sits orders of
    magnitude below 1e6; the 0.4-threshold demo cannot show that."""
    # aug feeds four pipelines (exact kernel, LSH verify, candidate
    # census, n_allpairs) — persist it or the planted-replica union is
    # recomputed by each. exact/found used to be persisted because each
    # fed two aggregates (count + semi-join); the full-outer-join
    # restructure below evaluates each pair set exactly ONCE, so the
    # persists (and the second evaluation they guarded against) are gone
    # (measured 17 s -> ~9 s with persists at sf0.1; the one-pass shape
    # drops the persist memory too)
    aug = _aug_hi_embeddings(spark, sf_dir).persist()
    exact = similarity.cosine_threshold_pairs_blocked(
        aug, "vec_id", "embedding", threshold=EMB_LSH_HI_THRESHOLD, num_blocks=4
    ).select("id_a", "id_b")
    # detect side from the session-staged build shared with
    # q_dedup_embedding_lsh_hi (the audited relation IS that query's)
    found = _emb_lsh_hi_pairs(spark, sf_dir).select("id_a", "id_b")
    cand = similarity.lsh_candidate_pairs(
        aug,
        "vec_id",
        "embedding",
        EMB_DIMS,
        num_planes=EMB_LSH_HI_PLANES,
        num_tables=EMB_LSH_HI_TABLES,
        seed=EMB_LSH_SEED,
    )
    efh = (
        exact.withColumn("_e", F.lit(1))
        .join(found.withColumn("_f", F.lit(1)), ["id_a", "id_b"], "full")
        .agg(
            F.count("_e").alias("n_exact"),
            F.count("_f").alias("n_lsh"),
            F.count(
                F.when(F.col("_e").isNotNull() & F.col("_f").isNotNull(), 1)
            ).alias("n_hit"),
        )
    )
    return (
        efh.crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(
            aug.agg(
                (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
                .cast("long")
                .alias("n_allpairs")
            )
        )
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            F.expr("(1000000 * n_hit) div n_exact").alias("recall_ppm"),
            "n_cand",
            "n_allpairs",
            F.expr("(1000000 * n_cand) div n_allpairs").alias("cand_ppm"),
        )
    )


def sql_dedup_embedding_lsh_hi_audit() -> str:
    chain = _sql_emb_lsh_cand_impl(
        "aug", EMB_LSH_HI_PLANES, EMB_LSH_HI_TABLES, EMB_LSH_SEED
    )
    return f"""
WITH {_sql_aug_hi()},
{chain},
exact_pairs AS (
  SELECT ua.vec_id AS id_a, ub.vec_id AS id_b, list_dot_product(ua.u, ub.u) AS cos
  FROM unit ua JOIN unit ub ON ua.vec_id < ub.vec_id
),
e AS (SELECT id_a, id_b FROM exact_pairs WHERE cos >= {EMB_LSH_HI_THRESHOLD}),
f AS (SELECT id_a, id_b FROM lsh_pairs WHERE cos >= {EMB_LSH_HI_THRESHOLD}),
h AS (SELECT e.id_a, e.id_b FROM e JOIN f USING (id_a, id_b)),
np AS (SELECT CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_allpairs FROM aug)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM f) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM h) AS BIGINT) AS n_hit,
       CAST((1000000 * (SELECT count(*) FROM h)) // (SELECT count(*) FROM e) AS BIGINT) AS recall_ppm,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       (SELECT n_allpairs FROM np) AS n_allpairs,
       CAST((1000000 * (SELECT count(*) FROM cand)) // (SELECT n_allpairs FROM np) AS BIGINT) AS cand_ppm
"""


def q_decontam_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 word 4-gram with
    the held-out eval subset (doc_id % 97 == 0)."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    eval_set = docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    return dedup.contaminated_ids(corpus, eval_set, "doc_id", "text", n=DECONTAM_N)


def sql_decontam_ids() -> str:
    n = DECONTAM_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, array_to_string(t[s.i + 1 : s.i + {n}], ' ') AS sh
  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - {n})) AS i) s
  WHERE len(t) >= {n}
)
SELECT DISTINCT c.doc_id AS id
FROM sh c
WHERE c.doc_id % {DECONTAM_EVAL_MOD} != 0
  AND EXISTS (
    SELECT 1 FROM sh e
    WHERE e.doc_id % {DECONTAM_EVAL_MOD} = 0 AND e.sh = c.sh
  )
"""


@staged("prefix_pairs", "documents")
def _prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's lossless prefix-filter exact-Jaccard pair relation
    ``(id_a, id_b, jaccard)`` at the gate knobs (PREFIX_N,
    PREFIX_THRESHOLD), session-staged from the staged shingles. Shared
    by the pair query and the recall audit's truth side."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_pairs(
        docs, "doc_id", "text", n=PREFIX_N, threshold=PREFIX_THRESHOLD,
        sh=_shingles(spark, sf_dir),
    ).select("id_a", "id_b", "jaccard")


@staged("shingles", "documents")
def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's distinct ``(id, sh)`` word ``NGRAM_N``-shingle
    relation over ``documents``, session-staged. Shared by
    :func:`_minhash_pairs`, :func:`_prefix_pairs`,
    ``q_dedup_incremental`` and the novelty/boilerplate statistics, so
    none of them re-tokenizes the corpus."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return dedup.word_shingles(docs, "doc_id", "text", NGRAM_N)


@staged("minhash_pairs", "documents")
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's minhash-LSH near-dup pair relation
    ``(id_a, id_b, jaccard)`` at the gate knobs, session-staged from the
    staged shingles. Shared by the pairs query, the source matrix, the
    shard-locality audit and :func:`_dup_clusters`."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        n=NGRAM_N, num_hashes=MINHASH_HASHES,
        rows_per_band=MINHASH_ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
        sh=_shingles(spark, sf_dir),
    ).select("id_a", "id_b", "jaccard")


@staged("dup_clusters", "documents")
def _dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's minhash cluster relation ``(doc_id, cluster)``
    (connected components of :func:`_minhash_pairs`, min-id label),
    session-staged: eight registry queries consume it."""
    from spark_ifs_spark.operators.graph import connected_components

    return connected_components(_minhash_pairs(spark, sf_dir)).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: connected components over the minhash-LSH pair
    graph (min-id label). The step that turns pairwise near-dup output
    into "keep one per cluster". Served from the session-staged build
    (:func:`_dup_clusters`) shared by all eight cluster consumers."""
    return _dup_clusters(spark, sf_dir)


def sql_dup_clusters() -> str:
    """Transitive closure via recursive CTE over the same pair relation
    (exact at oracle scale; the Spark side is the O(log n) iterative
    form that survives corpus scale)."""
    return f"""
WITH RECURSIVE pairs AS (
  {sql_dedup_minhash()}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(node, reach) AS (
  SELECT a, b FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a
)
SELECT node AS doc_id, least(node, min(reach)) AS cluster
FROM walk GROUP BY node
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: documents with ``doc_id % 10 == 0``
    play the newly-ingested batch, the rest the existing corpus; only
    new×corpus band collisions are verified — the corpus is never
    self-joined (``dedup.minhash_lsh_pairs_against``)."""
    docs = _read(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    # shingles are per-doc, so the batch split commutes with the build:
    # filtering the session-staged corpus relation by the same predicate
    # yields exactly word_shingles(new/corpus) without re-tokenizing
    sh = _shingles(spark, sf_dir)
    out = dedup.minhash_lsh_pairs_against(
        new, corpus, "doc_id", "text",
        n=NGRAM_N, num_hashes=MINHASH_HASHES,
        rows_per_band=MINHASH_ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
        sh_new=sh.where(F.col("id") % 10 == 0),
        sh_corpus=sh.where(F.col("id") % 10 != 0),
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def sql_dedup_incremental() -> str:
    params = minhash_params(MINHASH_HASHES)
    hash_rows = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(params))
    rpb = MINHASH_ROWS_PER_BAND
    powers = ", ".join(f"({j}, {sql_band_power(j)})" for j in range(rpb))
    return f"""
WITH {_SQL_SHINGLES},
shi AS (SELECT id, {sql_md5_int60('sh')} AS x FROM sh),
hp(i, a, b) AS (VALUES {hash_rows}),
pw(j, p) AS (VALUES {powers}),
sig AS (
  SELECT shi.id, hp.i, min((hp.a * (shi.x % {MINHASH_P}) + hp.b) % {MINHASH_P}) AS minh
  FROM shi CROSS JOIN hp
  GROUP BY 1, 2
),
bands AS (
  SELECT id, CAST(floor(i * 1.0 / {rpb}) AS INT) AS band,
         sum((minh * pw.p) % {MINHASH_P}) % {MINHASH_P} AS bkey
  FROM sig JOIN pw ON pw.j = i % {rpb}
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.id % 10 = 0 AND b.id % 10 <> 0
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS i
  FROM cand
  JOIN sh x ON x.id = cand.id_a
  JOIN sh y ON y.id = cand.id_b AND y.sh = x.sh
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {JACCARD_THRESHOLD}
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style repeated-span removal: every non-first
    occurrence of an 8-word span is cut corpus-wide and documents are
    reassembled from their surviving spans (emptied docs drop)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.span_dedup(docs, "doc_id", "text", span_words=SPAN_WORDS)


def sql_dedup_spans() -> str:
    w = SPAN_WORDS
    span_of = f"array_to_string(t[(CAST(u.i AS INT)*{w}+1):(CAST(u.i AS INT)*{w}+{w})], ' ')"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
spans AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         {sql_md5_int60(span_of)} AS h
  FROM toks, unnest(generate_series(0, CAST(ceil(len(t) / {w}.0) AS BIGINT) - 1)) AS u(i)
),
win AS (SELECT h, min([doc_id, CAST(pos AS BIGINT)]) AS wnr FROM spans GROUP BY h),
kp AS (
  SELECT wnr[1] AS doc_id, list_sort(list(CAST(wnr[2] AS INT))) AS kp
  FROM win GROUP BY 1
)
SELECT t.doc_id,
       array_to_string(
         list_transform(kp.kp, p -> array_to_string(t.t[(p*{w}+1):(p*{w}+{w})], ' ')),
         ' ') AS text
FROM toks t JOIN kp ON t.doc_id = kp.doc_id
"""


SUBSTR_K = 8          # overlapping shingle width (tokens)
SUBSTR_MIN_RUN = 16   # keep maximal duplicated runs covering >= this many tokens


def q_dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token runs (ExactSubstr-style, Lee et al.
    2022): islands of consecutive positions whose overlapping 8-token
    shingle occurs >= 2 times corpus-wide, kept at >= 16 covered tokens
    — see :func:`~spark_ifs_spark.operators.dedup.duplicate_substring_runs`."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return dedup.duplicate_substring_runs(
        docs, "doc_id", "text", k=SUBSTR_K, min_run_tokens=SUBSTR_MIN_RUN
    )


def sql_dedup_substring_runs() -> str:
    k = SUBSTR_K
    shingle_of = f"array_to_string(t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+{k})], ' ')"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos, {sql_md5_int60(shingle_of)} AS h
  FROM toks, unnest(generate_series(0, len(t) - {k})) AS u(i)
),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM sh JOIN dup USING (h)
)
SELECT doc_id, CAST(min(pos) AS INT) AS start_tok,
       CAST(max(pos) - min(pos) + {k} AS INT) AS run_tokens
FROM isl GROUP BY doc_id, g
HAVING max(pos) - min(pos) + {k} >= {SUBSTR_MIN_RUN}
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between the documents table and a derived "next
    version" (drop ``id % 7 == 0``, rewrite ``id % 11 == 0``, append
    re-keyed copies) — one full-outer digest join; see
    :func:`~spark_ifs_spark.operators.dedup.corpus_diff`. Reported as
    bounded per-status counts."""
    from spark_ifs_spark.operators.textstats import fingerprint

    docs = _read(spark, sf_dir, "documents")
    old = fingerprint(docs, "doc_id", "text")
    edited = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # ordered limit → TakeOrdered: deterministic, unlike a bare limit
    appended = (
        docs.orderBy("doc_id")
        .limit(50)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    new = fingerprint(edited.unionByName(appended), "doc_id", "text")
    # fingerprint() aliases the id column to "id"
    return (
        dedup.corpus_diff(old, new, "id", "fp")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sql_corpus_diff() -> str:
    return """
WITH fp AS (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         text
  FROM documents
), new_docs AS (
  SELECT id, CASE WHEN id % 11 = 0 THEN text || ' v2' ELSE text END AS text
  FROM fp WHERE id % 7 != 0
  UNION ALL
  SELECT id + 10000000 AS id, text
  FROM (SELECT id, text FROM fp ORDER BY id LIMIT 50)
), new_fp AS (
  SELECT id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM new_docs
)
SELECT CASE WHEN o.fp IS NULL THEN 'added'
            WHEN n.fp IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*) AS n
FROM fp o FULL OUTER JOIN new_fp n USING (id)
GROUP BY 1
"""


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark contamination: per-corpus-doc fraction (integer
    ppm) of distinct word 4-grams shared with the held-out eval subset
    (doc_id % 97 == 0) — the thresholdable form of ``decontam_ids``."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    eval_set = docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
    return dedup.contamination_overlap(
        corpus, eval_set, "doc_id", "text", n=DECONTAM_N
    )


def sql_decontam_overlap() -> str:
    n = DECONTAM_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[s.i + 1 : s.i + {n}], ' ') AS sh
  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - {n})) AS i) s
  WHERE len(t) >= {n}
), ev AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
)
SELECT c.doc_id AS id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(floor(CAST(sum(CASE WHEN ev.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  * 1000000 / CAST(count(*) AS BIGINT)) AS BIGINT) AS overlap_ppm
FROM sh c LEFT JOIN ev ON c.sh = ev.sh
WHERE c.doc_id % {DECONTAM_EVAL_MOD} != 0
GROUP BY 1
"""


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-robust exact dedup: lowercase / strip punctuation /
    collapse whitespace, then group on a 60-bit digest of the canonical
    form (``dedup.exact_dedup_normalized`` — the digest-key shuffle)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup_normalized(docs, "doc_id", "text")


def sql_dedup_exact_normalized() -> str:
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
        " ' +', ' ', 'g'))"
    )
    return f"""
SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups, nd AS norm_digest
FROM (SELECT doc_id, {sql_md5_int60(norm)} AS nd FROM documents)
GROUP BY nd
"""


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — the eval-set-too-
    big-to-broadcast path: a numpy Bloom sketch over eval 5-gram hashes
    is broadcast, kills ~99% of corpus shingles INSIDE the scan stage
    (Arrow-batched pandas predicate), and a shuffle semi-join confirms
    exactly, so false positives never reach the result and the oracle
    is the plain overlap SQL. See :func:`~spark_ifs_spark.operators.
    dedup.contaminated_ids_bloom`."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    eval_set = docs.filter(F.col("doc_id") % BLOOM_EVAL_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % BLOOM_EVAL_MOD != 0)
    return dedup.contaminated_ids_bloom(
        corpus, eval_set, "doc_id", "text", n=BLOOM_DECONTAM_N
    )


def sql_decontam_bloom() -> str:
    n = BLOOM_DECONTAM_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, array_to_string(t[s.i + 1 : s.i + {n}], ' ') AS sh
  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - {n})) AS i) s
  WHERE len(t) >= {n}
)
SELECT DISTINCT c.doc_id AS id
FROM sh c
WHERE c.doc_id % {BLOOM_EVAL_MOD} != 0
  AND EXISTS (
    SELECT 1 FROM sh e
    WHERE e.doc_id % {BLOOM_EVAL_MOD} = 0 AND e.sh = c.sh
  )
"""


def q_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: (cluster_size, n_clusters) over
    the minhash connected components — the one-line summary of how
    duplication is distributed (many doubletons vs one giant template
    cluster demand different dedup policies). Plan: two bounded
    aggregates over the cluster relation, which is already
    corpus-sublinear (only docs with ≥1 near-dup edge appear)."""
    cc = _dup_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("cluster").alias("component")
    )
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def sql_cluster_size_stats() -> str:
    return f"""
SELECT cluster_size, count(*) AS n_clusters
FROM (
  SELECT cluster, count(*) AS cluster_size
  FROM ({sql_dup_clusters()}) c
  GROUP BY cluster
) s
GROUP BY cluster_size
"""


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based survivor selection: per near-dup cluster, keep the
    HIGHEST-quality member (ties to the lowest id) instead of the
    min-id convention — the policy real pipelines want, since the first
    crawl of a page is rarely its cleanest copy. One ``max_by``-style
    ``max(struct(quality, -id))`` aggregate over the cluster relation
    joined with the (map-side) quality scores; no window, no sort."""
    from spark_ifs_spark.operators.textstats import quality_score

    docs = _read(spark, sf_dir, "documents")
    cc = _dup_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("cluster").alias("component")
    )
    qual = quality_score(docs, "doc_id", "text").select("id", "quality")
    best = (
        cc.join(qual, "id")
        .groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("quality").alias("q"), (-F.col("id")).alias("neg_id")
                )
            ).alias("_b"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            F.col("component").alias("cluster"),
            (-F.col("_b.neg_id")).cast("long").alias("keep_id"),
            F.round("_b.q", 6).alias("keep_quality"),
            "cluster_size",
        )
    )
    return best


def sql_cluster_representatives() -> str:
    return f"""
WITH clusters AS (SELECT * FROM ({sql_dup_clusters()}) t),
qual AS (
  SELECT id, least(n_words / 50.0, 1.0)
           * (1.0 - least(abs(mean_wl - 5.0) / 5.0, 1.0))
           * least(stop_ratio * 5.0, 1.0) AS quality
  FROM (
    SELECT doc_id AS id,
           len(string_split(text, ' ')) AS n_words,
           (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
             / len(string_split(text, ' ')) AS mean_wl,
           ({' + '.join(_sql_count_word(w) for w in textstats.STOPWORDS)}) * 1.0
             / len(string_split(text, ' ')) AS stop_ratio
    FROM documents
  ) b
),
j AS (
  SELECT c.cluster, c.doc_id, q.quality
  FROM clusters c JOIN qual q ON q.id = c.doc_id
),
mx AS (
  SELECT cluster, max(quality) AS mq, count(*) AS cluster_size
  FROM j GROUP BY cluster
)
SELECT j.cluster,
       CAST(min(j.doc_id) AS BIGINT) AS keep_id,
       round(any_value(mx.mq), 6) AS keep_quality,
       CAST(any_value(mx.cluster_size) AS BIGINT) AS cluster_size
FROM j JOIN mx ON j.cluster = mx.cluster AND j.quality = mx.mq
GROUP BY j.cluster
"""




def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment (quote/subset) pairs: documents whose
    shingle set is >= CONTAIN_THRESHOLD contained in another doc's."""
    # direct shingle build kept (same A/B verdict as dedup_ngram_jaccard:
    # staged-shingle injection measured 1.76 -> 1.91 s at sf0.1)
    out = dedup.containment_pairs(
        _read(spark, sf_dir, "documents", fan_out=True),
        "doc_id",
        "text",
        n=NGRAM_N,
        threshold=CONTAIN_THRESHOLD,
        max_df=NGRAM_MAX_DF,
        min_sub_shingles=CONTAIN_MIN_SUB_SH,
    )
    return out.select(
        "id_sub", "id_sup", F.round("containment", 6).alias("containment")
    )


def sql_dedup_containment() -> str:
    # Brute-force exact replica: at the gate SFs no shingle's DF exceeds
    # NGRAM_MAX_DF (measured max 9), so the operator's capped candidate
    # gate is lossless and the uncapped SQL is the same relation.
    return f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id <> b.id
  GROUP BY 1, 2
)
SELECT ia AS id_sub, ib AS id_sup, round(i * 1.0 / s.n_sh, 6) AS containment
FROM inter
JOIN sizes s ON s.id = ia
WHERE i * 1.0 / s.n_sh >= {CONTAIN_THRESHOLD} AND s.n_sh >= {CONTAIN_MIN_SUB_SH}
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host-level dedup composite (the RefinedWeb/FineWeb pre-stage):
    canonicalize planted URLs, drop blocklisted hosts, collapse exact
    canonical-URL duplicates (winner = min doc_id), cap each host at
    URL_HOST_CAP documents."""
    from spark_ifs_spark.operators import urls

    docs = _read(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_url_fixture_expr("STRING"))
    )
    return urls.url_dedup(
        docs,
        "doc_id",
        "url",
        host_cap=URL_HOST_CAP,
        blocked_hosts=URL_BLOCKED_HOSTS,
    )


def sql_url_dedup() -> str:
    from spark_ifs_spark.operators.urls import sql_canonical_url

    blocked = ", ".join(f"'{h}'" for h in URL_BLOCKED_HOSTS)
    return f"""
WITH raw AS (SELECT doc_id, {_url_fixture_expr('VARCHAR')} AS url FROM documents),
canon AS (SELECT doc_id, {sql_canonical_url('url')} AS curl FROM raw),
hosted AS (
  SELECT doc_id, curl, regexp_extract(curl, '^([^/]*)', 1) AS host FROM canon
),
keep AS (
  SELECT curl AS url, min(host) AS host,
         CAST(min(doc_id) AS BIGINT) AS doc_id, count(*) AS n_dups
  FROM hosted
  WHERE host NOT IN ({blocked})
  GROUP BY 1
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY doc_id ASC) AS rank
  FROM keep
)
SELECT doc_id, url, host, n_dups, rank FROM rk WHERE rank <= {URL_HOST_CAP}
"""


def q_dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL: cut duplicated-run tokens and re-emit the
    cleaned corpus (reported as counts + cleaned-text digest) — see
    :func:`~spark_ifs_spark.operators.dedup.substring_removal`."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    out = dedup.substring_removal(
        docs, "doc_id", "text", k=SUBSTR_K, min_run_tokens=SUBSTR_MIN_RUN
    )
    return out.withColumnRenamed("id", "doc_id")


def sql_dedup_substring_removal() -> str:
    k = SUBSTR_K
    shingle_of = f"array_to_string(t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+{k})], ' ')"
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos, {sql_md5_int60(shingle_of)} AS h
  FROM toks, unnest(generate_series(0, len(t) - {k})) AS u(i)
),
dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM sh JOIN dup USING (h)
),
runs AS (
  SELECT doc_id, CAST(min(pos) AS INT) AS start_tok,
         CAST(max(pos) - min(pos) + {k} AS INT) AS run_tokens
  FROM isl GROUP BY doc_id, g
  HAVING max(pos) - min(pos) + {k} >= {SUBSTR_MIN_RUN}
),
{_SQL_WORDS},
kept AS (
  SELECT w.doc_id, w.pos, w.w
  FROM words w
  WHERE NOT EXISTS (
    SELECT 1 FROM runs r
    WHERE r.doc_id = w.doc_id
      AND w.pos - 1 >= r.start_tok
      AND w.pos - 1 < r.start_tok + r.run_tokens
  )
),
agg AS (
  SELECT doc_id,
         count(*) AS n_kept,
         coalesce(string_agg(w, ' ' ORDER BY pos), '') AS clean
  FROM kept GROUP BY 1
)
SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
       CAST(len(t.t) - coalesce(a.n_kept, 0) AS INT) AS n_removed,
       {sql_md5_int60("coalesce(a.clean, '')")} AS clean_digest
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


def _c4_lines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ln, line) — the derived C4 page fixture, exploded."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "ws", F.split("text", " ")
    )
    line = _c4_line_fixture_expr("spark")
    return docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(ws) - 1) div {C4_LINE_WORDS}),"
                f" i -> {line})"
            )
        ).alias("ln", "line"),
    )


def _sql_c4_lines() -> str:
    """The DuckDB twin of the derived lines relation."""
    line = _c4_line_fixture_expr("duck")
    return f"""pages AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
lines AS (
  SELECT doc_id, CAST(i AS INT) AS ln, {line} AS line
  FROM pages,
       LATERAL (SELECT unnest(generate_series(0, (len(ws) - 1) // {C4_LINE_WORDS})) AS i) ix
)"""


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-line quality rules over the derived page fixture:
    per-document violation counts + surviving-line count — see
    :mod:`spark_ifs_spark.operators.c4` (Raffel et al. 2020 §2.2
    rules: terminal punctuation, min words, javascript/brace/policy
    lines)."""
    from spark_ifs_spark.operators import c4

    return c4.line_filter_stats(
        _c4_lines_df(spark, sf_dir), min_words=C4_MIN_WORDS
    )


def sql_c4_line_filters() -> str:
    from spark_ifs_spark.operators.c4 import c4_kept_expr

    kept = c4_kept_expr("duck", "line", C4_MIN_WORDS)
    return f"""
WITH {_sql_c4_lines()}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN {kept} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN right(line, 1) <> '.' THEN 1 ELSE 0 END) AS BIGINT) AS n_no_terminal,
       CAST(sum(CASE WHEN len(string_split(line, ' ')) < {C4_MIN_WORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(sum(CASE WHEN contains(line, '{{') THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
       CAST(sum(CASE WHEN contains(line, 'javascript') THEN 1 ELSE 0 END) AS BIGINT) AS n_js,
       CAST(sum(CASE WHEN contains(line, 'terms of use') THEN 1 ELSE 0 END) AS BIGINT) AS n_policy
FROM lines GROUP BY 1
"""


def q_c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line filtering + cross-document duplicated-line removal
    (keep first occurrence), re-emitting the cleaned page as a digest —
    the line-level analogue of ``dedup_substring_removal``; see
    :func:`~spark_ifs_spark.operators.c4.line_dedup`."""
    from spark_ifs_spark.operators import c4

    docs = _read(spark, sf_dir, "documents", fan_out=True).withColumn(
        "ws", F.split("text", " ")
    )
    line = _c4_line_fixture_expr("spark")
    lines_col = F.expr(
        f"transform(sequence(0, (size(ws) - 1) div {C4_LINE_WORDS}),"
        f" i -> {line})"
    )
    return c4.line_dedup(docs, "doc_id", lines_col, min_words=C4_MIN_WORDS)


def sql_c4_line_dedup() -> str:
    from spark_ifs_spark.operators.c4 import LN_MOD, c4_kept_expr

    kept = c4_kept_expr("duck", "line", C4_MIN_WORDS)
    return f"""
WITH {_sql_c4_lines()},
kept AS (SELECT doc_id, ln, line FROM lines WHERE {kept}),
keys AS (SELECT doc_id, ln, md5(line) AS h FROM kept),
own AS (
  SELECT h, count(*) AS n_occ, min(doc_id * {LN_MOD} + ln) AS own
  FROM keys GROUP BY 1
),
rem AS (
  SELECT k.doc_id, k.ln
  FROM keys k JOIN own o USING (h)
  WHERE o.n_occ > 1 AND k.doc_id * {LN_MOD} + k.ln <> o.own
),
clean AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS page
  FROM kept k
  WHERE NOT EXISTS (
    SELECT 1 FROM rem r WHERE r.doc_id = k.doc_id AND r.ln = k.ln
  )
  GROUP BY 1
)
SELECT n.doc_id,
       CAST(n.n_lines AS INT) AS n_lines,
       CAST(coalesce(kc.n_kept, 0) AS INT) AS n_kept,
       CAST(coalesce(rc.n_rm, 0) AS INT) AS n_dup_removed,
       md5(coalesce(c.page, '')) AS clean_md5
FROM (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1) n
LEFT JOIN (SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY 1) kc USING (doc_id)
LEFT JOIN (SELECT doc_id, count(*) AS n_rm FROM rem GROUP BY 1) rc USING (doc_id)
LEFT JOIN clean c USING (doc_id)
"""


def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: MinHash-LSH verified pairs
    aggregated by unordered source pair — the "which domains copy
    which" audit run before choosing dedup scopes (FineWeb keeps
    per-dump dedup partly because of exactly this structure). Pure
    composition: the ``dedup_minhash`` pair plan + two id→source joins
    (broadcast at dim size) + one bounded (source × source) aggregate;
    the pair jaccards fold as exact integer ppm (round-9-before-floor
    guard), so the relation is engine-exact."""
    docs = _read(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    sa = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    ppm = F.floor(F.round(F.col("jaccard"), 9) * 1e6).cast("long")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            ppm.alias("jppm"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jppm").alias("sum_jaccard_ppm"),
        )
    )


def sql_dedup_source_matrix() -> str:
    inner = sql_dedup_minhash().replace(
        "round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 6) AS jaccard",
        "i * 1.0 / (sa.n_sh + sb.n_sh - i) AS jaccard",
    )
    return f"""
SELECT least(a.source, b.source) AS source_a,
       greatest(a.source, b.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(floor(round(p.jaccard, 9) * 1e6) AS BIGINT)) AS BIGINT) AS sum_jaccard_ppm
FROM ({inner}) p
JOIN documents a ON a.doc_id = p.id_a
JOIN documents b ON b.doc_id = p.id_b
GROUP BY 1, 2
"""


def q_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured vs analytic MinHash-LSH recall, the dedup analogue of
    ``ann_recall_audit``: ground truth is the LOSSLESS prefix-filter
    exact-Jaccard join (AllPairs/PPJoin) at the dyadic threshold 0.75
    over the SAME trigram shingles, detection is the banded-LSH path
    at the gated (16 hashes × r=2) config with the same exact-Jaccard
    verify — so detected ⊆ truth and recall is exactly
    ``n_detected / n_true``. ``expected_floor_ppm`` is the analytic
    detect probability ``1 − (1 − t^r)^b`` AT the threshold (a lower
    bound — true pairs sit above t), injected as the same Python-
    computed literal in both engines. An audit tool: run on a sample
    at corpus scale, exactly like the ANN recall audits."""
    import math

    truth = _prefix_pairs(spark, sf_dir).select("id_a", "id_b")
    # detect side from the session-staged gate-knob pair relation: the
    # LSH candidate set depends only on the band signatures (never the
    # verify threshold), so pairs-verified-at-0.75 is EXACTLY the
    # staged pairs-verified-at-0.5 filtered on the stored raw jaccard
    # (parquet round-trips the double; same >= comparison)
    det = (
        _minhash_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= PREFIX_THRESHOLD)
        .select("id_a", "id_b")
    )
    bands = MINHASH_HASHES // MINHASH_ROWS_PER_BAND
    expected = math.floor(
        (1.0 - (1.0 - PREFIX_THRESHOLD**MINHASH_ROWS_PER_BAND) ** bands) * 1e6
    )
    # one pass over the expensive truth subtree (prefix-filter exact
    # join): left join against the distinct detected pairs keeps one
    # row per truth pair, so count(*) = n_true and count(flag) =
    # n_detected — the former two-consumer shape evaluated truth twice
    tcdc = truth.join(
        det.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("_hit").alias("n_detected"),
    )
    return tcdc.select(
        "n_true",
        "n_detected",
        F.when(F.col("n_true") == 0, F.lit(1_000_000))
        .otherwise(F.floor(F.col("n_detected") * 1_000_000 / F.col("n_true")))
        .cast("long")
        .alias("recall_ppm"),
        F.lit(expected).cast("long").alias("expected_floor_ppm"),
    )


def sql_minhash_recall_audit() -> str:
    import math

    bands = MINHASH_HASHES // MINHASH_ROWS_PER_BAND
    expected = math.floor(
        (1.0 - (1.0 - PREFIX_THRESHOLD**MINHASH_ROWS_PER_BAND) ** bands) * 1e6
    )
    return f"""
WITH truth AS MATERIALIZED (
  SELECT id_a, id_b FROM ({sql_dedup_jaccard_prefix()})
),
det AS MATERIALIZED (
  SELECT id_a, id_b FROM ({_sql_minhash_pairs(PREFIX_THRESHOLD)})
),
tc AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
dc AS (SELECT CAST(count(*) AS BIGINT) AS n_detected
       FROM truth JOIN det USING (id_a, id_b))
SELECT n_true, n_detected,
       CAST(CASE WHEN n_true = 0 THEN 1000000
                 ELSE floor(n_detected * 1000000.0 / n_true) END AS BIGINT) AS recall_ppm,
       CAST({expected} AS BIGINT) AS expected_floor_ppm
FROM tc, dc
"""


WINNOW_K = 3       # positional k-gram size (shared trigram convention)
WINNOW_WINDOW = 4  # winnowing window: guarantee = window + k - 1 tokens


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: windowed-argmin selected
    k-gram hashes with the rightmost-tie robust convention — see
    :func:`~spark_ifs_spark.operators.dedup.winnow_fingerprints`."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    out = dedup.winnow_fingerprints(
        docs, "doc_id", "text", k=WINNOW_K, window=WINNOW_WINDOW
    )
    return out.withColumnRenamed("id", "doc_id")


def _sql_winnow_sel() -> str:
    """CTE chain ending in ``sel(doc_id, pos, h)`` — the winnowing
    selection, shared by the fingerprint digest and the cross-doc
    match oracles."""
    k, w = WINNOW_K, WINNOW_WINDOW
    shingle_of = (
        f"array_to_string(t[(CAST(u.i AS INT)+1):(CAST(u.i AS INT)+{k})], ' ')"
    )
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id, CAST(u.i AS INT) AS pos, {sql_md5_int60(shingle_of)} AS h
  FROM toks, unnest(generate_series(0, len(t) - {k})) AS u(i)
),
ns AS (SELECT doc_id, CAST(count(*) AS INT) AS n_sh FROM sh GROUP BY 1),
starts AS (
  SELECT doc_id, CAST(u.i AS INT) AS ws
  FROM ns, unnest(generate_series(0, greatest(n_sh - {w}, 0))) AS u(i)
),
win AS (
  SELECT s.doc_id, st.ws, s.pos, s.h,
         row_number() OVER (PARTITION BY s.doc_id, st.ws
                            ORDER BY s.h ASC, s.pos DESC) AS rn
  FROM starts st
  JOIN sh s ON s.doc_id = st.doc_id
           AND s.pos >= st.ws AND s.pos <= st.ws + {w} - 1
),
sel AS MATERIALIZED (SELECT DISTINCT doc_id, pos, h FROM win WHERE rn = 1)"""


def sql_winnow_fingerprints() -> str:
    return f"""
WITH {_sql_winnow_sel()},
agg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_fps,
         md5(string_agg(CAST(pos AS VARCHAR) || ':' || CAST(h AS VARCHAR),
                        ',' ORDER BY pos)) AS fp_md5
  FROM sel GROUP BY 1
)
SELECT t.doc_id,
       CAST(coalesce(ns.n_sh, 0) AS INT) AS n_shingles,
       CAST(coalesce(a.n_fps, 0) AS INT) AS n_fps,
       coalesce(a.fp_md5, md5('')) AS fp_md5
FROM toks t
LEFT JOIN ns USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


WINNOW_MIN_SHARED = 2
WINNOW_MAX_HASH_DOCS = 64


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS cross-document matching: pairs sharing >= WINNOW_MIN_SHARED
    winnowing-selected fingerprint hashes, with the document-frequency
    boilerplate cap — see
    :func:`~spark_ifs_spark.operators.dedup.winnow_matches`."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return dedup.winnow_matches(
        docs, "doc_id", "text",
        k=WINNOW_K, window=WINNOW_WINDOW,
        min_shared=WINNOW_MIN_SHARED, max_hash_docs=WINNOW_MAX_HASH_DOCS,
    )


def sql_winnow_pairs() -> str:
    return f"""
WITH {_sql_winnow_sel()},
d AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM sel),
keep AS (SELECT h FROM d GROUP BY h HAVING count(*) <= {WINNOW_MAX_HASH_DOCS})
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS INT) AS n_shared
FROM d a
JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
JOIN keep k ON k.h = a.h
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


def q_shard_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Would PER-SHARD dedup suffice? The fraction of MinHash near-dup
    pairs that land INSIDE one rendezvous shard — the diagnostic behind
    FineWeb's per-dump-vs-global dedup decision (global dedup shuffles
    the world; per-shard dedup only catches intra-shard pairs). Pure
    composition: the ``dedup_minhash`` pair plan + two broadcast
    id→shard joins (the shard map is a scan-fused projection) + ONE
    scalar aggregate. With hash shards and no correlation the expected
    intra fraction is 1/S — a measured value far above that says dups
    cluster and per-shard dedup keeps most of the win."""
    from spark_ifs_spark.operators.sampling import rendezvous_shard

    docs = _read(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    sh = rendezvous_shard(docs.select("doc_id"), "doc_id", MANIFEST_SHARDS)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shard").alias("sha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shard").alias("shb"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    return j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("sha") == F.col("shb")).cast("int")), F.lit(0)
        ).cast("long").alias("n_intra_shard"),
    ).select(
        "n_pairs",
        "n_intra_shard",
        F.when(F.col("n_pairs") == 0, F.lit(0))
        .otherwise(F.floor(F.col("n_intra_shard") * 1_000_000 / F.col("n_pairs")))
        .cast("long")
        .alias("intra_ppm"),
        F.lit(MANIFEST_SHARDS).cast("int").alias("n_shards"),
    )


def sql_shard_dup_coverage() -> str:
    from spark_ifs_spark.operators.sampling import sql_rendezvous_shard

    shard = sql_rendezvous_shard("doc_id", MANIFEST_SHARDS)
    return f"""
WITH p AS MATERIALIZED (
  SELECT id_a, id_b FROM ({sql_dedup_minhash()})
),
s AS MATERIALIZED (SELECT doc_id, {shard} AS shard FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(CASE WHEN sa.shard = sb.shard THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_intra_shard,
       CAST(CASE WHEN count(*) = 0 THEN 0
                 ELSE floor(sum(CASE WHEN sa.shard = sb.shard THEN 1 ELSE 0 END) * 1000000.0 / count(*))
            END AS BIGINT) AS intra_ppm,
       CAST({MANIFEST_SHARDS} AS INT) AS n_shards
FROM p
JOIN s sa ON sa.doc_id = p.id_a
JOIN s sb ON sb.doc_id = p.id_b
"""


def q_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does dedup COST each source? Per source: docs/chars before
    vs after MinHash-cluster dedup under the min-id-representative
    policy — the per-domain retention report (heavy SEO/mirror sources
    crater, curated sources survive) a pipeline owner reads after every
    dedup run. Pure composition: the `dup_clusters` component relation
    (doc-id pairs only) left-joined to the corpus id/source/n_chars
    projection — bodies never move — plus two source-bounded
    aggregates."""
    docs = _read(spark, sf_dir, "documents")
    cc = _dup_clusters(spark, sf_dir)
    # no broadcast hint: the clustered-id relation is id-pairs only but
    # grows with the dup mass — let AQE pick broadcast vs shuffle join
    d = docs.select("doc_id", "source", "n_chars").join(cc, "doc_id", "left")
    kept = F.col("cluster").isNull() | (F.col("doc_id") == F.col("cluster"))
    out = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum("n_chars").cast("long").alias("chars_before"),
        F.sum(kept.cast("long")).alias("docs_after"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0)))
        .cast("long")
        .alias("chars_after"),
    )
    return out.withColumn(
        "retained_ppm", F.expr("(chars_after * 1000000) DIV chars_before")
    )


def sql_dedup_retention() -> str:
    return f"""
WITH clusters AS MATERIALIZED (SELECT * FROM ({sql_dup_clusters()}) t),
d AS (
  SELECT doc.source, doc.doc_id, doc.n_chars, c.cluster
  FROM documents doc LEFT JOIN clusters c ON c.doc_id = doc.doc_id
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS docs_before,
         CAST(sum(n_chars) AS BIGINT) AS chars_before,
         CAST(sum(CASE WHEN cluster IS NULL OR doc_id = cluster
                       THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
         CAST(sum(CASE WHEN cluster IS NULL OR doc_id = cluster
                       THEN n_chars ELSE 0 END) AS BIGINT) AS chars_after
  FROM d GROUP BY 1
)
SELECT source, docs_before, chars_before, docs_after, chars_after,
       (chars_after * 1000000) // chars_before AS retained_ppm
FROM agg
"""


def q_dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are near-dups SYNDICATION (cross-source) or crawl artifacts
    (intra-source)? Per source-diversity level (number of distinct
    sources inside a near-dup cluster): cluster count, doc mass, and
    the majority-source share — the diagnostic that decides whether
    dedup must run globally across sources or per-source suffices
    (cluster-level complement of the pair-level `dedup_source_matrix`).
    Composition: the `dup_clusters` relation joined to the id→source
    projection, a cluster-bounded (cluster, source) count, then two
    bounded aggregates. Bodies never move."""
    docs = _read(spark, sf_dir, "documents")
    cc = _dup_clusters(spark, sf_dir)
    j = cc.join(docs.select("doc_id", "source"), "doc_id")
    per = j.groupBy("cluster", "source").agg(F.count(F.lit(1)).alias("n"))
    cl = per.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("int").alias("n_sources"),
        F.sum("n").alias("size"),
        F.max("n").alias("maj"),
    )
    return (
        cl.groupBy("n_sources")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("size").cast("long").alias("n_docs"),
            F.sum("maj").cast("long").alias("majority_docs"),
        )
        .withColumn(
            "majority_ppm", F.expr("(majority_docs * 1000000) DIV n_docs")
        )
    )


def sql_dedup_cluster_purity() -> str:
    return f"""
WITH clusters AS MATERIALIZED (SELECT * FROM ({sql_dup_clusters()}) t),
j AS (
  SELECT c.cluster, d.source
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
),
per AS (SELECT cluster, source, count(*) AS n FROM j GROUP BY 1, 2),
cl AS (
  SELECT cluster, CAST(count(*) AS INT) AS n_sources,
         sum(n) AS size_, max(n) AS maj
  FROM per GROUP BY 1
)
SELECT n_sources,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(size_) AS BIGINT) AS n_docs,
       CAST(sum(maj) AS BIGINT) AS majority_docs,
       (CAST(sum(maj) AS BIGINT) * 1000000) // CAST(sum(size_) AS BIGINT)
         AS majority_ppm
FROM cl GROUP BY 1
"""


# image perceptual-hash near-dup dedup (dedup_phash)
PHASH_GRID = 8  # 8x8 cell lattice -> 56-bit difference hash
PHASH_MAX_HAMMING = 3  # lossless under 4-band blocking (pigeonhole)


def q_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-content near-duplicate pairs — the IMAGE modality of the
    dedup family (text shingles ✓, embeddings ✓, now pixels): real
    grayscale PNG payloads with planted near-identical groups
    (``attach_phash_payloads``) are DECODED by the real codec, reduced
    to 56-bit difference hashes
    (:func:`~spark_ifs_spark.operators.multimodal.image_dhash`), and
    paired by the SimHash Hamming-banded self-join (4 blocks — any
    pair within Hamming ≤ 3 collides on ≥1 block, pigeonhole-lossless,
    never all-pairs). The oracle replays pixel synthesis → cell sums →
    bit packing → banding → exact Hamming verify in pure SQL, so the
    decode path is content-hash-gated end-to-end."""
    from spark_ifs_spark.operators.multimodal import (
        attach_phash_payloads,
        image_dhash,
    )

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    payloads = attach_phash_payloads(docs, "doc_id")
    fp = image_dhash(payloads, "id", "payload", grid=PHASH_GRID).select(
        "id", F.col("dhash").alias("simhash")
    )
    return dedup.simhash_near_pairs(
        fp,
        max_hamming=PHASH_MAX_HAMMING,
        bits=PHASH_GRID * (PHASH_GRID - 1),
    )


def sql_dedup_phash() -> str:
    g, mh = PHASH_GRID, PHASH_MAX_HAMMING
    nbits = g * (g - 1)
    per = nbits // 4
    return f"""
WITH dims AS (
  SELECT doc_id AS id, doc_id // 3 AS grp, doc_id % 3 AS v,
         20 + (doc_id // 3) % 7 AS w, 16 + (doc_id // 3) % 5 AS h
  FROM documents
),
px AS (
  SELECT id, w, h, t.k % w AS x, t.k // w AS y,
         (grp * 37 + ((t.k % w) // 2) * (17 + grp % 11)
          + ((t.k // w) // 2) * (29 + grp % 13)
          + CASE WHEN v > 0 AND ((t.k % w) + (t.k // w) + v) % 23 = 0
                 THEN 1 ELSE 0 END) % 256 AS p
  -- range() rejects lateral column bounds: over-generate to the max
  -- image area (w <= 26, h <= 20) and filter to this row's w*h
  FROM dims, range(26 * 20) t(k)
  WHERE t.k < w * h
),
cells AS (
  SELECT id, (y * {g}) // h AS r, (x * {g}) // w AS c,
         sum(p) AS s, count(*) AS n
  FROM px GROUP BY 1, 2, 3
),
bits AS (
  SELECT a.id, a.r, a.c,
         CASE WHEN b.s * a.n > a.s * b.n THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS bit
  FROM cells a JOIN cells b ON b.id = a.id AND b.r = a.r AND b.c = a.c + 1
),
fp AS MATERIALIZED (
  SELECT id, CAST(sum(bit << CAST(r * {g - 1} + c AS INT)) AS BIGINT) AS dhash
  FROM bits GROUP BY id
),
ex AS (
  SELECT f.id, b.blk, (f.dhash >> CAST(b.blk * {per} AS INT)) & {(1 << per) - 1} AS bkey
  FROM fp f, range(4) b(blk)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.bkey = b.bkey AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.dhash, fb.dhash)) AS INTEGER) AS hamming
FROM cand c
JOIN fp fa ON fa.id = c.id_a
JOIN fp fb ON fb.id = c.id_b
WHERE bit_count(xor(fa.dhash, fb.dhash)) <= {mh}
"""


def q_cross_modal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal duplicate triage — the curation query the two
    single-modality dedup families exist to serve: documents whose TEXT
    is unique but whose IMAGE is a known near-duplicate (syndicated
    artwork under fresh prose — keepable text, droppable asset) and the
    reverse (rewritten boilerplate around a unique image — the text
    dedup would drop a doc whose image modality is novel). Composition:
    the minhash-LSH text-pair relation and the dHash image-pair
    relation each reduce to their distinct member-id sets; one
    id-keyed pass over the corpus flags the symmetric difference.
    Bodies and pixels never move — both modalities travel as ids after
    their banded self-joins, so the compose step adds two id-keyed
    joins and nothing corpus-shaped.

    The image side needs MEMBERSHIP, not the pair relation, so it
    never enumerates the quadratic pair classes ``dedup_phash``
    rightly outputs: docs sharing a dhash are dup by one hash-grouped
    count (a class of m identical fingerprints is m rows here, m²
    pairs there), and the Hamming-banded join runs over ONE
    representative per DISTINCT dhash — equivalent because a class
    member's neighbors are exactly its representative's neighbors.
    Measured (SCALE.md): pair-enumeration 170 s / 525 s at 10× / 100×;
    compressed 63 s / 72 s — near-flat, because the representative
    relation grows with DISTINCT fingerprints, not corpus size."""
    from spark_ifs_spark.operators.multimodal import (
        attach_phash_payloads,
        image_dhash,
    )

    docs = _read(spark, sf_dir, "documents")
    # the text side IS the registry's gate-knob minhash pair relation —
    # read the session-staged build (same function, same knobs as
    # _minhash_pairs' builder) instead of re-running the full LSH
    # signature + verify pipeline inside this query
    tpairs = _minhash_pairs(spark, sf_dir)
    tdup = (
        tpairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(tpairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_t", F.lit(1))
    )
    # fan out the decode read (the dedup_phash convention): the dHash
    # decode is per-row CPU-heavy and the fixture scan is one split
    payloads = attach_phash_payloads(
        _read(spark, sf_dir, "documents", fan_out=True), "doc_id"
    )
    fp = image_dhash(payloads, "id", "payload", grid=PHASH_GRID).select(
        "id", F.col("dhash").alias("simhash")
    )
    cls = fp.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("_m"), F.min("id").alias("_rep")
    )
    exact_members = fp.join(
        cls.filter(F.col("_m") > 1).select("simhash"), "simhash", "left_semi"
    ).select(F.col("id").alias("doc_id"))
    reps = cls.select(F.col("_rep").alias("id"), "simhash")
    rpairs = dedup.simhash_near_pairs(
        reps, max_hamming=PHASH_MAX_HAMMING, bits=PHASH_GRID * (PHASH_GRID - 1)
    )
    near_reps = (
        rpairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(rpairs.select(F.col("id_b").alias("doc_id")))
    )
    idup = (
        exact_members.unionByName(near_reps).distinct().withColumn("_i", F.lit(1))
    )
    j = (
        docs.select("doc_id")
        .join(tdup, "doc_id", "left")
        .join(idup, "doc_id", "left")
    )
    return j.filter(F.col("_t").isNull() != F.col("_i").isNull()).select(
        "doc_id",
        F.when(F.col("_i").isNotNull(), F.lit("image_only"))
        .otherwise(F.lit("text_only"))
        .alias("dup_modality"),
    )


def sql_cross_modal_dedup() -> str:
    return f"""
WITH tpairs AS MATERIALIZED (SELECT * FROM ({sql_dedup_minhash()}) tp),
ipairs AS MATERIALIZED (SELECT * FROM ({sql_dedup_phash()}) ip),
tdup AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM tpairs UNION ALL SELECT id_b FROM tpairs
  )
),
idup AS (
  SELECT DISTINCT id FROM (
    SELECT id_a AS id FROM ipairs UNION ALL SELECT id_b FROM ipairs
  )
)
SELECT d.doc_id,
       CASE WHEN i.id IS NOT NULL THEN 'image_only' ELSE 'text_only' END
         AS dup_modality
FROM documents d
LEFT JOIN tdup t ON t.id = d.doc_id
LEFT JOIN idup i ON i.id = d.doc_id
WHERE (t.id IS NULL) <> (i.id IS NULL)
"""


# audio fingerprint near-dup dedup (dedup_audio_fp)
AFP_FRAMES = 8       # 8 frames x 16 samples = 128-sample clips
AFP_FRAME_LEN = 16   # power of 2 (Walsh-Hadamard block)
AFP_BITS = (AFP_FRAMES - 1) * (AFP_FRAME_LEN // 2)  # 56
AFP_MAX_HAMMING = 3  # lossless under 4-band blocking (pigeonhole)


def q_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-content near-duplicate pairs — the AUDIO modality of the
    dedup family, completing the triple (text shingles ✓, image
    pixels ✓, now PCM samples): real RIFF/WAVE PCM16 payloads with
    planted near-identical groups (``attach_audio_payloads``) are
    DECODED by the real codec, reduced to 56-bit spectral-band energy
    fingerprints (:func:`~spark_ifs_spark.operators.multimodal.
    audio_fingerprint` — chromaprint-shaped temporal difference coding
    over Walsh-Hadamard sequency bands, integer-exact by design), and
    paired by the SimHash Hamming-banded self-join (4 blocks — any
    pair within Hamming ≤ 3 collides on ≥1 block,
    pigeonhole-lossless, never all-pairs). The oracle replays sample
    synthesis → WHT coefficients → band energies → difference bits →
    banding → exact Hamming verify in pure SQL, so the decode path is
    content-hash-gated end-to-end."""
    from spark_ifs_spark.operators.multimodal import (
        attach_audio_payloads,
        audio_fingerprint,
    )

    docs = _read(spark, sf_dir, "documents")
    payloads = attach_audio_payloads(docs, "doc_id")
    fp = audio_fingerprint(
        payloads, "id", "payload", frames=AFP_FRAMES, frame_len=AFP_FRAME_LEN
    ).select("id", F.col("afp").alias("simhash"))
    return dedup.simhash_near_pairs(
        fp, max_hamming=AFP_MAX_HAMMING, bits=AFP_BITS
    )


def _sql_afp_fingerprints() -> str:
    """Shared CTE chain: documents → synthesized samples → WHT
    coefficients → band energies → difference bits → packed 56-bit
    fingerprints (table ``fp(id, afp)``)."""
    fl, fr = AFP_FRAME_LEN, AFP_FRAMES
    bands = fl // 2
    return f"""
dims AS (SELECT doc_id AS id, doc_id // 3 AS g, doc_id % 3 AS v FROM documents),
samples AS (
  SELECT id, t.k AS k,
         ((g*31+7)*t.k*t.k + (g%13+3)*t.k*57) % 30011 - 15005
         + CASE WHEN v > 0 AND (t.k + v) % 53 = 0 THEN 1 ELSE 0 END AS s
  FROM dims, range({fr * fl}) t(k)
),
coef AS (
  SELECT id, k // {fl} AS f, rj.j AS j,
         sum(s * CASE WHEN bit_count(rj.j & (k % {fl})) % 2 = 0
                 THEN 1 ELSE -1 END) AS c
  FROM samples, range({fl}) rj(j) GROUP BY 1, 2, 3
),
band AS (SELECT id, f, j // 2 AS b, sum(abs(c)) AS e FROM coef GROUP BY 1, 2, 3),
bits AS (
  SELECT a.id, a.f, a.b,
         CASE WHEN nx.e > a.e THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS bit
  FROM band a JOIN band nx ON nx.id = a.id AND nx.b = a.b AND nx.f = a.f + 1
),
fp AS MATERIALIZED (
  SELECT id, CAST(sum(bit << CAST(f * {bands} + b AS INT)) AS BIGINT) AS afp
  FROM bits GROUP BY id
)"""


def sql_dedup_audio_fp() -> str:
    per = AFP_BITS // 4
    return f"""
WITH {_sql_afp_fingerprints()},
ex AS (
  SELECT f.id, b.blk,
         (f.afp >> CAST(b.blk * {per} AS INT)) & {(1 << per) - 1} AS bkey
  FROM fp f, range(4) b(blk)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM ex a JOIN ex b ON a.blk = b.blk AND a.bkey = b.bkey AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.afp, fb.afp)) AS INTEGER) AS hamming
FROM cand c
JOIN fp fa ON fa.id = c.id_a
JOIN fp fb ON fb.id = c.id_b
WHERE bit_count(xor(fa.afp, fb.afp)) <= {AFP_MAX_HAMMING}
"""


def q_audio_fp_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio near-dup path's MEASURED recall — the
    measured-not-asserted audit every approximate route in this engine
    ships (MinHash, ANN, LSH): the fixture PLANTS the truth (clips in
    the same ``doc_id DIV 3`` group are near-identical by
    construction), the banded join is pigeonhole-LOSSLESS at Hamming
    ≤ 3, so what the audit actually measures is the FINGERPRINT's
    recall — the fraction of planted duplicate pairs whose 56-bit
    spectral fingerprints land within the Hamming threshold (the ±1
    sample nudge occasionally flips a near-tie band comparison; that
    loss is the honest cost of a 56-bit sketch of a 2048-bit signal).
    One row: (n_planted, n_detected, recall_ppm). The same-group pair
    join keys on ``g`` — groups are ≤ 3 clips by construction, so the
    join is bounded and skew-free at any corpus size."""
    from spark_ifs_spark.operators.multimodal import (
        attach_audio_payloads,
        audio_fingerprint,
    )

    docs = _read(spark, sf_dir, "documents")
    payloads = attach_audio_payloads(docs, "doc_id")
    fp = audio_fingerprint(
        payloads, "id", "payload", frames=AFP_FRAMES, frame_len=AFP_FRAME_LEN
    ).withColumn("g", F.expr("id DIV 3"))
    # the self-join evaluated the fingerprint pipeline (audio DECODE in
    # Python) once per side; groups are <= 3 clips by construction, so
    # one groupBy-g + in-array pair generation decodes the corpus ONCE
    # and bounds per-group state at 3 structs — same unordered pair set
    grp = fp.groupBy("g").agg(
        F.collect_list(F.struct("id", "afp")).alias("ms")
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(ms, a -> transform("
                "filter(ms, b -> b.id > a.id),"
                " b -> bit_count(a.afp ^ b.afp))))"
            )
        ).alias("hamming")
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.sum(
            F.when(F.col("hamming") <= AFP_MAX_HAMMING, 1).otherwise(0)
        ).alias("n_detected"),
    ).select(
        "n_planted",
        F.col("n_detected").cast("long").alias("n_detected"),
        F.expr(
            "CAST((CAST(n_detected AS DECIMAL(38,0)) * 1000000)"
            " DIV n_planted AS BIGINT)"
        ).alias("recall_ppm"),
    )


def sql_audio_fp_recall_audit() -> str:
    return f"""
WITH {_sql_afp_fingerprints()},
pairs AS (
  SELECT bit_count(xor(a.afp, b.afp)) AS hamming
  FROM fp a JOIN fp b ON a.id // 3 = b.id // 3 AND a.id < b.id
)
SELECT CAST(count(*) AS BIGINT) AS n_planted,
       CAST(sum(CASE WHEN hamming <= {AFP_MAX_HAMMING} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_detected,
       CAST((CAST(sum(CASE WHEN hamming <= {AFP_MAX_HAMMING} THEN 1 ELSE 0 END)
                  AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM pairs
"""
