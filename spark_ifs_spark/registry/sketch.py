"""Sketches: HLL, CMS, KMV (cardinality + set overlap), bottom-k rank
sketch, Misra-Gries, heavy-hitter cross-audits, mergeable histograms,
profile summaries."""

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


def q_docs_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table in ONE aggregate
    expression: per column — null count, distinct count, and (numeric)
    min/max. The ingest-gate report a pipeline runs before admitting a
    shard. Plan shape, honestly: the five exact ``countDistinct`` columns
    compile to Catalyst's Expand-based multi-distinct (each input row is
    replicated ~6× and shuffled on the distinct keys), so this is one
    scan but NOT a purely map-side fold. That is the price of exact
    distinct counts the DuckDB oracle can reproduce; at 100 TB swap each
    ``countDistinct`` for ``approx_count_distinct`` (HLL++ sketches fold
    map-side, collapsing the plan to a single partial aggregate — same
    swap documented for dedup digests)."""
    docs = _read(spark, sf_dir, "documents")
    aggs = []
    for c in ["doc_id", "text", "lang", "source", "n_chars"]:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls"),
            F.countDistinct(c).alias(f"{c}_distinct"),
        ]
    aggs += [
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    return docs.agg(*aggs)


def sql_docs_profile() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    parts = []
    for c in cols:
        parts.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}_nulls"
        )
        parts.append(f"count(DISTINCT {c}) AS {c}_distinct")
    parts += [
        "min(n_chars) AS n_chars_min",
        "max(n_chars) AS n_chars_max",
        "count(*) AS n_rows",
    ]
    return "SELECT " + ", ".join(parts) + " FROM documents"


def q_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch point estimates for a fixed probe vocabulary
    over the corpus token stream — frequency estimation whose shuffle is
    a depth×width grid regardless of corpus cardinality (see
    ``operators/sketches.py``). Estimates overcount, never undercount;
    the absent probe shows the collision floor."""
    from spark_ifs_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    cms = sketches.cms_build(
        toks, "w", depth=CMS_DEPTH, width=CMS_WIDTH, seed=CMS_SEED
    )
    return sketches.cms_estimate(
        cms, CMS_PROBES, depth=CMS_DEPTH, width=CMS_WIDTH, seed=CMS_SEED
    )


def sql_cms_term_counts() -> str:
    params = minhash_params(CMS_DEPTH, CMS_SEED)
    param_rows = ", ".join(f"({r}, {a}, {b})" for r, (a, b) in enumerate(params))
    probe_rows = ", ".join(f"('{t}')" for t in CMS_PROBES)
    h = sql_md5_int60("w")
    ph = sql_md5_int60("term")
    P = MINHASH_P
    return f"""
WITH params(r, a, b) AS (VALUES {param_rows}),
toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), hs AS (
  SELECT {h} AS h FROM toks
), cms AS (
  SELECT p.r, ((p.a * (hs.h % {P}) + p.b) % {P}) % {CMS_WIDTH} AS bucket,
         count(*) AS c
  FROM hs CROSS JOIN params p
  GROUP BY 1, 2
), probes(term) AS (VALUES {probe_rows}),
ph AS (
  SELECT term, {ph} AS h FROM probes
), pcells AS (
  SELECT term, p.r, ((p.a * (ph.h % {P}) + p.b) % {P}) % {CMS_WIDTH} AS bucket
  FROM ph CROSS JOIN params p
)
SELECT pcells.term, CAST(min(coalesce(cms.c, 0)) AS BIGINT) AS est
FROM pcells LEFT JOIN cms ON cms.r = pcells.r AND cms.bucket = pcells.bucket
GROUP BY 1
"""


HH_PHI_PPM = 33_000  # φ: a word is "heavy" at ≥ 3.3% of the token stream


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitters over the corpus token stream via the two-pass
    CMS-prefiltered plan (see
    :func:`~spark_ifs_spark.operators.sketches.cms_heavy_hitters`):
    grid build → hot-cell shortlist (no false negatives — CMS never
    undercounts) → exact verify of the shortlist only. Every output row
    carries the sketch estimate AND the exact count, so the driver gate
    audits both the grid arithmetic and the verify pass; ``over_ppm``
    is the measured CMS overcount."""
    from spark_ifs_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    return sketches.cms_heavy_hitters(
        toks, "w", phi_ppm=HH_PHI_PPM, depth=CMS_DEPTH, width=CMS_WIDTH,
        seed=CMS_SEED,
    )


def sql_cms_heavy_hitters() -> str:
    params = minhash_params(CMS_DEPTH, CMS_SEED)
    param_rows = ", ".join(f"({r}, {a}, {b})" for r, (a, b) in enumerate(params))
    h = sql_md5_int60("w")
    vh = sql_md5_int60("term")
    P = MINHASH_P
    return f"""
WITH params(r, a, b) AS (VALUES {param_rows}),
toks AS MATERIALIZED (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
total AS (
  SELECT n_total,
         CAST((CAST(n_total AS HUGEINT) * {HH_PHI_PPM} + 999999) // 1000000
              AS BIGINT) AS thresh
  FROM (SELECT count(*) AS n_total FROM toks)
),
cms AS (
  SELECT p.r, ((p.a * (h % {P}) + p.b) % {P}) % {CMS_WIDTH} AS bucket,
         count(*) AS c
  FROM (SELECT {h} AS h FROM toks) hs CROSS JOIN params p
  GROUP BY 1, 2
),
hot AS (
  SELECT r, bucket, c FROM cms, total
  WHERE c >= thresh
),
vocab AS (SELECT DISTINCT w AS term FROM toks),
vcells AS (
  SELECT term, p.r, ((p.a * ({vh} % {P}) + p.b) % {P}) % {CMS_WIDTH} AS bucket
  FROM vocab CROSS JOIN params p
),
cand AS (
  SELECT term, min(c) AS est
  FROM vcells JOIN hot USING (r, bucket)
  GROUP BY 1
  HAVING count(*) = {CMS_DEPTH}
),
exact AS (
  SELECT term, est, count(*) AS n_exact
  FROM toks JOIN cand ON toks.w = cand.term
  GROUP BY 1, 2
)
SELECT term, est, CAST(n_exact AS BIGINT) AS n_exact,
       CAST((CAST(est - n_exact AS HUGEINT) * 1000000) // n_exact AS BIGINT)
         AS over_ppm
FROM exact, total
WHERE n_exact >= thresh
"""


QSAMPLE_MOD = 20  # 5% deterministic hash sample
QSAMPLE_QS = (25, 50, 75, 90, 99)


def q_quantile_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length quantiles estimated from a 5% deterministic hash
    sample and rank-audited against the full table WITHOUT a global
    sort (see
    :func:`~spark_ifs_spark.operators.sampling.hash_sample_quantiles`)
    — the scale path ``doc_length_quantiles``'s exact ``percentile``
    defers to, with the estimator error measured, not asserted."""
    from spark_ifs_spark.operators.sampling import hash_sample_quantiles

    docs = _read(spark, sf_dir, "documents")
    return hash_sample_quantiles(
        docs, "doc_id", "n_chars", qs_pct=QSAMPLE_QS, sample_mod=QSAMPLE_MOD
    )


def sql_quantile_sample_audit() -> str:
    h = sql_md5_int60("CAST(doc_id AS VARCHAR)")
    q_rows = ", ".join(f"({q})" for q in QSAMPLE_QS)
    return f"""
WITH samp AS (
  SELECT n_chars AS v, doc_id AS k FROM documents
  WHERE {h} % {QSAMPLE_MOD} = 0
),
ranked AS (SELECT v, row_number() OVER (ORDER BY v, k) AS rn FROM samp),
ns AS (SELECT count(*) AS n_sample FROM samp),
qs(q_pct) AS (VALUES {q_rows}),
targets AS (
  SELECT q_pct, n_sample, (q_pct * n_sample + 99) // 100 AS target_rn
  FROM qs, ns
),
est AS (
  SELECT q_pct, v AS v_est, n_sample
  FROM targets JOIN ranked ON target_rn = rn
),
audit AS (
  SELECT q_pct, v_est, n_sample, count(*) AS n_total,
         CAST(sum(CASE WHEN d.n_chars <= v_est THEN 1 ELSE 0 END) AS BIGINT)
           AS n_le
  FROM documents d CROSS JOIN est
  GROUP BY 1, 2, 3
)
SELECT q_pct, v_est, CAST(n_sample AS BIGINT) AS n_sample, n_le,
       CAST((CAST(n_le AS HUGEINT) * 1000000) // n_total AS BIGINT)
         AS rank_ppm,
       abs(CAST((CAST(n_le AS HUGEINT) * 1000000) // n_total AS BIGINT)
           - q_pct * CAST(10000 AS BIGINT)) AS err_ppm
FROM audit
"""


KMV_OV_K = 256


def q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard ESTIMATED from per-source
    KMV sketches (:func:`~spark_ifs_spark.operators.sketches.
    kmv_overlap` — the theta-sketch set operation on the bottom-k
    representation), with the exact Jaccard alongside as the measured
    audit: the sketch path's corpus work is one digest-distinct
    aggregate and everything pairwise runs on the sources·k sketch
    relation, while the exact path (``source_overlap``'s inverted-index
    plan) pays a vocabulary self-join — at 100 TB the exact columns
    are the audit you drop, exactly the ``kmv_distinct_sources``
    posture applied to set INTERSECTION instead of cardinality."""
    from spark_ifs_spark.operators.sketches import kmv_overlap

    docs = _read(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    est = kmv_overlap(terms, "source", "term", k=KMV_OV_K).select(
        F.col("key_a").alias("src_a"),
        F.col("key_b").alias("src_b"),
        "n_kept",
        "n_both",
        "jaccard_est",
    )
    toks = terms.select(F.col("source").alias("src"), "term").distinct()
    sizes = toks.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("src").alias("src_a"), "term")
    tb = toks.select(F.col("src").alias("src_b"), "term")
    inter = (
        ta.join(tb, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        inter.join(sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a")), "src_a")
        .join(sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b")), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard_exact"),
        )
    )
    return est.join(exact, ["src_a", "src_b"]).withColumn(
        "err_ppm",
        F.floor(
            F.abs(F.col("jaccard_est") - F.col("jaccard_exact"))
            * 1e6
            / F.col("jaccard_exact")
        ).cast("long"),
    )


def sql_kmv_source_overlap() -> str:
    k = KMV_OV_K
    h = sql_md5_int60("w")
    return f"""
WITH terms AS MATERIALIZED (
  SELECT source, w, {h} AS h
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
),
d AS MATERIALIZED (SELECT DISTINCT source, h FROM terms),
sk AS MATERIALIZED (
  SELECT source AS key, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM d
  ) WHERE rn <= {k}
),
ks AS (SELECT DISTINCT key FROM sk),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b FROM ks a JOIN ks b ON a.key < b.key
),
rws AS (
  SELECT p.key_a, p.key_b, s.h,
         CASE WHEN s.key = p.key_a THEN 1 ELSE 0 END AS in_a,
         CASE WHEN s.key = p.key_b THEN 1 ELSE 0 END AS in_b
  FROM pairs p JOIN sk s ON s.key = p.key_a OR s.key = p.key_b
),
uboth AS (
  SELECT key_a, key_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM rws GROUP BY 1, 2, 3
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key_a, key_b ORDER BY h) AS rn
    FROM uboth
  ) WHERE rn <= {k}
),
est AS (
  SELECT key_a AS src_a, key_b AS src_b,
         CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM kept GROUP BY 1, 2
),
toks AS MATERIALIZED (SELECT DISTINCT source AS src, w FROM terms),
sizes AS (SELECT src, count(*) AS n FROM toks GROUP BY 1),
inter AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.w = b.w AND a.src < b.src
  GROUP BY 1, 2
),
exact AS (
  SELECT i.src_a, i.src_b,
         round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6)
           AS jaccard_exact
  FROM inter i
  JOIN sizes sa ON sa.src = i.src_a
  JOIN sizes sb ON sb.src = i.src_b
)
SELECT e.src_a, e.src_b, e.n_kept, e.n_both,
       round(e.n_both * 1.0 / e.n_kept, 6) AS jaccard_est,
       x.jaccard_exact,
       CAST(floor(abs(round(e.n_both * 1.0 / e.n_kept, 6) - x.jaccard_exact)
                  * 1e6 / x.jaccard_exact) AS BIGINT) AS err_ppm
FROM est e JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
"""


RKS_K = 256  # rank-sketch size: fixed state, whatever the corpus
RKS_QS = (25, 50, 75, 90, 99)


def q_rank_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length quantiles from the MERGEABLE bottom-k-by-hash
    rank sketch (:func:`~spark_ifs_spark.operators.sketches.
    rank_sketch`) — the fixed-state counterpart of
    ``quantile_sample_audit``'s linear-growth Bernoulli sample: state
    is k rows whatever the corpus, shards fold by the exact KMV merge
    law, and the streaming twin (``streaming/sketch.py:
    streaming_rank_sketch``) maintains the identical sketch
    incrementally. The estimate's TRUE rank is audited against the
    full relation without a global sort (one conditional-count scan
    with the 5-row estimate broadcast); ``err_ppm`` is the measured
    rank error the k bought."""
    from spark_ifs_spark.operators.sketches import (
        rank_sketch,
        rank_sketch_quantiles,
    )

    docs = _read(spark, sf_dir, "documents")
    sk = rank_sketch(docs, "doc_id", "n_chars", k=RKS_K)
    est = rank_sketch_quantiles(sk, RKS_QS)
    audit = (
        docs.select(F.col("n_chars").alias("fv"))
        .crossJoin(F.broadcast(est))
        .groupBy("q_pct", "v_est", "n_sketch")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("fv") <= F.col("v_est"), 1).otherwise(0)).alias(
                "n_le"
            ),
        )
    )
    return audit.select(
        "q_pct",
        "v_est",
        F.col("n_sketch").cast("long").alias("n_sketch"),
        "n_le",
        F.expr(
            "CAST((CAST(n_le AS DECIMAL(38,0)) * 1000000)"
            " DIV n_total AS BIGINT)"
        ).alias("rank_ppm"),
    ).withColumn(
        "err_ppm",
        F.abs(F.col("rank_ppm") - F.col("q_pct").cast("long") * F.lit(10_000)),
    )


def sql_rank_sketch_quantiles() -> str:
    h = sql_md5_int60("CAST(doc_id AS VARCHAR)")
    q_rows = ", ".join(f"({q})" for q in RKS_QS)
    return f"""
WITH sk AS (
  SELECT n_chars AS v, {h} AS h FROM documents
  ORDER BY h LIMIT {RKS_K}
),
ranked AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn FROM sk),
ns AS (SELECT count(*) AS n_sketch FROM sk),
qs(q_pct) AS (VALUES {q_rows}),
targets AS (
  SELECT q_pct, n_sketch, (q_pct * n_sketch + 99) // 100 AS target_rn
  FROM qs, ns
),
est AS (
  SELECT q_pct, v AS v_est, n_sketch
  FROM targets JOIN ranked ON target_rn = rn
),
audit AS (
  SELECT q_pct, v_est, n_sketch, count(*) AS n_total,
         CAST(sum(CASE WHEN d.n_chars <= v_est THEN 1 ELSE 0 END) AS BIGINT)
           AS n_le
  FROM documents d CROSS JOIN est
  GROUP BY 1, 2, 3
)
SELECT q_pct, v_est, CAST(n_sketch AS BIGINT) AS n_sketch, n_le,
       CAST((CAST(n_le AS HUGEINT) * 1000000) // n_total AS BIGINT)
         AS rank_ppm,
       abs(CAST((CAST(n_le AS HUGEINT) * 1000000) // n_total AS BIGINT)
           - q_pct * CAST(10000 AS BIGINT)) AS err_ppm
FROM audit
"""


RKSK_K = 128  # per-key rank-sketch size
RKSK_QS = (50, 90)


def q_source_length_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE document-length quantiles from keyed rank sketches
    (:func:`~spark_ifs_spark.operators.sketches.rank_sketch_by_key`) —
    the per-domain length profile a curation pipeline runs at 100 TB,
    with fixed k-row state per source however the domain sizes skew
    (the grouped top-k's partial limit cuts every map partition to k
    rows per source before the shuffle, even when one domain owns most
    of the corpus). Every estimate's TRUE
    within-source rank is audited against the full relation in one
    conditional-count pass; ``err_ppm`` is the measured per-source
    rank error."""
    from spark_ifs_spark.operators.sketches import (
        rank_sketch_by_key,
        rank_sketch_quantiles_by_key,
    )

    docs = _read(spark, sf_dir, "documents")
    sk = rank_sketch_by_key(docs, ["source"], "doc_id", "n_chars", k=RKSK_K)
    est = rank_sketch_quantiles_by_key(sk, ["source"], RKSK_QS)
    audit = (
        docs.select("source", F.col("n_chars").alias("fv"))
        .join(F.broadcast(est), "source")
        .groupBy("source", "q_pct", "v_est", "n_sketch")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("fv") <= F.col("v_est"), 1).otherwise(0)).alias(
                "n_le"
            ),
        )
    )
    return audit.select(
        "source",
        "q_pct",
        "v_est",
        F.col("n_sketch").cast("long").alias("n_sketch"),
        "n_le",
        F.expr(
            "CAST((CAST(n_le AS DECIMAL(38,0)) * 1000000)"
            " DIV n_total AS BIGINT)"
        ).alias("rank_ppm"),
    ).withColumn(
        "err_ppm",
        F.abs(F.col("rank_ppm") - F.col("q_pct").cast("long") * F.lit(10_000)),
    )


def sql_source_length_quantiles_sketch() -> str:
    h = sql_md5_int60("CAST(doc_id AS VARCHAR)")
    q_rows = ", ".join(f"({q})" for q in RKSK_QS)
    return f"""
WITH sk AS (
  SELECT source, v, h FROM (
    SELECT source, n_chars AS v, {h} AS h,
           row_number() OVER (PARTITION BY source ORDER BY {h}) AS srn
    FROM documents
  ) WHERE srn <= {RKSK_K}
),
ranked AS (
  SELECT source, v, h,
         row_number() OVER (PARTITION BY source ORDER BY v, h) AS rn
  FROM sk
),
ns AS (SELECT source, count(*) AS n_sketch FROM sk GROUP BY 1),
qs(q_pct) AS (VALUES {q_rows}),
targets AS (
  SELECT source, q_pct, n_sketch, (q_pct * n_sketch + 99) // 100 AS target_rn
  FROM ns, qs
),
est AS (
  SELECT t.source, t.q_pct, r.v AS v_est, t.n_sketch
  FROM targets t JOIN ranked r ON r.source = t.source AND r.rn = t.target_rn
),
audit AS (
  SELECT e.source, e.q_pct, e.v_est, e.n_sketch, count(*) AS n_total,
         CAST(sum(CASE WHEN d.n_chars <= e.v_est THEN 1 ELSE 0 END) AS BIGINT)
           AS n_le
  FROM documents d JOIN est e ON e.source = d.source
  GROUP BY 1, 2, 3, 4
)
SELECT source, q_pct, v_est, CAST(n_sketch AS BIGINT) AS n_sketch, n_le,
       CAST((CAST(n_le AS HUGEINT) * 1000000) // n_total AS BIGINT)
         AS rank_ppm,
       abs(CAST((CAST(n_le AS HUGEINT) * 1000000) // n_total AS BIGINT)
           - q_pct * CAST(10000 AS BIGINT)) AS err_ppm
FROM audit
"""


MG_K = 48  # MG counters: undercount slack n/49 << φn at φ = 3.3%


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitters over the corpus token stream via the
    Misra-Gries-prefiltered two-pass plan
    (:func:`~spark_ifs_spark.operators.sketches.mg_heavy_hitters`) —
    the deterministic UNDERcount twin of ``cms_heavy_hitters``: per-
    partition k-counter summaries fold by counter addition, a true
    heavy hitter's merged counter can undercount by at most n/(k+1)
    (< the threshold by construction), so the shortlist has no false
    negatives and the exact verify pass drops the rest. Output is the
    exact heavy-hitter set with exact counts; the sketch's bounded
    state and undercount law are property-tested under random
    repartitioning in ``test_sketches.py``."""
    from spark_ifs_spark.operators.sketches import mg_heavy_hitters

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    return mg_heavy_hitters(toks, "w", phi_ppm=HH_PHI_PPM, k=MG_K)


def sql_mg_heavy_hitters() -> str:
    return f"""
WITH toks AS MATERIALIZED (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
total AS (
  SELECT CAST((CAST(count(*) AS HUGEINT) * {HH_PHI_PPM} + 999999) // 1000000
              AS BIGINT) AS thresh
  FROM toks
)
SELECT w AS term, CAST(count(*) AS BIGINT) AS n_exact
FROM toks, total
GROUP BY w, thresh
HAVING count(*) >= thresh
"""


@staged("hh_toks", "documents")
def _hh_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heavy-hitter cross-audit's token relation ``(w)`` for
    ``sf_dir``, session-staged: the audit runs TWO independent sketch
    routes (CMS grid + verify, MG fold + verify = four corpus passes),
    and tokenizing once halves its scan-side CPU while keeping the two
    routes' sketch math fully independent. Single-route keys
    (cms_heavy_hitters, mg_heavy_hitters) keep their own tokenize —
    their plan pins assert the text-only read."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))


def q_heavy_hitter_cross_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS route and the MG route run INDEPENDENTLY over the same
    token stream at the same φ and must agree exactly — the sketch
    cross-audit the ANN family's recall audits model: CMS shortlists by
    overcounting (no false negatives from above), MG by undercounting
    (no false negatives from below), both exact-verify, so any
    disagreement is a bug in one of the two sketch paths and surfaces
    here as a dropped row. Output = the agreed heavy-hitter rows with
    the CMS estimate (``cms_heavy_hitters`` schema); the oracle is the
    CMS body — a term either route misses never reaches the output, so
    the gate fails loudly rather than silently. The token relation is
    tokenized ONCE and staged (:func:`_hh_toks`) — the four sketch
    passes read the staged tokens instead of four explode-the-corpus
    scans; the sketch maths stay fully independent."""
    from spark_ifs_spark.operators.sketches import (
        cms_heavy_hitters,
        mg_heavy_hitters,
    )

    toks = _hh_toks(spark, sf_dir)
    via_cms = cms_heavy_hitters(
        toks, "w", phi_ppm=HH_PHI_PPM, depth=CMS_DEPTH, width=CMS_WIDTH,
        seed=CMS_SEED,
    )
    via_mg = mg_heavy_hitters(toks, "w", phi_ppm=HH_PHI_PPM, k=MG_K).select(
        "term", F.col("n_exact").alias("_n_mg")
    )
    return (
        via_cms.join(via_mg, "term")
        .filter(F.col("n_exact") == F.col("_n_mg"))
        .select("term", "est", "n_exact", "over_ppm")
    )


def q_docs_profile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``docs_profile`` distinct counts as a TRUE single-pass plan:
    all five columns stack into (col, value) pairs map-side and feed
    ONE portable-HLL aggregate — no Expand multi-distinct (which
    replicates every input row ~6x and shuffles the distinct keys),
    shuffle bounded by 5 × 2^p register cells. This is the plan
    ``q_docs_profile``'s docstring defers to, now with an EXACT oracle
    (the portable HLL estimates identically in DuckDB) instead of the
    unverifiable ``approx_count_distinct``. Output: (col,
    est_distinct) per profiled column."""
    from spark_ifs_spark.operators.sketches import hll_distinct

    docs = _read(spark, sf_dir, "documents")
    stacked = docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in _PROFILE_SKETCH_COLS
                ]
            )
        ).alias("s")
    ).select("s.col", "s.v").filter(F.col("v").isNotNull())
    out = hll_distinct(stacked, ["col"], "v", p=HLL_P)
    return out.select("col", F.round("est_distinct", 4).alias("est_distinct"))


def sql_docs_profile_sketch() -> str:
    from spark_ifs_spark.operators.sketches import sql_hll_distinct

    stacked = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS v FROM documents WHERE {c} IS NOT NULL"
        for c in _PROFILE_SKETCH_COLS
    )
    hll = sql_hll_distinct("vals", ["col"], "v", p=HLL_P)
    return f"""
WITH vals AS ({stacked})
SELECT col, round(est_distinct, 4) AS est_distinct
FROM ({hll}) t
"""




KMV_K = 128


def q_kmv_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-vocabulary cardinality via the KMV sketch
    (k smallest md5 hashes), PLUS the union cardinality computed by
    MERGING the per-source sketches — never re-scanning the corpus —
    with exact counts alongside as the estimator audit. At 100 TB the
    exact columns are the audit (swap them out); the sketch path's
    corpus work is one digest-distinct aggregate, and every shard/
    source sketch folds into any union by concatenation (pinned in
    ``test_sketches.py``)."""
    from spark_ifs_spark.operators import sketches
    from spark_ifs_spark.operators.topk import topk_per_key

    docs = _read(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    sk = sketches.kmv_sketch(terms, ["source"], "term", k=KMV_K)
    per = sketches.kmv_estimate(sk, ["source"], k=KMV_K)
    ex = terms.groupBy("source").agg(F.countDistinct("term").alias("n_exact"))
    merged = (
        sk.select("h").distinct().withColumn("source", F.lit("__union__"))
    )
    usk = topk_per_key(merged, ["source"], "h", k=KMV_K, descending=False)
    uper = sketches.kmv_estimate(usk, ["source"], k=KMV_K)
    uex = (
        terms.agg(F.countDistinct("term").alias("n_exact"))
        .withColumn("source", F.lit("__union__"))
    )
    out = per.join(ex, "source").unionByName(uper.join(uex, "source"))
    err = F.floor(
        (F.abs(F.col("est_distinct") - F.col("n_exact")).cast("double") * 1e6)
        / F.col("n_exact").cast("double")
    ).cast("long")
    return out.select(
        "source", "n_exact", "n_sketch", "kth_h", "est_distinct",
        err.alias("err_ppm"),
    )


def sql_kmv_distinct_sources() -> str:
    from spark_ifs_spark.operators.sketches import _kmv_num

    k = KMV_K
    num = repr(_kmv_num(k))
    h = sql_md5_int60("w")
    est = (
        f"CASE WHEN n_sketch < {k} THEN CAST(n_sketch AS BIGINT) "
        f"ELSE CAST(floor(CAST({num} AS DOUBLE) / CAST(kth_h AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
WITH terms AS MATERIALIZED (
  SELECT source, w, {h} AS h
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
),
d AS MATERIALIZED (SELECT DISTINCT source, h FROM terms),
sk AS MATERIALIZED (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM d
  ) WHERE rn <= {k}
),
per AS (
  SELECT source, CAST(count(*) AS INT) AS n_sketch, max(h) AS kth_h
  FROM sk GROUP BY 1
),
ex AS (SELECT source, count(DISTINCT w) AS n_exact FROM terms GROUP BY 1),
usk AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk)
  ) WHERE rn <= {k}
),
uper AS (
  SELECT '__union__' AS source, CAST(count(*) AS INT) AS n_sketch,
         max(h) AS kth_h
  FROM usk
),
uex AS (SELECT '__union__' AS source, count(DISTINCT w) AS n_exact FROM terms),
unioned AS (
  SELECT p.source, e.n_exact, p.n_sketch, p.kth_h FROM per p JOIN ex e USING (source)
  UNION ALL
  SELECT p.source, e.n_exact, p.n_sketch, p.kth_h FROM uper p JOIN uex e USING (source)
)
SELECT source, CAST(n_exact AS BIGINT) AS n_exact, n_sketch, kth_h,
       {est} AS est_distinct,
       CAST(floor((CAST(abs(({est}) - n_exact) AS DOUBLE) * 1e6)
                  / CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_ppm
FROM unioned
"""


def q_quantile_cross_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-sketch route and the hash-sample route estimate the
    SAME document-length quantiles INDEPENDENTLY and are rank-audited
    against the full relation in ONE shared conditional-count scan —
    the heavy-hitter cross-audit pattern applied to the quantile
    family: two estimators with unrelated randomness (bottom-k by
    doc_id hash vs a 5% doc_id-hash Bernoulli sample) must both land
    their true ranks near q·10⁴ ppm, and ``gap_ppm`` (the rank gap
    BETWEEN the two estimates) bounds how far either can be from the
    truth — if the routes ever drift apart, the gap blows up and the
    hash gate fails loudly. Output per q: both estimates, both
    measured rank errors, and the inter-estimator gap. Cost shape: two
    sketch-sized estimate stages plus ONE full scan (the single-route
    keys pay one scan each; the composite pays one, not two —
    ``hash_sample_quantile_estimates`` exists for exactly this)."""
    from spark_ifs_spark.operators.sampling import (
        hash_sample_quantile_estimates,
    )
    from spark_ifs_spark.operators.sketches import (
        rank_sketch,
        rank_sketch_quantiles,
    )

    docs = _read(spark, sf_dir, "documents")
    est_sk = rank_sketch_quantiles(
        rank_sketch(docs, "doc_id", "n_chars", k=RKS_K), RKS_QS
    ).select("q_pct", F.col("v_est").alias("v_sketch"))
    est_sm = hash_sample_quantile_estimates(
        docs, "doc_id", "n_chars", qs_pct=QSAMPLE_QS, sample_mod=QSAMPLE_MOD
    ).select("q_pct", F.col("v_est").alias("v_sample"))
    joint = est_sk.join(est_sm, "q_pct")
    audit = (
        docs.select(F.col("n_chars").alias("fv"))
        .crossJoin(F.broadcast(joint))
        .groupBy("q_pct", "v_sketch", "v_sample")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("fv") <= F.col("v_sketch"), 1).otherwise(0)).alias("n_le_sk"),
            F.sum(F.when(F.col("fv") <= F.col("v_sample"), 1).otherwise(0)).alias("n_le_sm"),
        )
    )
    ppm = (
        "CAST((CAST({n} AS DECIMAL(38,0)) * 1000000) DIV n_total AS BIGINT)"
    )
    return audit.select(
        "q_pct",
        F.col("v_sketch").alias("v_est_sketch"),
        F.col("v_sample").alias("v_est_sample"),
        F.expr(ppm.format(n="n_le_sk")).alias("rank_sketch_ppm"),
        F.expr(ppm.format(n="n_le_sm")).alias("rank_sample_ppm"),
    ).withColumn(
        "gap_ppm",
        F.abs(F.col("rank_sketch_ppm") - F.col("rank_sample_ppm")),
    )


def sql_quantile_cross_audit() -> str:
    h = sql_md5_int60("CAST(doc_id AS VARCHAR)")
    q_rows = ", ".join(f"({q})" for q in RKS_QS)
    return f"""
WITH sk AS (
  SELECT n_chars AS v, {h} AS h FROM documents
  ORDER BY h LIMIT {RKS_K}
),
sk_ranked AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn FROM sk),
sk_ns AS (SELECT count(*) AS n_sketch FROM sk),
qs(q_pct) AS (VALUES {q_rows}),
sk_est AS (
  SELECT q_pct, v AS v_sketch
  FROM qs, sk_ns
  JOIN sk_ranked ON (q_pct * n_sketch + 99) // 100 = rn
),
samp AS (
  SELECT n_chars AS v, doc_id AS k FROM documents
  WHERE {h} % {QSAMPLE_MOD} = 0
),
sm_ranked AS (SELECT v, row_number() OVER (ORDER BY v, k) AS rn FROM samp),
sm_ns AS (SELECT count(*) AS n_sample FROM samp),
sm_est AS (
  SELECT q_pct, v AS v_sample
  FROM qs, sm_ns
  JOIN sm_ranked ON (q_pct * n_sample + 99) // 100 = rn
),
joint AS (SELECT a.q_pct, v_sketch, v_sample FROM sk_est a JOIN sm_est b ON a.q_pct = b.q_pct),
audit AS (
  SELECT q_pct, v_sketch, v_sample, count(*) AS n_total,
         sum(CASE WHEN d.n_chars <= v_sketch THEN 1 ELSE 0 END) AS n_le_sk,
         sum(CASE WHEN d.n_chars <= v_sample THEN 1 ELSE 0 END) AS n_le_sm
  FROM documents d CROSS JOIN joint
  GROUP BY 1, 2, 3
)
SELECT q_pct, v_sketch AS v_est_sketch, v_sample AS v_est_sample,
       CAST((CAST(n_le_sk AS HUGEINT) * 1000000) // n_total AS BIGINT)
         AS rank_sketch_ppm,
       CAST((CAST(n_le_sm AS HUGEINT) * 1000000) // n_total AS BIGINT)
         AS rank_sample_ppm,
       abs(CAST((CAST(n_le_sk AS HUGEINT) * 1000000) // n_total AS BIGINT)
           - CAST((CAST(n_le_sm AS HUGEINT) * 1000000) // n_total AS BIGINT))
         AS gap_ppm
FROM audit
"""


def q_distinct_cross_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV route and the portable-HLL route estimate the SAME
    per-source distinct vocabularies INDEPENDENTLY — the cross-audit
    pattern (heavy hitters: CMS↔MG; quantiles: sketch↔sample) applied
    to the cardinality family: bottom-k order statistics vs register
    maxima share nothing but the md5 hash, so correlated failure
    requires a bug in the hash itself (which the exact column would
    then expose). Output per source: the exact count, both estimates,
    both measured errors, and ``gap_ppm`` — the inter-estimator gap
    that blows up if either route drifts. Both estimators are exact
    deterministic functions of the value multiset (integer register
    arithmetic / bottom-k hashes), so the gate hash-checks an
    *approximate* statistic with an *exact* differential test. One
    corpus scan per route (KMV: digest-distinct; HLL: register fold),
    both shuffle-bounded by keys·k and keys·2^p — at 100 TB the exact
    column is the audit you drop, the family convention."""
    from spark_ifs_spark.operators import sketches

    docs = _read(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    kmv = sketches.kmv_estimate(
        sketches.kmv_sketch(terms, ["source"], "term", k=KMV_K),
        ["source"],
        k=KMV_K,
    ).select("source", F.col("est_distinct").alias("kmv_est"))
    hll = sketches.hll_distinct(terms, ["source"], "term", p=HLL_P).select(
        "source", F.col("est_distinct").alias("hll_raw")
    )
    ex = terms.groupBy("source").agg(
        F.countDistinct("term").alias("n_exact")
    )
    out = ex.join(kmv, "source").join(hll, "source")

    def _ppm(expr):
        return F.floor(
            (F.abs(expr).cast("double") * 1e6) / F.col("n_exact").cast("double")
        ).cast("long")

    return out.select(
        "source",
        "n_exact",
        "kmv_est",
        F.round("hll_raw", 4).alias("hll_est"),
        _ppm(F.col("kmv_est") - F.col("n_exact")).alias("kmv_err_ppm"),
        _ppm(F.col("hll_raw") - F.col("n_exact")).alias("hll_err_ppm"),
        _ppm(F.col("kmv_est") - F.col("hll_raw")).alias("gap_ppm"),
    )


def sql_distinct_cross_audit() -> str:
    from spark_ifs_spark.operators.sketches import _kmv_num, sql_hll_distinct

    k = KMV_K
    num = repr(_kmv_num(k))
    h = sql_md5_int60("term")
    terms_sub = (
        "(SELECT source, unnest(string_split(text, ' ')) AS term"
        " FROM documents)"
    )
    hll_body = sql_hll_distinct(terms_sub, ["source"], "term", p=HLL_P)
    est = (
        f"CASE WHEN n_sketch < {k} THEN CAST(n_sketch AS BIGINT) "
        f"ELSE CAST(floor(CAST({num} AS DOUBLE) / CAST(kth_h AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
WITH terms AS MATERIALIZED (
  SELECT source, term, {h} AS h FROM {terms_sub}
),
d AS (SELECT DISTINCT source, h FROM terms),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM d
  ) WHERE rn <= {k}
),
kmv AS (
  SELECT source, {est} AS kmv_est
  FROM (
    SELECT source, CAST(count(*) AS INT) AS n_sketch, max(h) AS kth_h
    FROM sk GROUP BY 1
  )
),
hll AS (SELECT source, est_distinct AS hll_raw FROM ({hll_body})),
ex AS (SELECT source, count(DISTINCT term) AS n_exact FROM terms GROUP BY 1)
SELECT e.source, CAST(n_exact AS BIGINT) AS n_exact, kmv_est,
       round(hll_raw, 4) AS hll_est,
       CAST(floor(CAST(abs(kmv_est - n_exact) AS DOUBLE) * 1e6
                  / CAST(n_exact AS DOUBLE)) AS BIGINT) AS kmv_err_ppm,
       CAST(floor(abs(hll_raw - CAST(n_exact AS DOUBLE)) * 1e6
                  / CAST(n_exact AS DOUBLE)) AS BIGINT) AS hll_err_ppm,
       CAST(floor(abs(CAST(kmv_est AS DOUBLE) - hll_raw) * 1e6
                  / CAST(n_exact AS DOUBLE)) AS BIGINT) AS gap_ppm
FROM ex e JOIN kmv USING (source) JOIN hll USING (source)
"""


OV_MH_H = 128  # MinHash-route signature width for the overlap cross-audit

@staged("ov_voc", "documents")
def _ov_voc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The overlap cross-audit's DISTINCT ``(source, term)``
    word-bigram vocabulary for ``sf_dir``, session-staged: the audit's
    four consumers (KMV digest, MinHash minima, both sides of the exact
    self-join) read the staged relation instead of paying scan +
    explode + distinct each."""
    docs = _read(spark, sf_dir, "documents")
    # word-bigram relation, built JVM-side: slice off the last
    # token, then a positional transform pairs each token with
    # its successor
    bigrams = docs.select(
        "source", F.split("text", " ").alias("ws")
    ).select(
        "source",
        F.explode(
            F.expr(
                "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
                " (w, i) -> concat(w, ' ', ws[i + 1]))"
            )
        ).alias("term"),
    )
    return bigrams.distinct()


def q_overlap_cross_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth and final member of the cross-estimator audit family
    (heavy hitters: CMS↔MG; quantiles: sketch↔sample; distincts:
    KMV↔HLL; THIS: set overlap KMV↔MinHash): the bottom-k route
    (``kmv_overlap`` — one hash, order statistics of the pair UNION)
    and the signature route (``minhash_signatures``'s maths —
    ``OV_MH_H`` independent universal hashes, per-key minima compared
    coordinate-wise) estimate the SAME pairwise source BIGRAM-vocabulary Jaccard
    from structurally different sufficient statistics, sharing nothing
    but the md5 digest. Word bigrams, not unigrams: this corpus's
    sources share nearly all single words (unigram Jaccard ≈ 0.97–1.0
    at sf0.01 — a degenerate statistic), while bigram sets separate
    them (≈ 0.54–0.70), so the estimators' errors are measured on a
    statistic that actually discriminates. Output per source pair:
    both estimates, the exact Jaccard, both measured errors, and
    ``gap_ppm`` — the
    inter-estimator gap that blows up if either route drifts. Both
    estimators are exact deterministic functions of the value set
    (bottom-k hashes / coordinate-wise minima), so the gate
    hash-checks approximate statistics with an exact differential
    test, the family convention.

    Scale shape: each route touches the corpus once via a per-source
    digest-distinct; everything pairwise runs on sketch relations
    bounded by sources·k (KMV) and sources·H (MinHash) rows — pair
    fan-out never sees the corpus. The exact column pays the
    vocabulary self-join and is the audit you drop at 100 TB, exactly
    ``kmv_source_overlap``'s posture."""
    from spark_ifs_spark.functions.hashing import (
        md5_int60,
        sql_universal_hash,
    )
    from spark_ifs_spark.operators.sketches import kmv_overlap

    # ONE session-staged distinct bigram-vocabulary relation feeds all
    # routes (the staged-token convention of heavy_hitter_cross_audit):
    # the estimators' maths stay fully independent, but the corpus-
    # scale scan + explode + distinct happens once and the four
    # consumers read the staged parquet. Distinct is idempotent for
    # every route (KMV digest-distincts again on the hash; min over a
    # set ignores multiplicity; the exact side wants the set anyway).
    dvoc = _ov_voc(spark, sf_dir)
    est = kmv_overlap(dvoc, "source", "term", k=KMV_OV_K).select(
        F.col("key_a").alias("src_a"),
        F.col("key_b").alias("src_b"),
        F.col("jaccard_est").alias("jaccard_kmv"),
    )
    # MinHash route: per-source signature. The H minima are computed
    # as H parallel min-aggregate columns over one scan of the
    # vocabulary (identical maths to ``minhash_signatures``, same
    # params/hash), not an explode — the explode form multiplies the
    # corpus-scale distinct relation by H rows before aggregating,
    # this form keeps the scan at 1× and shuffles sources·H partial
    # minima. The wide row unpivots AFTER aggregation (sources rows).
    # The whole aggregate is parsed from ONE SQL array string: the
    # Column-API spelling issued ~10 driver-blocking py4j round-trips
    # per hash (~1.5 s of pure construction per call at H=128) for the
    # identical expression tree — the dedup_simhash / ivf.cell_expr
    # lesson. posexplode's 0-based position IS the former struct index.
    params = minhash_params(OV_MH_H)
    xs = dvoc.select("source", md5_int60(F.col("term")).alias("x"))
    mins_arr = ", ".join(
        f"min({sql_universal_hash('x', a, b)})" for a, b in params
    )
    sig = (
        xs.groupBy("source")
        .agg(F.expr(f"array({mins_arr})").alias("ms"))
        .selectExpr("source", "posexplode(ms) AS (i, minh)")
    )
    sa = sig.select(
        F.col("source").alias("src_a"), "i", F.col("minh").alias("ha")
    )
    sb = sig.select(
        F.col("source").alias("src_b"), "i", F.col("minh").alias("hb")
    )
    mh = (
        sa.join(F.broadcast(sb), "i")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("ha") == F.col("hb"), 1).otherwise(0)
                ).cast("double")
                / F.lit(float(OV_MH_H)),
                6,
            ).alias("jaccard_mh")
        )
    )
    # exact audit side (the column you drop at scale). The intersection
    # counts come from a basket fold (term -> sorted source set, pairs
    # expanded map-side — the co_occurrence_pairs shape, uncapped since
    # the per-term fan-out is bounded by the SOURCE count) instead of a
    # term-keyed self-join: one exchange of (term, source) + one of
    # bounded pair keys, where the join shuffled the string-keyed
    # vocabulary twice and joined it against itself. Identical counts —
    # each shared term contributes exactly one row per unordered pair.
    voc = dvoc.select(F.col("source").alias("src"), "term")
    sizes = voc.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    per_term = voc.groupBy("term").agg(
        F.array_sort(F.collect_set("src")).alias("ss")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda a, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
            ),
        )
    )
    inter = (
        per_term.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        inter.join(
            sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard_exact"),
        )
    )

    def _ppm(expr):
        return F.floor(
            F.abs(expr) * 1e6 / F.col("jaccard_exact")
        ).cast("long")

    return (
        est.join(mh, ["src_a", "src_b"])
        .join(exact, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "jaccard_kmv",
            "jaccard_mh",
            "jaccard_exact",
            _ppm(F.col("jaccard_kmv") - F.col("jaccard_exact")).alias(
                "kmv_err_ppm"
            ),
            _ppm(F.col("jaccard_mh") - F.col("jaccard_exact")).alias(
                "mh_err_ppm"
            ),
            _ppm(F.col("jaccard_kmv") - F.col("jaccard_mh")).alias("gap_ppm"),
        )
    )


def sql_overlap_cross_audit() -> str:
    k = KMV_OV_K
    hh = sql_md5_int60("w")
    params = minhash_params(OV_MH_H)
    hash_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(params)
    )
    return f"""
WITH tk AS (
  SELECT source, doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
terms AS MATERIALIZED (
  SELECT w, source, {hh} AS h FROM (
    SELECT a.source, a.w || ' ' || b.w AS w
    FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  )
),
d AS MATERIALIZED (SELECT DISTINCT source, h FROM terms),
sk AS MATERIALIZED (
  SELECT source AS key, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM d
  ) WHERE rn <= {k}
),
ks AS (SELECT DISTINCT key FROM sk),
pairs AS (
  SELECT a.key AS key_a, b.key AS key_b FROM ks a JOIN ks b ON a.key < b.key
),
rws AS (
  SELECT p.key_a, p.key_b, s.h,
         CASE WHEN s.key = p.key_a THEN 1 ELSE 0 END AS in_a,
         CASE WHEN s.key = p.key_b THEN 1 ELSE 0 END AS in_b
  FROM pairs p JOIN sk s ON s.key = p.key_a OR s.key = p.key_b
),
uboth AS (
  SELECT key_a, key_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM rws GROUP BY 1, 2, 3
),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key_a, key_b ORDER BY h) AS rn
    FROM uboth
  ) WHERE rn <= {k}
),
est AS (
  SELECT key_a AS src_a, key_b AS src_b,
         round(sum(in_a * in_b) * 1.0 / count(*), 6) AS jaccard_kmv
  FROM kept GROUP BY 1, 2
),
hp(i, a, b) AS (VALUES {hash_rows}),
sig AS (
  SELECT source, hp.i,
         min((hp.a * (h % {MINHASH_P}) + hp.b) % {MINHASH_P}) AS minh
  FROM d CROSS JOIN hp GROUP BY 1, 2
),
mh AS (
  SELECT a.source AS src_a, b.source AS src_b,
         round(sum(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) * 1.0
               / {OV_MH_H}, 6) AS jaccard_mh
  FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
  GROUP BY 1, 2
),
voc AS MATERIALIZED (SELECT DISTINCT source AS src, w FROM terms),
sizes AS (SELECT src, count(*) AS n FROM voc GROUP BY 1),
inter AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
  FROM voc a JOIN voc b ON a.w = b.w AND a.src < b.src
  GROUP BY 1, 2
),
exact AS (
  SELECT i.src_a, i.src_b,
         round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6)
           AS jaccard_exact
  FROM inter i
  JOIN sizes sa ON sa.src = i.src_a
  JOIN sizes sb ON sb.src = i.src_b
)
SELECT e.src_a, e.src_b, e.jaccard_kmv, m.jaccard_mh, x.jaccard_exact,
       CAST(floor(abs(e.jaccard_kmv - x.jaccard_exact) * 1e6
                  / x.jaccard_exact) AS BIGINT) AS kmv_err_ppm,
       CAST(floor(abs(m.jaccard_mh - x.jaccard_exact) * 1e6
                  / x.jaccard_exact) AS BIGINT) AS mh_err_ppm,
       CAST(floor(abs(e.jaccard_kmv - m.jaccard_mh) * 1e6
                  / x.jaccard_exact) AS BIGINT) AS gap_ppm
FROM est e
JOIN mh m ON m.src_a = e.src_a AND m.src_b = e.src_b
JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
"""
