"""Text/corpus statistics, sampling, BPE, pipelines, misc analytics."""

from spark_ifs_spark.registry._common import *  # noqa: F401,F403
from spark_ifs_spark.registry._common import (  # noqa: F401
    _BENFORD_PPM,
    _PROFILE_SKETCH_COLS,
    _SQL_SHINGLES,
    _SQL_WORDS,
    _fingerprint,
    _note_staged_build,
    _lr_features,
    _punct_fixture_expr,
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
from spark_ifs_spark.registry.dedup import q_dup_clusters  # noqa: F401
from spark_ifs_spark.registry.dedup import sql_dedup_minhash  # noqa: F401
from spark_ifs_spark.registry.dedup import sql_dup_clusters  # noqa: F401


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_read(spark, sf_dir, "documents"), "doc_id", "text")


def sql_text_token_counts() -> str:
    return f"""
SELECT doc_id AS id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{textstats.TOKEN_RE}')) AS n_re_tokens,
       length(text) AS n_chars
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textstats.quality_score(_read(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def _sql_quality_parts() -> tuple[str, str]:
    """(base CTE text, rounded-quality expression) — the heuristic
    quality score's SQL twin, shared by ``text_quality`` and
    ``quality_threshold_sweep`` so the two oracles cannot drift."""
    stop_sum = " + ".join(_sql_count_word(w) for w in textstats.STOPWORDS)
    base = f"""base AS (
  SELECT doc_id AS id,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) AS mean_wl,
         ({stop_sum}) * 1.0 / len(string_split(text, ' ')) AS stop_ratio
  FROM documents
)"""
    quality = """round(least(n_words / 50.0, 1.0)
             * (1.0 - least(abs(mean_wl - 5.0) / 5.0, 1.0))
             * least(stop_ratio * 5.0, 1.0), 6)"""
    return base, quality


def sql_text_quality() -> str:
    base, quality = _sql_quality_parts()
    return f"""
WITH {base}
SELECT id, n_words,
       round(mean_wl, 6) AS mean_word_len,
       round(stop_ratio, 6) AS stopword_ratio,
       {quality} AS quality
FROM base
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_read(spark, sf_dir, "documents"), "doc_id", "text")


def sql_lang_id() -> str:
    langs = sorted(textstats.LANG_MARKERS)
    counts = {
        lang: " + ".join(_sql_count_word(w) for w in textstats.LANG_MARKERS[lang])
        for lang in langs
    }
    cols = ",\n         ".join(f"({counts[lang]}) AS c_{lang}" for lang in langs)
    m = "greatest(" + ", ".join(f"c_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN c_{lang} = m THEN '{lang}'" for lang in langs)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         {cols}
  FROM documents
), mx AS (SELECT *, {m} AS m FROM base)
SELECT id, CASE {case} END AS pred_lang FROM mx
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textstats.repetition_ratio(_read(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "id", "n_tokens", "n_distinct_tokens", F.round("repetition", 6).alias("repetition")
    )


def sql_text_repetition() -> str:
    return """
SELECT doc_id AS id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       round(CASE WHEN len(string_split(text, ' ')) > 0
             THEN (len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' ')))) * 1.0
                  / len(string_split(text, ' '))
             ELSE 0.0 END, 6) AS repetition
FROM documents
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-cleaning pipeline — the operators composed the
    way a training-data job uses them: exact-dedup on the normalized
    fingerprint (keep lowest doc_id), then quality floor, then length
    floor. Returns surviving ``(id, fp, quality)``. One shuffle (the
    dedup groupBy); every filter is map-side."""
    docs = _read(spark, sf_dir, "documents")
    fp = textstats.fingerprint(docs, "doc_id", "text")
    q = textstats.quality_score(docs, "doc_id", "text")
    keep = fp.groupBy("fp").agg(F.min("id").alias("id"))
    return (
        keep.join(q, "id")
        .filter((F.col("quality") >= 0.1) & (F.col("n_words") >= 10))
        .select("id", "fp", F.round("quality", 6).alias("quality"))
    )


def sql_corpus_clean() -> str:
    # mirrors fingerprint + quality_score + dedup-keep-min + floors
    stop_hits = " + ".join(_sql_count_word(w) for w in textstats.STOPWORDS)
    return f"""
WITH fp AS (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents
),
keep AS (SELECT fp, min(id) AS id FROM fp GROUP BY fp),
q AS (
  SELECT doc_id AS id,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0 / len(string_split(text, ' ')) AS mean_wl,
         ({stop_hits}) * 1.0 / len(string_split(text, ' ')) AS stop_ratio
  FROM documents
),
scored AS (
  SELECT id, n_words,
         least(n_words / 50.0, 1.0)
         * (1.0 - least(abs(mean_wl - 5.0) / 5.0, 1.0))
         * least(stop_ratio * 5.0, 1.0) AS quality
  FROM q
)
SELECT k.id, k.fp, round(s.quality, 6) AS quality
FROM keep k JOIN scored s ON s.id = k.id
WHERE s.quality >= 0.1 AND s.n_words >= 10
"""


def q_vocab_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-50 by frequency (token-asc tie-break)."""
    out = textstats.vocab_counts(_read(spark, sf_dir, "documents"), "text")
    return out.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(50)


def sql_vocab_top50() -> str:
    return """
SELECT token, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT 50
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_read(spark, sf_dir, "documents"), "doc_id", "text")


def sql_doc_fingerprint() -> str:
    return """
SELECT doc_id AS id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
FROM documents
"""


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (train/val/test) — reported as counts per
    (split, lang) so the oracle compares the full assignment compactly."""
    from spark_ifs_spark.operators.sampling import split_assign

    docs = _read(spark, sf_dir, "documents")
    return (
        split_assign(docs, "doc_id", SPLIT_WEIGHTS, seed=SPLIT_SEED)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def sql_split_counts() -> str:
    from spark_ifs_spark.operators.sampling import sql_split_case

    case = sql_split_case("doc_id", SPLIT_WEIGHTS, SPLIT_SEED)
    return f"""
SELECT {case} AS split, lang, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


def q_docs_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: keep the CAP_PER_SOURCE longest docs per source
    (skew-safe grouped top-k, ``sampling.cap_per_key``)."""
    from spark_ifs_spark.operators.sampling import cap_per_key

    docs = _read(spark, sf_dir, "documents")
    return cap_per_key(
        docs,
        key_cols=["source"],
        order_col="n_chars",
        cap=CAP_PER_SOURCE,
        tiebreak_cols=["doc_id"],
        descending=True,
    ).select("source", "doc_id", "n_chars", "rank")


def sql_docs_cap_per_source() -> str:
    return f"""
SELECT source, doc_id, n_chars, rank
FROM (
  SELECT source, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) AS rank
  FROM documents
)
WHERE rank <= {CAP_PER_SOURCE}
"""


def q_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style de-stuttering: consecutive repeated tokens collapsed to
    one occurrence, with before/after token counts — the repeated-run
    boilerplate scrub (pagination artifacts, OCR stutter). Map-side
    array expression fused into the scan; the oracle replicates the
    positional filter with a DuckDB list comprehension."""
    from spark_ifs_spark.operators.textstats import collapse_repeated_tokens

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    out = collapse_repeated_tokens(docs, "doc_id", "text")
    return out.select("id", "n_before", "n_after", F.md5("clean_text").alias("clean_md5"))


def sql_collapse_repeats() -> str:
    return """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
kept AS (
  SELECT doc_id, t,
         [t[i] FOR i IN range(1, len(t) + 1) IF i = 1 OR t[i] <> t[i - 1]] AS k
  FROM toks
)
SELECT doc_id AS id,
       CAST(len(t) AS INT) AS n_before,
       CAST(len(k) AS INT) AS n_after,
       md5(array_to_string(k, ' ')) AS clean_md5
FROM kept
"""


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic synthetic PII appended
    (the corpus generator emits none), so the redaction path is actually
    exercised: one email and one 10-digit ref per doc."""
    from spark_ifs_spark.operators.textstats import scrub_pii

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com ref "),
            F.col("doc_id") + F.lit(1_000_000_000),
        ).alias("text"),
    )
    out = scrub_pii(docs, "doc_id", "text")
    return out.select(
        "id", F.md5("clean_text").alias("clean_md5"), "n_emails", "n_long_nums"
    )


def sql_scrub_pii() -> str:
    # keep the regexes textually identical to textstats.PII_*_RE
    from spark_ifs_spark.operators.textstats import PII_EMAIL_RE, PII_LONG_NUM_RE

    email = PII_EMAIL_RE.replace("'", "''")
    num = PII_LONG_NUM_RE
    return f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com ref ' || (doc_id + 1000000000) AS text
  FROM documents
), after_email AS (
  SELECT doc_id, text,
         regexp_replace(text, '{email}', '<EMAIL>', 'g') AS t1
  FROM injected
)
SELECT doc_id AS id,
       md5(regexp_replace(t1, '{num}', '<NUM>', 'g')) AS clean_md5,
       CAST(len(regexp_extract_all(text, '{email}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{num}')) AS INT) AS n_long_nums
FROM after_email
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (map-side array expression)."""
    from spark_ifs_spark.operators.chunking import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    out = chunk_documents(docs, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP)
    return out.select("id", "chunk_idx", "n_tokens", F.md5("chunk").alias("chunk_md5"))


def sql_doc_chunks() -> str:
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
)
SELECT doc_id AS id,
       CAST(s.i AS INT) AS chunk_idx,
       CAST(len(t[s.i * {stride} + 1 : s.i * {stride} + {CHUNK_TOKENS}]) AS INT) AS n_tokens,
       md5(array_to_string(t[s.i * {stride} + 1 : s.i * {stride} + {CHUNK_TOKENS}], ' ')) AS chunk_md5
FROM toks, LATERAL (SELECT unnest(generate_series(0, (len(t) - 1) // {stride})) AS i) s
"""


def q_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval sequence packing of the chunks into ~PACK_TARGET-token
    bins per language partition; reported per (lang, bin)."""
    from spark_ifs_spark.operators.chunking import chunk_documents, pack_chunks

    docs = _read(spark, sf_dir, "documents")
    # lang rides through the map-side chunker (carry_cols) — joining a
    # per-row attribute back onto the chunk relation would shuffle the
    # whole corpus at scale
    chunks = chunk_documents(
        docs, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP, carry_cols=["lang"]
    )
    packed = pack_chunks(
        chunks,
        partition_cols=["lang"],
        size_col="n_tokens",
        target_tokens=PACK_TARGET,
        order_cols=["id", "chunk_idx"],
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_chunks"), F.sum("n_tokens").alias("sum_tokens")
    )


def sql_packed_bins() -> str:
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    return f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
), chunks AS (
  SELECT doc_id AS id, lang, s.i AS chunk_idx,
         len(t[s.i * {stride} + 1 : s.i * {stride} + {CHUNK_TOKENS}]) AS n_tokens
  FROM toks, LATERAL (SELECT unnest(generate_series(0, (len(t) - 1) // {stride})) AS i) s
), packed AS (
  SELECT lang, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / {PACK_TARGET}) AS BIGINT) AS bin_id
  FROM chunks
)
SELECT lang, bin_id, count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM packed
GROUP BY 1, 2
"""


def q_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (rank by exact score, THEN round —
    the registry's float-determinism convention)."""
    from spark_ifs_spark.operators.textstats import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", k=TFIDF_K)
    return out.select("id", "term", F.round("tfidf", 6).alias("tfidf"), "rank")


def sql_tfidf_top3() -> str:
    return f"""
WITH tf AS (
  SELECT doc_id AS id, w.term, count(*) AS tf
  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS term) w
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.id, tf.term, tf.tf * ln(n.n_docs * 1.0 / dfreq.df) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT id, term, round(tfidf, 6) AS tfidf, rank
FROM (
  SELECT id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS INT) AS rank
  FROM scored
)
WHERE rank <= {TFIDF_K}
"""


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the same linear-interpolation
    definition — verified value-identical). Scale note: swap in
    ``approx_percentile(col, ..., accuracy)`` past the point where exact
    per-group sort-aggregation is worth it; the plan shape (one grouped
    aggregate) is unchanged."""
    docs = _read(spark, sf_dir, "documents")
    q = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))").alias("q"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return q.select(
        "lang",
        "n_docs",
        F.round(F.col("q")[0], 6).alias("p50"),
        F.round(F.col("q")[1], 6).alias("p90"),
        F.round(F.col("q")[2], 6).alias("p99"),
    )


def sql_doc_length_quantiles() -> str:
    return """
SELECT lang,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents
GROUP BY lang
"""


def q_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture: downsample every source to its char
    budget, report kept (docs, chars) per source."""
    from spark_ifs_spark.operators.sampling import weighted_mix

    docs = _read(spark, sf_dir, "documents")
    kept = weighted_mix(docs, "doc_id", "source", "n_chars", MIX_TARGETS, MIX_SEED)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


def sql_mix_by_source() -> str:
    from spark_ifs_spark.operators.sampling import SPLIT_BUCKETS, sql_split_bucket

    vals = ", ".join(f"('{k}', {v})" for k, v in MIX_TARGETS.items())
    bucket = sql_split_bucket("d.doc_id", MIX_SEED)
    return f"""
WITH tgt(source, target) AS (VALUES {vals}),
tot AS (SELECT source, sum(n_chars) AS total FROM documents GROUP BY source),
kept AS (
  SELECT d.source, d.n_chars
  FROM documents d JOIN tot USING (source) JOIN tgt USING (source)
  WHERE tot.total <= tgt.target
     OR {bucket} * tot.total < tgt.target * {SPLIT_BUCKETS}
)
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY source
"""


def q_bpe_pairs_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training counting round: top-50 adjacent token pairs."""
    from spark_ifs_spark.operators.textstats import adjacent_pair_counts

    docs = _read(spark, sf_dir, "documents")
    return adjacent_pair_counts(docs, "text", top_n=50)


def sql_bpe_pairs_top50() -> str:
    return """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT t[i] || ' ' || t[i + 1] AS pair
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
)
SELECT pair, count(*) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT 50
"""


def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data pipeline composed end to end, the way
    a real job chains the operators: quality/exact-dup clean
    (``corpus_clean``) ∩ minhash-LSH near-dup *representatives only*
    (``dup_clusters`` + keep-min) → deterministic train/val/test split
    → per-split document and token budgets. One extra shuffle per
    stage boundary; every stage's own plan is the one audited under its
    individual query."""
    clean = q_corpus_clean(spark, sf_dir).select("id")
    clusters = q_dup_clusters(spark, sf_dir)
    reps = clusters.groupBy("cluster").agg(F.min("doc_id").alias("keep_id"))
    losers = (
        clusters.join(reps, "cluster")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    kept = clean.join(
        losers, clean["id"] == losers["doc_id"], "left_anti"
    )
    docs = _read(spark, sf_dir, "documents")
    toks = textstats.token_counts(docs, "doc_id", "text").select(
        "id", "n_ws_tokens"
    )
    from spark_ifs_spark.operators.sampling import split_assign

    assigned = split_assign(
        kept.join(toks, "id"), "id", SPLIT_WEIGHTS, seed=SPLIT_SEED
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").alias("n_tokens"),
    )


def sql_pipeline_end_to_end() -> str:
    from spark_ifs_spark.operators.sampling import sql_split_case

    case = sql_split_case("k.id", SPLIT_WEIGHTS, SPLIT_SEED)
    return f"""
WITH clean AS (SELECT id FROM ({sql_corpus_clean()}) t),
clusters AS (SELECT * FROM ({sql_dup_clusters()}) t),
reps AS (SELECT cluster, min(doc_id) AS keep_id FROM clusters GROUP BY cluster),
losers AS (
  SELECT c.doc_id FROM clusters c JOIN reps r ON c.cluster = r.cluster
  WHERE c.doc_id <> r.keep_id
),
kept AS (
  SELECT id FROM clean
  WHERE id NOT IN (SELECT doc_id FROM losers)
),
toks AS (
  SELECT doc_id AS id, len(string_split(text, ' ')) AS n_ws_tokens
  FROM documents
)
SELECT {case} AS split,
       count(*) AS n_docs,
       CAST(sum(t.n_ws_tokens) AS BIGINT) AS n_tokens
FROM kept k JOIN toks t ON k.id = t.id
GROUP BY 1
"""


def q_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level lineage for :func:`q_pipeline_end_to_end` — the
    audit trail a real pretraining pipeline publishes next to its output:
    one row per stage ``(stage, n_in, n_out, n_dropped)``, where
    ``01_clean`` and ``02_dedup`` record their drop counts and each
    ``03_split:*`` fans the surviving documents out (dropping nothing).
    Every count is a scalar aggregate (one row each); the final report
    assembles them with cross joins of 1-row relations + a union — no
    driver-side arithmetic, so the audit runs inside the same job as the
    pipeline would at 100 TB."""
    docs = _read(spark, sf_dir, "documents")
    clean = q_corpus_clean(spark, sf_dir).select("id")
    clusters = q_dup_clusters(spark, sf_dir)
    reps = clusters.groupBy("cluster").agg(F.min("doc_id").alias("keep_id"))
    losers = (
        clusters.join(reps, "cluster")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    kept = clean.join(losers, clean["id"] == losers["doc_id"], "left_anti")

    from spark_ifs_spark.operators.sampling import split_assign

    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    ncl = clean.agg(F.count(F.lit(1)).alias("n_clean"))
    nk = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    scalars = tot.crossJoin(ncl).crossJoin(nk)
    stage_clean = scalars.select(
        F.lit("01_clean").alias("stage"),
        F.col("n_total").alias("n_in"),
        F.col("n_clean").alias("n_out"),
        (F.col("n_total") - F.col("n_clean")).alias("n_dropped"),
    )
    stage_dedup = scalars.select(
        F.lit("02_dedup").alias("stage"),
        F.col("n_clean").alias("n_in"),
        F.col("n_kept").alias("n_out"),
        (F.col("n_clean") - F.col("n_kept")).alias("n_dropped"),
    )
    splits = (
        split_assign(kept, "id", SPLIT_WEIGHTS, seed=SPLIT_SEED)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_out"))
        .crossJoin(nk)
        .select(
            F.concat(F.lit("03_split:"), F.col("split")).alias("stage"),
            F.col("n_kept").alias("n_in"),
            "n_out",
            F.lit(0).cast("long").alias("n_dropped"),
        )
    )
    return stage_clean.unionAll(stage_dedup).unionAll(splits)


def sql_pipeline_audit() -> str:
    from spark_ifs_spark.operators.sampling import sql_split_case

    case = sql_split_case("k.id", SPLIT_WEIGHTS, SPLIT_SEED)
    return f"""
WITH clean AS (SELECT id FROM ({sql_corpus_clean()}) t),
clusters AS (SELECT * FROM ({sql_dup_clusters()}) t),
reps AS (SELECT cluster, min(doc_id) AS keep_id FROM clusters GROUP BY cluster),
losers AS (
  SELECT c.doc_id FROM clusters c JOIN reps r ON c.cluster = r.cluster
  WHERE c.doc_id <> r.keep_id
),
kept AS (
  SELECT id FROM clean
  WHERE id NOT IN (SELECT doc_id FROM losers)
),
tot AS (SELECT count(*) AS n_total FROM documents),
ncl AS (SELECT count(*) AS n_clean FROM clean),
nk AS (SELECT count(*) AS n_kept FROM kept),
sp AS (SELECT {case} AS split, count(*) AS n_out FROM kept k GROUP BY 1)
SELECT '01_clean' AS stage, n_total AS n_in, n_clean AS n_out,
       n_total - n_clean AS n_dropped
FROM tot, ncl
UNION ALL
SELECT '02_dedup', n_clean, n_kept, n_clean - n_kept FROM ncl, nk
UNION ALL
SELECT '03_split:' || split, n_kept, n_out, CAST(0 AS BIGINT) FROM sp, nk
"""


@staged("bpe_merges", "documents")
def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's trained BPE merge table ``(rank, x, y, n)``, a
    driver-looped training build, session-staged: bpe_train_merges
    serves it directly and bpe_token_counts' encode side collects it."""
    from spark_ifs_spark.operators import bpe

    docs = _read(spark, sf_dir, "documents")
    return bpe.bpe_train(docs, "text", BPE_MERGES)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training, 5 merge rounds: corpus folded to a
    word-frequency table once, merges learned over the vocabulary
    relation (see ``operators/bpe.py``). Served from the session-staged
    build (:func:`_bpe_merges`) shared with the encode side."""
    return _bpe_merges(spark, sf_dir)


def sql_bpe_train() -> str:
    rounds = ",".join(_sql_bpe_round(r) for r in range(BPE_MERGES))
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS rank, x, y, CAST(n AS BIGINT) AS n FROM win{r}"
        for r in range(BPE_MERGES)
    )
    return f"""
WITH words AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
syms0 AS (SELECT w, c, string_split(w, '') AS s FROM words),
{rounds}
{finals}
"""


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply side of BPE: train 5 merges, then tokenize the corpus
    with them — per-document token counts. Merges are applied once per
    distinct word (vocabulary relation), not per occurrence."""
    from spark_ifs_spark.operators import bpe

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    # merge table from the session-staged training build (BPE_MERGES
    # rows, trivially collectable)
    merges = [
        (r["x"], r["y"])
        for r in _bpe_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    return bpe.bpe_encode(docs, "doc_id", "text", merges).select(
        F.col("id").alias("doc_id"), "n_tokens"
    )


def sql_bpe_token_counts() -> str:
    rounds = ",".join(_sql_bpe_round(r) for r in range(BPE_MERGES))
    return f"""
WITH words AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
),
syms0 AS (SELECT w, c, string_split(w, '') AS s FROM words),
{rounds},
wtok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT t.doc_id, CAST(sum(len(v.s)) AS BIGINT) AS n_tokens
FROM wtok t JOIN syms{BPE_MERGES} v ON t.w = v.w
WHERE t.w <> ''
GROUP BY t.doc_id
"""


def q_order_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation over a big-big join —
    per return flag, how many lines belong to urgent-ish vs other
    orders. Plan: the date filter pushes to the lineitem scan, the join
    shuffles on orderkey (sort-merge; AQE re-plans if one side
    collapses), and the CASE counts fold into ONE hash aggregate over a
    3-row key space — never two joins or two passes."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1997-01-01"
    )
    orders = _read(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def sql_order_priority_mix() -> str:
    return """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01'
GROUP BY l_returnflag
"""


def q_docs_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length deciles via ``ntile(10)`` — the
    length-bucketing step before padding-efficient batch assembly.
    The window orders by the unique (n_chars, doc_id) pair, so bucket
    boundaries are total-order deterministic on both engines; the
    rollup after it is a bounded aggregate."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("decile", F.ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def sql_docs_length_deciles() -> str:
    return """
SELECT lang, CAST(ntile(10) OVER (
         PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC
       ) AS INT) AS decile, doc_id, n_chars
FROM documents
"""  # outer aggregate below


def sql_docs_length_deciles_full() -> str:
    return f"""
WITH d AS ({sql_docs_length_deciles()})
SELECT lang, decile, count(*) AS n,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM d GROUP BY lang, decile
"""


def q_docs_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-N uniform draw — see :func:`~spark_ifs_spark.
    operators.sampling.sample_exact_n` (hash-ordered TakeOrdered; no
    global sort)."""
    from spark_ifs_spark.operators.sampling import sample_exact_n

    docs = _read(spark, sf_dir, "documents")
    return sample_exact_n(docs, "doc_id", SAMPLE_N, SAMPLE_SEED).select(
        "doc_id", "source", "n_chars"
    )


def sql_docs_sample_n() -> str:
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    keyed = f"concat('{SAMPLE_SEED}:', CAST(doc_id AS VARCHAR))"
    return f"""
SELECT doc_id, source, n_chars
FROM documents
ORDER BY {sql_md5_int60(keyed)} ASC, doc_id ASC
LIMIT {SAMPLE_N}
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard — see :func:`~spark_ifs_spark.
    operators.textstats.source_vocab_overlap` for the inverted-index
    plan and the sources²-bounded fan-out argument."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.source_vocab_overlap(docs, "source", "text")


def sql_source_overlap() -> str:
    return """
WITH toks AS (
  SELECT DISTINCT source AS src, w.tok
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) w
  WHERE w.tok <> ''
), sizes AS (
  SELECT src, count(*) AS n FROM toks GROUP BY src
), inter AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.src < b.src
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.src = inter.src_a
JOIN sizes sb ON sb.src = inter.src_b
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a fixed bag-of-words query —
    lexical retrieval with integer-micro exactness (see
    ``textstats.bm25_topk`` for the plan narrative)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.bm25_topk(
        docs, "doc_id", "text", BM25_QUERY_TERMS, k=BM25_K
    )


def sql_bm25_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH base AS (
  SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents
), stats AS (
  SELECT count(*) AS n, sum(len(t)) AS total FROM base
), tf AS (
  SELECT id, len(t) AS dl, w.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(t) AS term) w
  WHERE w.term IN ({terms})
  GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.id,
         CAST(floor(
           ln(1.0 + (CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE))
                                  / (CAST(s.total AS DOUBLE) / CAST(s.n AS DOUBLE)))))
           * 1000000.0) AS BIGINT) AS s_micro
  FROM tf CROSS JOIN stats s JOIN dfreq d USING (term)
)
SELECT id, CAST(sum(s_micro) AS BIGINT) AS score_micro
FROM scored GROUP BY 1
ORDER BY score_micro DESC, id ASC LIMIT {BM25_K}
"""


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse all-pairs similarity: doc pairs with tf-idf cosine ≥
    threshold over a DF-pruned vocabulary (inverted-index join, integer
    weights — see ``textstats.tfidf_cosine_pairs``)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.tfidf_cosine_pairs(
        docs,
        "doc_id",
        "text",
        threshold=TFIDF_PAIR_THRESHOLD,
        max_df=TFIDF_PAIR_MAX_DF,
    )


def sql_tfidf_cosine_pairs() -> str:
    return f"""
WITH tf AS (
  SELECT doc_id AS id, w.term, count(*) AS tf
  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS term) w
  GROUP BY 1, 2
), n AS (
  SELECT count(*) AS n_docs FROM documents
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), wts AS (
  SELECT tf.id, tf.term, d.df,
         CAST(tf.tf AS BIGINT)
         * CAST(floor(ln(CAST(n.n_docs AS DOUBLE) / d.df) * 1000000.0) AS BIGINT) AS w
  FROM tf JOIN dfreq d USING (term) CROSS JOIN n
  WHERE d.df <= {TFIDF_PAIR_MAX_DF}
), wpos AS (
  SELECT * FROM wts WHERE w > 0
), norms AS (
  SELECT id, CAST(sum(w * w) AS BIGINT) AS norm2 FROM wpos GROUP BY 1
), dots AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM wpos a JOIN wpos b ON a.term = b.term AND a.id < b.id
  WHERE a.df >= 2
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cos_sim
FROM dots
JOIN norms na ON na.id = dots.id_a
JOIN norms nb ON nb.id = dots.id_b
WHERE round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))), 6)
      >= {TFIDF_PAIR_THRESHOLD}
"""


def q_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a tiny logistic quality classifier (2 full-batch GD steps,
    integer-micro weights — ``operators/lr.py``) on cheap document
    features, then score every document map-side. The oracle unrolls
    both training iterations and the scoring pass as CTEs."""
    from spark_ifs_spark.operators import lr

    feats = _lr_features(spark, sf_dir)
    w = lr.lr_train(feats, LR_FEATURES, "y", iters=LR_ITERS)
    return lr.lr_score(feats, LR_FEATURES, w, "doc_id")


def sql_quality_lr_score() -> str:
    # margin under weights (wa, wb, wc) — mirrors the Spark fold order:
    # ((0.0 + w0·x0) + w1·x1) + w2·x2
    def margin(pre: str) -> str:
        return (
            f"(0.0 + ({pre}.wa / 1000000.0) * x0"
            f" + ({pre}.wb / 1000000.0) * x1"
            f" + ({pre}.wc / 1000000.0) * x2)"
        )

    sig = lambda m: f"(1.0 / (1.0 + exp(-{m})))"
    g = lambda p_expr, x: (
        f"CAST(sum(CAST(floor(({p_expr} - y) * {x} * 1000000.0) AS BIGINT)) AS BIGINT)"
    )
    m2 = margin("w1")
    ms = margin("w2")
    return f"""
WITH feats AS (
  SELECT doc_id AS id, 1.0 AS x0, n_chars / 1000.0 AS x1,
         len(string_split(text, ' ')) / 100.0 AS x2,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM feats
), g1 AS (
  SELECT {g("0.5", "x0")} AS ga, {g("0.5", "x1")} AS gb, {g("0.5", "x2")} AS gc
  FROM feats
), w1 AS (
  SELECT 0 - (g1.ga * 1 // (2 * nn.n)) AS wa,
         0 - (g1.gb * 1 // (2 * nn.n)) AS wb,
         0 - (g1.gc * 1 // (2 * nn.n)) AS wc
  FROM g1 CROSS JOIN nn
), g2 AS (
  SELECT {g(sig(m2), "x0")} AS ga, {g(sig(m2), "x1")} AS gb, {g(sig(m2), "x2")} AS gc
  FROM feats CROSS JOIN w1
), w2 AS (
  SELECT w1.wa - (g2.ga * 1 // (2 * nn.n)) AS wa,
         w1.wb - (g2.gb * 1 // (2 * nn.n)) AS wb,
         w1.wc - (g2.gc * 1 // (2 * nn.n)) AS wc
  FROM g2 CROSS JOIN w1 CROSS JOIN nn
)
SELECT id, CAST(floor({sig(ms)} * 1000000.0) AS BIGINT) AS score_micro
FROM feats CROSS JOIN w2
"""


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (A-ES md5
    keys, probability ∝ document length) —
    ``operators/sampling.weighted_sample_n``."""
    from spark_ifs_spark.operators.sampling import weighted_sample_n

    docs = _read(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") + F.lit(1)
    )
    return weighted_sample_n(docs, "doc_id", "w", WSAMPLE_N, WSAMPLE_SEED).select(
        "doc_id", "source", "n_chars"
    )


def sql_docs_weighted_sample() -> str:
    keyed = f"concat('{WSAMPLE_SEED}:', CAST(doc_id AS VARCHAR))"
    h = sql_md5_int60(keyed)
    denom = float(2**60 + 1)
    return f"""
SELECT doc_id, source, n_chars
FROM documents
ORDER BY ln(CAST({h} + 1 AS DOUBLE) / {denom!r}) / CAST(n_chars + 1 AS DOUBLE) DESC,
         doc_id ASC
LIMIT {WSAMPLE_N}
"""


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank: PageRank over the token co-occurrence graph (nodes =
    corpus vocabulary, edges = distinct adjacent-token pairs in both
    directions) — the classic graph-based keyword ranking, and the
    registry's iterative-graph-algorithm exemplar beyond connected
    components (``operators/graph.pagerank``; ranks never visit the
    driver). Unweighted-edge variant; integer-micro ranks."""
    from spark_ifs_spark.operators import graph

    # edges branch reads with the adaptive fan-out (replacing a
    # hard-coded repartition(32) — identical exchange locally, identity
    # on well-split inputs); the nodes branch reads plain, keeping its
    # cheap distinct off the exchange exactly as before
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    nodes_docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    m = F.size(toks)
    # both edge directions emitted in ONE zip_with pass (HOFs are
    # interpreted, so a union of fwd + reversed-fwd would evaluate the
    # pair build twice — measured 3.4x slower)
    pairs = F.zip_with(
        F.slice(toks, 1, m - 1),
        F.slice(toks, 2, m - 1),
        lambda a, b: F.array(
            F.struct(a.alias("src"), b.alias("dst")),
            F.struct(b.alias("src"), a.alias("dst")),
        ),
    )
    edges = (
        docs
        .select(F.explode(F.flatten(pairs)).alias("p"))
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = nodes_docs.select(F.explode(toks).alias("term")).distinct()
    out = graph.pagerank(
        edges, nodes, iters=PAGERANK_ITERS, damping=PAGERANK_DAMPING
    )
    return out.select(F.col("id").alias("term"), "pr_micro")


def sql_textrank_keywords() -> str:
    teleport = int((1.0 - PAGERANK_DAMPING) * 1000000)
    d = PAGERANK_DAMPING
    return f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
), fwd AS (
  SELECT DISTINCT t[s.i] AS src, t[s.i + 1] AS dst
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
  WHERE len(t) >= 2
), edges AS (
  SELECT src, dst FROM fwd WHERE src <> dst
  UNION
  SELECT dst AS src, src AS dst FROM fwd WHERE src <> dst
), nodes AS (
  SELECT DISTINCT w.w AS id FROM toks, LATERAL (SELECT unnest(t) AS w) w
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
), r0 AS (
  SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes
), c1 AS (
  SELECT e.dst AS id, CAST(sum(r0.pr // d.deg) AS BIGINT) AS s
  FROM r0 JOIN edges e ON e.src = r0.id JOIN deg d ON d.src = e.src
  GROUP BY 1
), r1 AS (
  SELECT nodes.id,
         CAST({teleport} + floor({d} * CAST(coalesce(c1.s, 0) AS DOUBLE)) AS BIGINT) AS pr
  FROM nodes LEFT JOIN c1 USING (id)
), c2 AS (
  SELECT e.dst AS id, CAST(sum(r1.pr // d.deg) AS BIGINT) AS s
  FROM r1 JOIN edges e ON e.src = r1.id JOIN deg d ON d.src = e.src
  GROUP BY 1
), r2 AS (
  SELECT nodes.id,
         CAST({teleport} + floor({d} * CAST(coalesce(c2.s, 0) AS DOUBLE)) AS BIGINT) AS pr
  FROM nodes LEFT JOIN c2 USING (id)
)
SELECT id AS term, pr AS pr_micro FROM r2
"""


def q_docs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct 3-gram
    shingles that are corpus boilerplate (shingle DF > 5% of docs) — the
    document-level score that template filtering thresholds on. See
    :func:`~spark_ifs_spark.operators.textstats.boilerplate_fraction`."""
    from spark_ifs_spark.operators.textstats import boilerplate_fraction
    from spark_ifs_spark.registry.dedup import _shingles

    docs = _read(spark, sf_dir, "documents")
    out = boilerplate_fraction(
        docs, "doc_id", "text", n=NGRAM_N, max_frac=NOVELTY_MAX_FRAC,
        sh=_shingles(spark, sf_dir),
    )
    return out.select(
        "id", "n_shingles", "n_boiler", F.round("boiler_frac", 6).alias("boiler_frac")
    )


def sql_docs_novelty() -> str:
    return f"""
WITH {_SQL_SHINGLES},
dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
tot AS (SELECT count(*) AS n_docs FROM documents)
SELECT s.id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN d.df > tot.n_docs * {NOVELTY_MAX_FRAC} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       round(sum(CASE WHEN d.df > tot.n_docs * {NOVELTY_MAX_FRAC} THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS boiler_frac
FROM sh s JOIN dfreq d USING (sh), tot
GROUP BY s.id, tot.n_docs
"""


def q_docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled multilingual mix (α = 0.5, mT5-style):
    downsample each language so kept counts are ∝ sqrt(n_lang), lifting
    low-resource languages; report kept (docs, chars) per language.
    The keep decision is exact 64-bit integer arithmetic (see
    :func:`~spark_ifs_spark.operators.sampling.temperature_mix`), so
    the result is bit-identical across engines and cluster sizes."""
    from spark_ifs_spark.operators.sampling import temperature_mix

    docs = _read(spark, sf_dir, "documents")
    kept = temperature_mix(docs, "doc_id", "lang", TEMP_MIX_SEED)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


def sql_docs_temperature_mix() -> str:
    from spark_ifs_spark.operators.sampling import SPLIT_BUCKETS, sql_split_bucket

    b = sql_split_bucket("d.doc_id", TEMP_MIX_SEED)
    return f"""
WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
mn AS (SELECT min(n) AS nmin FROM n),
kept AS (
  SELECT d.lang, d.n_chars
  FROM documents d JOIN n USING (lang), mn
  WHERE {b} * {b} * n.n < mn.nmin * {SPLIT_BUCKETS * SPLIT_BUCKETS}
)
SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY lang
"""


def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter bundle: per-doc boolean flags (word
    count, mean word length, stopword presence, top-word repetition)
    plus the conjunction — rule-level drop attribution, the first
    data-quality dashboard a pretraining pipeline needs. See
    :func:`~spark_ifs_spark.operators.textstats.gopher_quality_flags`."""
    from spark_ifs_spark.operators.textstats import gopher_quality_flags

    docs = _read(spark, sf_dir, "documents")
    return gopher_quality_flags(docs, "doc_id", "text")


def sql_gopher_filters() -> str:
    from spark_ifs_spark.operators import textstats as ts

    stop_sum = " + ".join(_sql_count_word(w) for w in ts.STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
           / len(string_split(text, ' ')) AS mwl,
         ({stop_sum}) AS stop_hits
  FROM documents
),
wc AS (
  SELECT doc_id AS id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
),
top AS (SELECT id, max(c) * 1.0 / CAST(sum(c) AS BIGINT) AS top_frac FROM wc GROUP BY 1)
SELECT b.id, b.n_words,
       b.n_words >= {ts.GOPHER_MIN_WORDS} AND b.n_words <= {ts.GOPHER_MAX_WORDS} AS ok_word_count,
       b.mwl >= {ts.GOPHER_MIN_MEAN_WL} AND b.mwl <= {ts.GOPHER_MAX_MEAN_WL} AS ok_mean_word_len,
       b.stop_hits >= {ts.GOPHER_MIN_STOP_HITS} AS ok_stopwords,
       t.top_frac <= {ts.GOPHER_MAX_TOP_WORD_FRAC} AS ok_top_word,
       (b.n_words >= {ts.GOPHER_MIN_WORDS} AND b.n_words <= {ts.GOPHER_MAX_WORDS})
         AND (b.mwl >= {ts.GOPHER_MIN_MEAN_WL} AND b.mwl <= {ts.GOPHER_MAX_MEAN_WL})
         AND b.stop_hits >= {ts.GOPHER_MIN_STOP_HITS}
         AND t.top_frac <= {ts.GOPHER_MAX_TOP_WORD_FRAC} AS pass_all
FROM base b JOIN top t ON b.id = t.id
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: minhash near-dup pairs bucketed by
    the split pair they straddle — the leakage check every eval split
    needs BEFORE training (a near-dup of a test doc inside train
    silently inflates eval). Output is (split_lo, split_hi, n_pairs);
    any row with split_lo != split_hi is leakage.

    Plan: the pair relation (LSH-bucketed, sub-quadratic) is tiny
    relative to the corpus; the split label is a scan-fused hash
    projection (zero extra shuffles), joined twice on the id — at
    100 TB both joins key on doc ids with no skew (pair endpoints are
    near-unique), and the final aggregate is bounded by split² rows."""
    from spark_ifs_spark.operators.sampling import split_assign

    from spark_ifs_spark.registry.dedup import _minhash_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir)
    sp = split_assign(docs, "doc_id", SPLIT_WEIGHTS, seed=SPLIT_SEED).select(
        "doc_id", "split"
    )
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("_sa"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def sql_split_leakage() -> str:
    from spark_ifs_spark.operators.sampling import sql_split_case

    case_a = sql_split_case("p.id_a", SPLIT_WEIGHTS, SPLIT_SEED)
    case_b = sql_split_case("p.id_b", SPLIT_WEIGHTS, SPLIT_SEED)
    return f"""
SELECT least({case_a}, {case_b}) AS split_lo,
       greatest({case_a}, {case_b}) AS split_hi,
       count(*) AS n_pairs
FROM ({sql_dedup_minhash()}) p
GROUP BY 1, 2
"""


def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source data-quality dashboard: document count, Gopher
    pass rate (integer ppm — float-aggregate-free), and mean quality
    score per source — the report that decides which crawl sources get
    up/down-weighted in the next mix. Composes ``gopher_quality_flags``
    and ``quality_score`` (each individually oracle-gated) through one
    id-keyed join and one bounded per-source aggregate; the corpus is
    scanned twice (once per operator), each scan map-side."""
    from spark_ifs_spark.operators.textstats import (
        gopher_quality_flags,
        quality_score,
    )

    docs = _read(spark, sf_dir, "documents")
    flags = gopher_quality_flags(docs, "doc_id", "text").select("id", "pass_all")
    qual = quality_score(docs, "doc_id", "text").select("id", "quality")
    src = docs.select(F.col("doc_id").alias("id"), "source")
    return (
        src.join(flags, "id")
        .join(qual, "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.floor(
                F.sum(F.col("pass_all").cast("long"))
                * F.lit(1_000_000)
                / F.count(F.lit(1))
            ).cast("long").alias("pass_ppm"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
        )
    )


def sql_source_quality_report() -> str:
    from spark_ifs_spark.operators import textstats as ts

    stop_sum = " + ".join(_sql_count_word(w) for w in ts.STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id AS id, source,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
           / len(string_split(text, ' ')) AS mwl,
         ({stop_sum}) AS stop_hits
  FROM documents
),
wc AS (
  SELECT doc_id AS id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
),
top AS (SELECT id, max(c) * 1.0 / CAST(sum(c) AS BIGINT) AS top_frac FROM wc GROUP BY 1),
flags AS (
  SELECT b.id, b.source,
         (b.n_words >= {ts.GOPHER_MIN_WORDS} AND b.n_words <= {ts.GOPHER_MAX_WORDS})
           AND (b.mwl >= {ts.GOPHER_MIN_MEAN_WL} AND b.mwl <= {ts.GOPHER_MAX_MEAN_WL})
           AND b.stop_hits >= {ts.GOPHER_MIN_STOP_HITS}
           AND t.top_frac <= {ts.GOPHER_MAX_TOP_WORD_FRAC} AS pass_all,
         least(b.n_words / 50.0, 1.0)
           * (1.0 - least(abs(b.mwl - 5.0) / 5.0, 1.0))
           * least((b.stop_hits * 1.0 / b.n_words) * 5.0, 1.0) AS quality
  FROM base b JOIN top t ON b.id = t.id
)
SELECT source,
       count(*) AS n_docs,
       CAST(floor(sum(CASE WHEN pass_all THEN 1 ELSE 0 END) * 1000000.0
            / count(*)) AS BIGINT) AS pass_ppm,
       round(avg(quality), 6) AS mean_quality
FROM flags
GROUP BY source
"""


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — exact
    weighted quantile via cumulative integer weights: the first price
    whose running weight reaches half the group total. All comparisons
    are 64-bit integer (`2·cum ≥ total`), and the cumulative window
    orders by the TOTAL key (price, orderkey, linenumber), so the
    crossing row — hence the median value — is engine-reproducible.
    Plan: one per-group sort window over the lineitem projection + one
    bounded aggregate; at scale swap in `approx_percentile` when the
    per-group sort exceeds the shuffle budget (documented trade — this
    is the exact-oracle form)."""
    from pyspark.sql import Window

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("l_returnflag")
    flagged = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(cum).alias("cw"),
        F.sum("w").over(tot).alias("tw"),
    )
    return (
        flagged.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.round(F.min("l_extendedprice"), 4).alias("w_median_price"))
    )


def sql_weighted_median_price() -> str:
    return """
WITH c AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag, round(min(l_extendedprice), 4) AS w_median_price
FROM c WHERE cw * 2 >= tw
GROUP BY l_returnflag
"""


def q_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context extraction: a ±2-word snippet around every
    occurrence of the query terms — the retrieval-UX primitive (search
    result previews, concordance building). Token-array based, NOT
    regex: Spark's Java regex and DuckDB's RE2 disagree on enough edge
    semantics that the oracle-exact form is array slicing over the same
    whitespace split both engines already share. Map-side per doc (one
    interpreted-HOF position filter + slices); the only shuffle is the
    deterministic (doc, pos) TakeOrdered cut."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    toks = F.split(F.col("text"), " ")
    m = F.size(toks)
    hits = F.filter(
        F.sequence(F.lit(1), m),
        lambda i: F.element_at(toks, i).isin(*KWIC_TERMS),
    )
    lo = F.greatest(F.col("pos") - KWIC_WINDOW, F.lit(1))
    hi = F.least(F.col("pos") + KWIC_WINDOW, F.col("m"))
    return (
        docs.select(
            F.col("doc_id"), m.alias("m"), toks.alias("t"),
            F.explode(hits).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.element_at(F.col("t"), F.col("pos")).alias("term"),
            F.array_join(
                F.slice(F.col("t"), lo, hi - lo + 1), " "
            ).alias("snippet"),
        )
        .orderBy("doc_id", "pos")
        .limit(KWIC_LIMIT)
    )


def sql_kwic_snippets() -> str:
    terms = ", ".join(f"'{t}'" for t in KWIC_TERMS)
    w = KWIC_WINDOW
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
hits AS (
  SELECT doc_id, t, s.i AS pos
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s
  WHERE t[s.i] IN ({terms})
)
SELECT doc_id, pos, t[pos] AS term,
       array_to_string(t[greatest(pos - {w}, 1):least(pos + {w}, len(t))], ' ') AS snippet
FROM hits
ORDER BY doc_id, pos
LIMIT {KWIC_LIMIT}
"""


def q_lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the (lang, source) contingency
    table — "is language distribution uniform across crawl sources?",
    the categorical-drift alarm. Reuses the engine's contingency
    discipline (the MI operators' counts-only aggregation): observed
    counts and the two marginals are exact integers from ONE hash
    aggregate over the corpus plus two bounded rollups; the single
    float expression ``Σ (o − e)²/e`` runs over the bounded levels²
    relation. Output: one row (chi2, dof)."""
    docs = _read(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    row = obs.groupBy("lang").agg(F.sum("o").alias("r"))
    col = obs.groupBy("source").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    e = F.col("r").cast("double") * F.col("c").cast("double") / F.col("n").cast("double")
    cells = (
        obs.join(F.broadcast(row), "lang")
        .join(F.broadcast(col), "source")
        .crossJoin(F.broadcast(tot))
        .select(((F.col("o").cast("double") - e) * (F.col("o") - e) / e).alias("x"))
    )
    nlang = docs.select("lang").distinct().count()
    nsrc = docs.select("source").distinct().count()
    return cells.agg(
        F.round(F.sum("x"), 6).alias("chi2"),
        F.lit((nlang - 1) * (nsrc - 1)).cast("long").alias("dof"),
    )


def sql_lang_source_chisq() -> str:
    return """
WITH obs AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
r AS (SELECT lang, sum(o) AS r FROM obs GROUP BY 1),
c AS (SELECT source, sum(o) AS c FROM obs GROUP BY 1),
t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
dims AS (
  SELECT (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof
  FROM documents
)
SELECT round(sum((obs.o - CAST(r.r AS DOUBLE) * c.c / t.n)
                * (obs.o - CAST(r.r AS DOUBLE) * c.c / t.n)
                / (CAST(r.r AS DOUBLE) * c.c / t.n)), 6) AS chi2,
       CAST(any_value(dims.dof) AS BIGINT) AS dof
FROM obs JOIN r USING (lang) JOIN c USING (source), t, dims
"""


def q_source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's token distribution —
    low entropy = templated/repetitive source, the distributional
    quality signal next to the rule-based filters. Computed as
    ``ln N − (Σ c·ln c)/N`` from exact integer token counts (one
    (source, token) hash aggregate, map-combined; the log-sum runs on
    the bounded vocab × sources relation)."""
    docs = _read(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("_clnc"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("_clnc") / F.col("n_tokens").cast("double"),
                6,
            ).alias("entropy_nats"),
        )
    )


def sql_source_token_entropy() -> str:
    return """
WITH counts AS (
  SELECT source, w, count(*) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) AS entropy_nats
FROM counts
GROUP BY source
"""


def q_source_size_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of corpus mass across sources — the one-number
    concentration alarm ("90% of chars from one crawl host?"). Exact
    integer core over the BOUNDED per-source totals:
    ``G = (2·Σᵢ i·sᵢ / (n·Σs)) − (n+1)/n`` with sizes ranked ascending
    (ties broken by source name — total order, engine-reproducible);
    the corpus itself folds in one map-combined aggregate."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(F.sum("n_chars").alias("s"))
    w = Window.orderBy("s", "source")
    ranked = sizes.select(
        F.col("s"),
        F.row_number().over(w).alias("i"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("i") * F.col("s")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.sum("s").cast("double"))
            - (F.count(F.lit(1)) + 1).cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("gini"),
    )


def sql_source_size_gini() -> str:
    return """
WITH sizes AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS s
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, source) AS i FROM sizes
)
SELECT count(*) AS n_sources,
       round(2.0 * CAST(sum(i * s) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(sum(s) AS DOUBLE))
             - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS gini
FROM ranked
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the confusion matrix of the
    heuristic language-ID against the labeled ``lang`` column — the
    eval loop every model-assisted pipeline stage needs, run where the
    data lives instead of exporting samples. One map-side prediction
    projection (the ``lang_id`` operator) + one bounded langs² hash
    aggregate."""
    docs = _read(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs, "doc_id", "text")
    truth = docs.select(F.col("doc_id").alias("id"), F.col("lang").alias("true_lang"))
    return (
        truth.join(pred, "id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sql_langid_confusion() -> str:
    return f"""
WITH pred AS ({sql_lang_id()})
SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
FROM documents d JOIN pred p ON p.id = d.doc_id
GROUP BY 1, 2
"""




def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test assignment: the split hash is keyed
    on each document's CLUSTER label (the minhash connected-component
    min-id; singletons are their own cluster), so a near-duplicate
    group can never straddle splits — the train/test-contamination
    failure mode a per-document split has. Returns per-split document
    counts and ``n_straddled`` — cross-split clusters, 0 by
    construction, computed (not assumed) so the oracle verifies the
    guarantee rather than the implementation."""
    from spark_ifs_spark.operators.sampling import split_assign

    docs = _read(spark, sf_dir, "documents")
    clusters = q_dup_clusters(spark, sf_dir)  # (doc_id, cluster)
    labeled = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
    )
    assigned = split_assign(labeled, "cluster", SPLIT_WEIGHTS, seed=SPLIT_SEED)
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    straddled = (
        assigned.groupBy("cluster")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_straddled"))
    )
    return per_split.crossJoin(straddled).select(
        "split", "n_docs", "n_straddled"
    )


def sql_cluster_aware_split() -> str:
    from spark_ifs_spark.operators.sampling import sql_split_case

    case = sql_split_case("l.cluster", SPLIT_WEIGHTS, SPLIT_SEED)
    return f"""
WITH clusters AS (SELECT * FROM ({sql_dup_clusters()}) t),
labeled AS (
  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
),
assigned AS (
  SELECT l.doc_id, l.cluster, {case} AS split FROM labeled l
),
per_split AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs FROM assigned GROUP BY split
),
straddled AS (
  SELECT CAST(count(*) AS BIGINT) AS n_straddled FROM (
    SELECT cluster FROM assigned GROUP BY cluster HAVING count(DISTINCT split) > 1
  ) s
)
SELECT p.split, p.n_docs, st.n_straddled FROM per_split p CROSS JOIN straddled st
"""


def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunker through Spark 4's Python UDTF + LATERAL join surface
    — identical semantics to ``doc_chunks`` (same oracle), proving the
    table-function API leg a SQL user would reach for when the chunker
    needs real Python."""
    from spark_ifs_spark.operators.chunking import chunk_documents_udtf

    docs = _read(spark, sf_dir, "documents")
    out = chunk_documents_udtf(docs, "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP)
    return out.select("id", "chunk_idx", "n_tokens", F.md5("chunk").alias("chunk_md5"))


def sql_doc_chunks_udtf() -> str:
    return sql_doc_chunks()


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic negatives for contrastive pairs: each
    embedding id draws the 3 ids that follow it on the seeded md5 ring
    (`sampling.negative_samples`) — complements `hard_negatives`
    (uniform vs hardest). The oracle replicates ring rank and shifted
    join exactly."""
    from spark_ifs_spark.operators.sampling import negative_samples

    emb = _read(spark, sf_dir, "embeddings")
    return negative_samples(emb, "vec_id", k=3, seed=SAMPLE_SEED).select(
        "id", "slot", "neg_id"
    )


def sql_negative_samples() -> str:
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    h = sql_md5_int60(f"concat('{SAMPLE_SEED}:', CAST(vec_id AS VARCHAR))")
    return f"""
WITH ring AS (
  SELECT vec_id AS id,
         row_number() OVER (ORDER BY {h}, vec_id) - 1 AS r
  FROM embeddings
),
n AS (SELECT count(*) AS n FROM ring),
slots AS (
  SELECT ring.id, ring.r, s.j AS slot
  FROM ring CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j) s
)
SELECT a.id, CAST(a.slot AS INT) AS slot, b.id AS neg_id
FROM slots a
JOIN n ON TRUE
JOIN ring b ON b.r = (a.r + a.slot) % n.n
"""


WTRI_MIN_COUNT = 3  # adjacency-pair support floor for the triangle graph


def q_word_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word triangle counts over the word-adjacency graph (edges =
    unordered adjacent-token pairs with support >= 3): the
    clustering-structure census via
    :func:`~spark_ifs_spark.operators.graph.triangle_count` — the
    degree-ordered node-iterator whose wedge volume stays O(E^1.5) even
    with stopword hub vertices."""
    from spark_ifs_spark.operators import graph

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    toks = F.split(F.col("text"), " ")
    m = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, m - 1),
        F.slice(toks, 2, m - 1),
        lambda a, b: F.struct(
            F.least(a, b).alias("wa"), F.greatest(a, b).alias("wb")
        ),
    )
    edges = (
        docs
        .select(F.explode(pairs).alias("p"))
        .select("p.wa", "p.wb")
        .filter(F.col("wa") != F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= WTRI_MIN_COUNT)
        .select(F.col("wa").alias("id_a"), F.col("wb").alias("id_b"))
    )
    out = graph.triangle_count(edges)
    return out.select(F.col("id").alias("word"), "n_triangles")


def sql_word_triangles() -> str:
    return f"""
WITH {_SQL_WORDS},
adj AS (
  SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb, count(*) AS c
  FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.w <> b.w
  GROUP BY 1, 2
),
edges AS (SELECT wa, wb FROM adj WHERE c >= {WTRI_MIN_COUNT}),
tri AS (
  SELECT e1.wa AS v1, e1.wb AS v2, e2.wb AS v3
  FROM edges e1
  JOIN edges e2 ON e2.wa = e1.wb
  JOIN edges e3 ON e3.wa = e1.wa AND e3.wb = e2.wb
)
SELECT u.word, CAST(count(*) AS BIGINT) AS n_triangles
FROM tri, LATERAL (SELECT unnest([v1, v2, v3]) AS word) u
GROUP BY u.word
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): select the DSIR_K
    raw documents whose hashed-unigram log-likelihood ratio says they
    look most like the target subcorpus (here: the English docs)."""
    from spark_ifs_spark.operators.selection import dsir_scores, dsir_top_k

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    scores = dsir_scores(
        docs,
        "doc_id",
        "text",
        is_target=F.col("lang") == DSIR_TARGET_LANG,
        num_buckets=DSIR_BUCKETS,
        alpha=DSIR_ALPHA,
    )
    return dsir_top_k(scores, DSIR_K).withColumnRenamed("id", "doc_id")


def sql_dsir_select() -> str:
    b = DSIR_BUCKETS
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS tgt,
         {sql_md5_int60('w')} % {b} AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
counts AS (SELECT b, count(*) AS cr, sum(tgt) AS ct FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM counts),
wt AS (
  SELECT b, ln((ct + {DSIR_ALPHA}) / (nt + {DSIR_ALPHA * b})) -
            ln((cr + {DSIR_ALPHA}) / (nr + {DSIR_ALPHA * b})) AS w
  FROM counts CROSS JOIN tot
),
sc AS (SELECT doc_id, sum(w) AS score FROM toks JOIN wt USING (b) GROUP BY 1),
rk AS (
  SELECT row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(score, 6) AS score
  FROM sc
)
SELECT rank, doc_id, score FROM rk WHERE rank <= {DSIR_K}
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard manifest: per-shard doc count and byte
    budget, plus how many of the shard's docs would move if one more
    shard joined (rendezvous's minimal-movement property: expected
    n/(S+1) total, vs ~all for mod-hashing)."""
    from spark_ifs_spark.operators.sampling import rendezvous_shard

    docs = _read(spark, sf_dir, "documents")
    cur = rendezvous_shard(docs, "doc_id", MANIFEST_SHARDS).withColumnRenamed(
        "shard", "s"
    )
    both = rendezvous_shard(cur, "doc_id", MANIFEST_SHARDS + 1)
    return both.groupBy(F.col("s").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum((F.col("shard") != F.col("s")).cast("long")).alias("n_moving"),
    )


def sql_shard_manifest() -> str:
    from spark_ifs_spark.operators.sampling import sql_rendezvous_shard

    s1 = sql_rendezvous_shard("doc_id", MANIFEST_SHARDS)
    s2 = sql_rendezvous_shard("doc_id", MANIFEST_SHARDS + 1)
    return f"""
SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN shard2 <> shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moving
FROM (SELECT {s1} AS shard, {s2} AS shard2, n_chars FROM documents)
GROUP BY 1
"""


@staged("maxsim_ranking", "documents")
def _maxsim_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's MaxSim ranking ``(query, rank, id, score)`` for
    ``MAXSIM_QUERIES`` at the gate knobs, session-staged: maxsim_topk,
    hybrid_rrf and retrieval_eval_rrf read it. ``score`` is already
    rounded to 6 by the operator, so the staged rows are bit-identical
    to an inline run."""
    from spark_ifs_spark.operators.retrieval import chunk_bow_vectors, maxsim_topk

    docs = _read(spark, sf_dir, "documents")
    vecs = chunk_bow_vectors(
        docs,
        "doc_id",
        "text",
        chunk_tokens=CHUNK_TOKENS,
        overlap=CHUNK_OVERLAP,
        num_buckets=MAXSIM_BUCKETS,
    )
    return maxsim_topk(
        spark, vecs, MAXSIM_QUERIES, k=MAXSIM_K, num_buckets=MAXSIM_BUCKETS
    )


@staged("bm25_ranking", "documents")
def _bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's BM25 lexical ranking ``(query, rank, id,
    score_micro)`` for ``MAXSIM_QUERIES`` at the gate knobs,
    session-staged (integer micro-scores, bit-exact staged or inline).
    Shared by the two RRF consumers."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.bm25_multi_topk(
        docs, "doc_id", "text", MAXSIM_QUERIES, k=MAXSIM_K
    )


def q_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: top-MAXSIM_K docs per
    query by sum-of-max chunk similarity (hashed-BoW encoder). Served
    from the session-staged ranking (:func:`_maxsim_ranking`) shared
    with the two RRF consumers."""
    out = _maxsim_ranking(spark, sf_dir)
    return out.withColumnRenamed("id", "doc_id")


def sql_maxsim_topk() -> str:
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    qvals = ", ".join(
        f"('{q}', '{t}')" for q, terms in MAXSIM_QUERIES.items() for t in terms
    )
    return f"""
WITH {_SQL_WORDS},
sizes AS (SELECT doc_id, count(*) AS m FROM words GROUP BY 1),
chunks AS (
  SELECT doc_id, unnest(range((m - 1) // {stride} + 1)) AS c FROM sizes
),
tok AS (
  SELECT w.doc_id, ch.c, {sql_md5_int60('w.w')} % {MAXSIM_BUCKETS} AS b
  FROM words w
  JOIN chunks ch ON ch.doc_id = w.doc_id
   AND (w.pos - 1) >= ch.c * {stride}
   AND (w.pos - 1) < ch.c * {stride} + {CHUNK_TOKENS}
  WHERE w.w <> ''
),
tf AS (SELECT doc_id, c, b, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
nrm AS (SELECT doc_id, c, sqrt(sum(tf * tf)) AS nrm FROM tf GROUP BY 1, 2),
q(query, term) AS (VALUES {qvals}),
qb AS (SELECT query, term, {sql_md5_int60('term')} % {MAXSIM_BUCKETS} AS b FROM q),
sims AS (
  SELECT qb.query, qb.term, tf.doc_id, max(tf.tf / n.nrm) AS ms
  FROM qb JOIN tf USING (b)
  JOIN nrm n ON n.doc_id = tf.doc_id AND n.c = tf.c
  GROUP BY 1, 2, 3
),
sc AS (SELECT query, doc_id, round(sum(ms), 6) AS score FROM sims GROUP BY 1, 2),
rk AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT query, rank, doc_id, score FROM rk WHERE rank <= {MAXSIM_K}
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the vocabulary head — the one-number
    corpus-health diagnostic (slope ≈ −1 for natural language); see
    :func:`~spark_ifs_spark.operators.textstats.zipf_fit` for the
    integer-micronat determinism contract."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.zipf_fit(docs, "doc_id", "text", top_n=ZIPF_TOP_N)


def sql_zipf_fit() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT w, count(*) AS c FROM toks WHERE w <> '' GROUP BY 1
), totals AS (
  SELECT count(*) AS vocab_size, max(c) AS top_freq FROM counts
), top AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rnk
  FROM counts ORDER BY c DESC, w ASC LIMIT {ZIPF_TOP_N}
), pts AS (
  SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM top
), sums AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts
)
SELECT n AS n_terms, vocab_size, top_freq,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0), 6) AS slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)) * sx)
             / CAST(n AS DOUBLE) / 1e6, 6) AS intercept,
       round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             / (nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)
                * nullif(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy, 0)), 6) AS r2
FROM sums CROSS JOIN totals
"""


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: fraction of the doc's distinct 3-shingles
    with corpus DF = 1 — see
    :func:`~spark_ifs_spark.operators.textstats.novelty_scores`."""
    from spark_ifs_spark.registry.dedup import _shingles

    docs = _read(spark, sf_dir, "documents")
    return textstats.novelty_scores(
        docs, "doc_id", "text", sh=_shingles(spark, sf_dir)
    ).withColumnRenamed("id", "doc_id")


def sql_doc_novelty() -> str:
    return f"""
WITH {_SQL_SHINGLES},
d AS (SELECT id, {sql_md5_int60('sh')} AS d FROM sh),
dfreq AS (SELECT d, count(*) AS df FROM d GROUP BY 1)
SELECT id AS doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS novelty_ppm
FROM d JOIN dfreq USING (d)
GROUP BY 1
"""


def q_ccnet_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet recipe end-to-end as one query: score every doc under
    the corpus bigram LM, KEEP the head+middle perplexity buckets
    (drop the disfluent tail), then water-fill the token budget across
    sources over the survivors — per-source ``(n_tok, alloc_tok,
    rate_ppm)`` ready to drive ``weighted_mix``. Composes
    :func:`~spark_ifs_spark.operators.textstats.ppl_doc_buckets` and
    :func:`~spark_ifs_spark.operators.sampling.token_budget_allocation`
    — the filter is a broadcast-friendly doc-keyed semi-join; nothing
    here adds a corpus-scale shuffle beyond the two component plans."""
    from spark_ifs_spark.operators.sampling import token_budget_allocation
    from spark_ifs_spark.operators.textstats import ppl_doc_buckets

    from spark_ifs_spark.registry.sim import _bigram_ll

    docs = _read(spark, sf_dir, "documents")
    kept_ids = (
        ppl_doc_buckets(docs, "doc_id", "text", ll=_bigram_ll(spark, sf_dir))
        .filter(F.col("bucket") != "tail")
        .select(F.col("id").alias("doc_id"))
    )
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    return token_budget_allocation(
        kept,
        "source",
        F.size(F.split(F.col("text"), " ")),
        budget_frac=TOKBUDGET_FRAC,
        alpha=0.5,
    )


def sql_ccnet_mix() -> str:
    from spark_ifs_spark.registry.sim import _sql_ppl_cte

    return (
        f"""
WITH {_sql_ppl_cte()},
kept AS (
  SELECT scored.doc_id FROM scored CROSS JOIN qs WHERE ppl_micro <= q1
), per AS (
  SELECT d.source, CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tok
  FROM documents d JOIN kept USING (doc_id)
  GROUP BY 1
)"""
        + _sql_waterfill(TOKBUDGET_FRAC)
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report — the summary a curation dashboard
    shows before anyone trains on the data: sizes, vocabulary, the
    exact-duplicate rate, and the language-mix entropy. Every figure is
    an exact integer (ppm / micronats with the package's floored-log
    convention), and every input is a 1-row or language-cardinality
    aggregate stitched with broadcast cross joins (the
    ``pipeline_audit`` pattern) — no driver-side arithmetic, one job at
    any corpus size."""
    docs = _read(spark, sf_dir, "documents")
    sizes = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .agg(F.countDistinct("w").alias("vocab_size"))
    )
    dups = (
        docs.select(F.md5(F.col("text")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("_nd"))
    )
    lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    # quantized entropy: every log floored to integer micronats BEFORE
    # the weighted sum, so the result is an exact integer on any engine
    ent = (
        lang.crossJoin(F.broadcast(sizes.select("n_docs")))
        .select(
            (
                F.col("c")
                * (
                    F.floor(F.log(F.col("n_docs").cast("double")) * 1e6).cast("long")
                    - F.floor(F.log(F.col("c").cast("double")) * 1e6).cast("long")
                )
            ).alias("s")
        )
        .agg(F.sum("s").alias("_s"))
    )
    return (
        sizes.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "vocab_size",
            F.floor(F.col("_nd").cast("double") * 1e6 / F.col("n_docs").cast("double"))
            .cast("long")
            .alias("dup_doc_ppm"),
            F.floor(F.col("_s").cast("double") / F.col("n_docs").cast("double"))
            .cast("long")
            .alias("lang_entropy_micronats"),
        )
    )


def sql_corpus_report() -> str:
    return """
WITH sizes AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents
), vocab AS (
  SELECT count(DISTINCT w) AS vocab_size
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
), dups AS (
  SELECT CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS nd
  FROM (SELECT md5(text) AS d, count(*) AS c FROM documents GROUP BY 1)
), ent AS (
  SELECT CAST(sum(c * (
           CAST(floor(ln(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT) AS s
  FROM (SELECT lang, count(*) AS c FROM documents GROUP BY 1)
  CROSS JOIN sizes
)
SELECT n_docs, n_tokens, vocab_size,
       CAST(floor(CAST(nd AS DOUBLE) * 1e6 / CAST(n_docs AS DOUBLE)) AS BIGINT) AS dup_doc_ppm,
       CAST(floor(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS BIGINT) AS lang_entropy_micronats
FROM sizes CROSS JOIN vocab CROSS JOIN dups CROSS JOIN ent
"""


def q_retrieval_eval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality metrics (recall@k / MRR / nDCG, integer-exact) of
    the hybrid RRF ranking against the pure late-interaction ranking as
    ground truth — "what does lexical fusion change" as a query; see
    :func:`~spark_ifs_spark.operators.retrieval.retrieval_eval`."""
    from spark_ifs_spark.operators.retrieval import retrieval_eval, rrf_fuse

    # both legs come from the session-staged rankings (one MaxSim
    # pipeline + one BM25 pipeline per session instead of one each per
    # consumer); the doubly-consumed dense relation is now a bounded
    # staged parquet, so the r13 AQE-reuse concern is moot — nothing
    # corpus-shaped is read here at all
    dense = _maxsim_ranking(spark, sf_dir)
    lex = _bm25_ranking(spark, sf_dir).select("query", "rank", "id")
    fused = rrf_fuse(
        [lex, dense.select("query", "rank", "id")],
        ["query"],
        "id",
        k=HYBRID_K,
        rrf_k=RRF_K,
    )
    return retrieval_eval(
        fused, dense.select("query", "id"), ["query"], "id", k=HYBRID_K
    )


def sql_retrieval_eval_rrf() -> str:
    from spark_ifs_spark.operators.retrieval import dcg_weights_micro

    w = dcg_weights_micro(HYBRID_K)
    prefix = [0]
    for x in w:
        prefix.append(prefix[-1] + x)
    wvals = ", ".join(f"({i + 1}, {x})" for i, x in enumerate(w))
    pvals = ", ".join(f"({j}, {p})" for j, p in enumerate(prefix))
    return (
        _sql_hybrid_ctes()
        + f""",
truth AS (SELECT query, doc_id FROM drk WHERE rank <= {MAXSIM_K}),
tcounts AS (SELECT query, count(*) AS n_truth FROM truth GROUP BY 1),
sysv AS (SELECT query, doc_id, rank FROM frk WHERE rank <= {HYBRID_K}),
wt(rank, w) AS (VALUES {wvals}),
pf(j, p) AS (VALUES {pvals}),
hits AS (
  SELECT s.query, count(*) AS n_hits, min(s.rank) AS best,
         CAST(sum(wt.w) AS BIGINT) AS dcg
  FROM sysv s
  JOIN truth t ON t.query = s.query AND t.doc_id = s.doc_id
  JOIN wt ON wt.rank = s.rank
  GROUP BY 1
)
SELECT tc.query, tc.n_truth,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(floor(coalesce(h.n_hits, 0) * 1000000 / tc.n_truth) AS BIGINT) AS recall_ppm,
       CAST(coalesce(floor(1000000 / h.best), 0) AS BIGINT) AS mrr_micro,
       CAST(floor(coalesce(h.dcg, 0) * 1000000 / pf.p) AS BIGINT) AS ndcg_micro
FROM tcounts tc
LEFT JOIN hits h ON h.query = tc.query
JOIN pf ON pf.j = least(tc.n_truth, {HYBRID_K})
"""
    )


def q_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted water-filling of a global token budget
    across sources (alpha = 0.5, budget = half the corpus) — see
    :func:`~spark_ifs_spark.operators.sampling.token_budget_allocation`
    for the closed-form saturation-prefix construction."""
    from spark_ifs_spark.operators.sampling import token_budget_allocation

    docs = _read(spark, sf_dir, "documents")
    return token_budget_allocation(
        docs,
        "source",
        F.size(F.split(F.col("text"), " ")),
        budget_frac=TOKBUDGET_FRAC,
        alpha=0.5,
    )


def _sql_waterfill(budget_frac: float) -> str:
    """Water-filling CTE tail + final SELECT over a preceding
    ``per(source, n_tok)`` relation — shared by
    ``sql_token_budget_alloc`` and ``sql_ccnet_mix``."""
    return f""", base AS (
  SELECT source, n_tok, sqrt(CAST(n_tok AS DOUBLE)) AS p,
         CAST(n_tok AS DOUBLE) / sqrt(CAST(n_tok AS DOUBLE)) AS r
  FROM per
), run AS (
  SELECT *, sum(n_tok) OVER (ORDER BY r, source) AS cumn,
            sum(p) OVER (ORDER BY r, source) AS cump
  FROM base
), gl AS (
  SELECT *, floor({budget_frac} * max(cumn) OVER ()) AS b,
            max(cump) OVER () AS totp
  FROM run
), st AS (
  SELECT *, (r <= (b - (cumn - n_tok)) / (totp - (cump - p))) AS sat FROM gl
), fin AS (
  SELECT *,
         coalesce(max(CASE WHEN sat THEN cumn END) OVER (), 0.0) AS cumn_sat,
         coalesce(max(CASE WHEN sat THEN cump END) OVER (), 0.0) AS cump_sat,
         sum(CASE WHEN sat THEN 0 ELSE 1 END) OVER () AS n_unsat
  FROM st
)
SELECT source, n_tok,
       CASE WHEN sat THEN n_tok
            ELSE least(n_tok, CAST(floor(
              ((b - cumn_sat) / (totp - cump_sat)) * p) AS BIGINT))
       END AS alloc_tok,
       CAST(floor(
         CAST(CASE WHEN sat THEN n_tok
              ELSE least(n_tok, CAST(floor(
                ((b - cumn_sat) / (totp - cump_sat)) * p) AS BIGINT))
         END AS DOUBLE) * 1000000.0 / CAST(n_tok AS DOUBLE)) AS BIGINT) AS rate_ppm
FROM fin
"""


def sql_token_budget_alloc() -> str:
    return (
        """
WITH per AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
  FROM documents GROUP BY 1
)"""
        + _sql_waterfill(TOKBUDGET_FRAC)
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the lexical leg
    (per-query Okapi BM25) and the late-interaction leg (MaxSim over
    hashed-BoW chunks) — the calibration-free way production stacks
    combine sparse and dense rankers (only ranks cross the fusion
    boundary; see ``retrieval.rrf_fuse``)."""
    from spark_ifs_spark.operators.retrieval import rrf_fuse

    # both legs from the session-staged rankings (see _maxsim_ranking)
    dense = _maxsim_ranking(spark, sf_dir).select("query", "rank", "id")
    lex = _bm25_ranking(spark, sf_dir
    ).select("query", "rank", "id")
    out = rrf_fuse([lex, dense], ["query"], "id", k=HYBRID_K, rrf_k=RRF_K)
    return out.withColumnRenamed("id", "doc_id")


def _sql_hybrid_ctes() -> str:
    """The WITH-block shared by ``sql_hybrid_rrf`` and
    ``sql_retrieval_eval_rrf``: both retrieval legs, their per-query
    ranks (``lrk``/``drk``) and the fused ranking (``frk``)."""
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    qvals = ", ".join(
        f"('{q}', '{t}')" for q, terms in MAXSIM_QUERIES.items() for t in terms
    )
    return f"""
WITH {_SQL_WORDS},
q(query, term) AS (VALUES {qvals}),
-- dense leg: MaxSim over hashed-BoW chunks
sizes AS (SELECT doc_id, count(*) AS m FROM words GROUP BY 1),
chunks AS (
  SELECT doc_id, unnest(range((m - 1) // {stride} + 1)) AS c FROM sizes
),
tok AS (
  SELECT w.doc_id, ch.c, {sql_md5_int60('w.w')} % {MAXSIM_BUCKETS} AS b
  FROM words w
  JOIN chunks ch ON ch.doc_id = w.doc_id
   AND (w.pos - 1) >= ch.c * {stride}
   AND (w.pos - 1) < ch.c * {stride} + {CHUNK_TOKENS}
  WHERE w.w <> ''
),
ctf AS (SELECT doc_id, c, b, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
nrm AS (SELECT doc_id, c, sqrt(sum(tf * tf)) AS nrm FROM ctf GROUP BY 1, 2),
qb AS (SELECT query, term, {sql_md5_int60('term')} % {MAXSIM_BUCKETS} AS b FROM q),
sims AS (
  SELECT qb.query, qb.term, ctf.doc_id, max(ctf.tf / n.nrm) AS ms
  FROM qb JOIN ctf USING (b)
  JOIN nrm n ON n.doc_id = ctf.doc_id AND n.c = ctf.c
  GROUP BY 1, 2, 3
),
dsc AS (SELECT query, doc_id, round(sum(ms), 6) AS score FROM sims GROUP BY 1, 2),
drk AS (
  SELECT query, doc_id,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id ASC) AS rank
  FROM dsc
),
-- lexical leg: per-query Okapi BM25 (integer-micro convention)
base AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
stats AS (SELECT count(*) AS n, sum(len(t)) AS total FROM base),
btf AS (
  SELECT q.query, id, len(t) AS dl, w.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(t) AS term) w
  JOIN q ON q.term = w.term
  GROUP BY 1, 2, 3, 4
),
bdf AS (SELECT query, term, count(*) AS df FROM btf GROUP BY 1, 2),
bsc AS (
  SELECT btf.query, btf.id,
         CAST(sum(CAST(floor(
           ln(1.0 + (CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
           * ((CAST(btf.tf AS DOUBLE) * (1.2 + 1.0))
              / (CAST(btf.tf AS DOUBLE)
                 + 1.2 * (0.25 + (0.75 * CAST(btf.dl AS DOUBLE))
                                  / (CAST(s.total AS DOUBLE) / CAST(s.n AS DOUBLE)))))
           * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
  FROM btf CROSS JOIN stats s
  JOIN bdf d ON d.query = btf.query AND d.term = btf.term
  GROUP BY 1, 2
),
lrk AS (
  SELECT query, id AS doc_id,
         row_number() OVER (PARTITION BY query ORDER BY score_micro DESC, id ASC) AS rank
  FROM bsc
),
-- fusion: integer-micro reciprocal-rank contributions
contrib AS (
  SELECT query, doc_id, CAST(floor(1000000.0 / ({RRF_K} + rank)) AS BIGINT) AS c
  FROM lrk WHERE rank <= {MAXSIM_K}
  UNION ALL
  SELECT query, doc_id, CAST(floor(1000000.0 / ({RRF_K} + rank)) AS BIGINT) AS c
  FROM drk WHERE rank <= {MAXSIM_K}
),
fused AS (
  SELECT query, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
  FROM contrib GROUP BY 1, 2
),
frk AS (
  SELECT query, doc_id, rrf_micro,
         row_number() OVER (PARTITION BY query ORDER BY rrf_micro DESC, doc_id ASC) AS rank
  FROM fused
)"""


def sql_hybrid_rrf() -> str:
    return (
        _sql_hybrid_ctes()
        + f"""
SELECT query, rank, doc_id, rrf_micro FROM frk WHERE rank <= {HYBRID_K}
"""
    )


#: (documents path, its _fingerprint) -> the in-core unigram EM state
#: (words, singles, vocab) at the gate knobs — FOUR queries
#: (unigram_lm_vocab, unigram_token_counts, unigram_doc_tokens,
#: tokenizer_fertility) each collected the word-frequency relation and
#: re-ran the identical EM; the state is corpus-VOCABULARY-bounded
#: driver memory (the same object every consumer already collected per
#: call), so it is memoized rather than parquet-staged. Budget-gated:
#: past the operators' in-core budget the memo declines (returns None)
#: and consumers fall back to the operator's own distributed path.
_UNI_TRAINED: dict[tuple[str, tuple[int, int]], tuple] = {}


def _uni_trained(spark: SparkSession, sf_dir: str):
    from spark_ifs_spark.operators.unigram import _incore_state, word_frequencies

    table = _t(sf_dir, "documents")
    key = (table, _fingerprint(table))
    state = _UNI_TRAINED.get(key)
    if state is None:
        _t0 = time.perf_counter()
        for old_key in [k for k in _UNI_TRAINED if k[0] == table]:
            _UNI_TRAINED.pop(old_key)
        docs = _read(spark, sf_dir, "documents", fan_out=True)
        state = _incore_state(
            word_frequencies(docs, "text"), UNI_MAX_PIECE, UNI_MIN_COUNT,
            UNI_EM_ROUNDS, UNI_PRUNE_TOP,
        )
        if state is None:
            return None  # past INCORE_VOCAB_BUDGET: use the operator path
        _UNI_TRAINED[key] = state
        _note_staged_build("unigram_em", time.perf_counter() - _t0)
    return state


def q_unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece ``unigram``,
    hard-EM variant): candidate substrings -> integer-micronat scores ->
    Viterbi E-step / renormalizing M-step / prune, EM_ROUNDS times —
    see :mod:`spark_ifs_spark.operators.unigram`. Served from the
    session-memoized EM state (:func:`_uni_trained`)."""
    from spark_ifs_spark.operators.unigram import unigram_train

    docs = _read(spark, sf_dir, "documents")
    return unigram_train(
        docs, "text",
        max_piece=UNI_MAX_PIECE, min_count=UNI_MIN_COUNT,
        em_rounds=UNI_EM_ROUNDS, prune_top=UNI_PRUNE_TOP,
        vocab_keep=UNI_VOCAB_KEEP,
        trained=_uni_trained(spark, sf_dir),
    )


def sql_unigram_lm_vocab() -> str:
    return _sql_unigram("vocab")


def sql_unigram_token_counts() -> str:
    return _sql_unigram("encode")


def sql_tokenizer_fertility() -> str:
    return _sql_unigram("fertility")


def sql_unigram_doc_tokens() -> str:
    return _sql_unigram("doc_tokens")


def _sql_unigram_ctes(R: int) -> list[str]:
    """The unrolled-EM CTE list shared by every unigram oracle (and by
    ``sql_tokenizer_compare``, which appends BPE rounds over the same
    filtered ``wf``): per round, MAX_WORD_LEN Viterbi-DP CTEs (one per
    end position, argbest via QUALIFY) + MAX_WORD_LEN backtrace CTEs,
    then usage/prune/rescore — the ``bpe_train_merges`` unrolling
    pattern. All CTEs MATERIALIZED (they are referenced by later
    rounds; inlining would recompute exponentially)."""
    from spark_ifs_spark.operators.unigram import MAX_WORD_LEN

    P, MINC = UNI_MAX_PIECE, UNI_MIN_COUNT
    PRUNE, MAXW = UNI_PRUNE_TOP, MAX_WORD_LEN
    cte = [f"""wf AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' AND len(w) <= {MAXW}
  GROUP BY 1
)""", """singles AS MATERIALIZED (
  SELECT DISTINCT substr(w, CAST(i.i AS INT) + 1, 1) AS piece
  FROM wf, LATERAL (SELECT unnest(generate_series(0, len(w) - 1)) AS i) i
)""", f"""cand0 AS MATERIALIZED (
  SELECT substr(w, CAST(i.i AS INT) + 1, CAST(l.l AS INT)) AS piece,
         CAST(sum(c) AS BIGINT) AS cnt
  FROM wf,
       LATERAL (SELECT unnest(generate_series(0, len(w) - 1)) AS i) i,
       LATERAL (SELECT unnest(generate_series(1,
                  least({P}, len(w) - CAST(i.i AS INT)))) AS l) l
  GROUP BY 1
)""", f"""v0 AS MATERIALIZED (
  SELECT piece, cnt FROM cand0 WHERE cnt >= {MINC} OR length(piece) = 1
)""", """t0 AS MATERIALIZED (SELECT sum(cnt) AS tot FROM v0)""", """sc0 AS MATERIALIZED (
  SELECT piece, CAST(floor(ln(cnt * 1.0 / tot) * 1e6) AS BIGINT) AS s
  FROM v0, t0
)"""]
    for r in range(1, R + 1):
        sc = f"sc{r - 1}"
        cte.append(
            f"dp{r}_0 AS (SELECT w, c, 0 AS j, CAST(0 AS BIGINT) AS acc, 0 AS bl FROM wf)"
        )
        for j in range(1, MAXW + 1):
            branches = []
            for piece_len in range(1, min(P, j) + 1):
                i = j - piece_len
                branches.append(f"""  SELECT d.w, d.c, {j} AS j, d.acc + sc.s AS acc, {piece_len} AS bl
  FROM dp{r}_{i} d JOIN {sc} sc ON sc.piece = substr(d.w, {i + 1}, {piece_len})
  WHERE len(d.w) >= {j}""")
            u = "\n  UNION ALL\n".join(branches)
            cte.append(f"""dp{r}_{j} AS MATERIALIZED (
  SELECT w, c, j, acc, bl FROM (
{u}
  ) u QUALIFY row_number() OVER (PARTITION BY w ORDER BY acc DESC, bl DESC) = 1
)""")
        dpa = " UNION ALL ".join(
            f"SELECT * FROM dp{r}_{j}" for j in range(1, MAXW + 1)
        )
        cte.append(f"dpa{r} AS MATERIALIZED ({dpa})")
        cte.append(f"bt{r}_0 AS (SELECT w, c, len(w) AS pos FROM wf)")
        for k in range(1, MAXW + 1):
            cte.append(f"""bt{r}_{k} AS MATERIALIZED (
  SELECT b.w, b.c, substr(b.w, CAST(d.j - d.bl + 1 AS INT), d.bl) AS piece,
         CAST(d.j - d.bl AS BIGINT) AS pos
  FROM bt{r}_{k - 1} b JOIN dpa{r} d ON d.w = b.w AND d.j = b.pos
  WHERE b.pos > 0
)""")
        allp = " UNION ALL ".join(
            f"SELECT piece, c FROM bt{r}_{k}" for k in range(1, MAXW + 1)
        )
        cte.append(f"""usage{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM ({allp}) GROUP BY 1
)""")
        cte.append(f"""vocab{r} AS MATERIALIZED (
  SELECT s.piece, greatest(coalesce(u.cnt, 0), 1) AS cnt
  FROM singles s LEFT JOIN usage{r} u USING (piece)
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM usage{r} WHERE length(piece) > 1
    QUALIFY row_number() OVER (ORDER BY cnt DESC, piece ASC) <= {PRUNE}
  )
)""")
        cte.append(f"t{r} AS MATERIALIZED (SELECT sum(cnt) AS tot FROM vocab{r})")
        if r < R:
            cte.append(f"""sc{r} AS MATERIALIZED (
  SELECT piece, CAST(floor(ln(cnt * 1.0 / tot) * 1e6) AS BIGINT) AS s
  FROM vocab{r}, t{r}
)""")
    return cte


def _sql_unigram(mode: str) -> str:
    """Mode-specific tail over :func:`_sql_unigram_ctes`: ``vocab``
    (unigram_lm_vocab) reads the final pruned vocabulary; the others
    run round R+1 as an encode pass under the FINAL scores and return
    its ranked usage (``encode`` — unigram_token_counts), its per-word
    piece counts joined to per-source word counts (``fertility`` —
    tokenizer_fertility), or per-document token streams
    (``doc_tokens`` — unigram_doc_tokens)."""
    from spark_ifs_spark.operators.unigram import MAX_WORD_LEN

    R = UNI_EM_ROUNDS
    if mode != "vocab":
        R = R + 1  # round R+1 is the encode pass; it prunes nothing
    KEEP, MAXW = UNI_VOCAB_KEEP, MAX_WORD_LEN
    body = ",\n".join(_sql_unigram_ctes(R))
    if mode == "doc_tokens":
        from spark_ifs_spark.operators.unigram import FP_MOD

        allbt = " UNION ALL ".join(
            f"SELECT w, {k} AS bt_k, piece FROM bt{R}_{k}"
            for k in range(1, MAXW + 1)
        )
        fp = sql_md5_int60(
            "concat(piece, '@', CAST(pos AS VARCHAR), '#', CAST(seq AS VARCHAR))"
        )
        return f"""
WITH {body},
allbt AS MATERIALIZED ({allbt}),
npw AS (SELECT w, CAST(count(*) AS INT) AS n FROM allbt GROUP BY 1),
pieces AS (
  SELECT a.w, CAST(npw.n - a.bt_k + 1 AS INT) AS seq, a.piece
  FROM allbt a JOIN npw USING (w)
),
docw AS (
  SELECT doc_id, pos, w FROM ({_SQL_WORDS.split('AS (', 1)[1].rsplit(')', 1)[0]})
  WHERE w <> '' AND len(w) <= {MAXW}
),
tok AS (
  SELECT d.doc_id, ({fp}) % {FP_MOD} AS contrib
  FROM docw d JOIN pieces USING (w)
)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(contrib) AS BIGINT) AS fp
FROM tok GROUP BY 1
"""
    if mode == "fertility":
        allbt = " UNION ALL ".join(
            f"SELECT w FROM bt{R}_{k}" for k in range(1, MAXW + 1)
        )
        return f"""
WITH {body},
np AS (SELECT w, CAST(count(*) AS BIGINT) AS k FROM ({allbt}) GROUP BY 1),
wsrc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' AND len(w) <= {MAXW}
  GROUP BY 1, 2
),
agg AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(sum(c * k) AS BIGINT) AS n_tokens,
         CAST(sum(c * len(w)) AS BIGINT) AS n_chars
  FROM wsrc JOIN np USING (w) GROUP BY 1
)
SELECT source, n_words, n_tokens, n_chars,
       CAST(floor(n_tokens * 1000000.0 / n_words) AS BIGINT) AS tokens_per_word_ppm,
       CAST(floor(n_chars * 1000000.0 / n_tokens) AS BIGINT) AS chars_per_token_ppm
FROM agg
"""
    if mode == "encode":
        return f"""
WITH {body}
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS INT) AS rank,
       piece, cnt AS n_tokens
FROM usage{R}
"""
    return f"""
WITH {body}
SELECT CAST(rank AS INT) AS rank, piece, n_tokens, score_micro FROM (
  SELECT row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rank,
         piece, cnt AS n_tokens,
         CAST(floor(ln(cnt * 1.0 / tot) * 1e6) AS BIGINT) AS score_micro
  FROM vocab{R}, t{R}
) WHERE rank <= {KEEP}
"""


def q_unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy-time unigram encode: token counts of the corpus under the
    TRAINED vocabulary (one extra Viterbi pass over the word-frequency
    relation) — the unigram complement of ``bpe_token_counts``."""
    from spark_ifs_spark.operators.unigram import unigram_token_counts

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return unigram_token_counts(
        docs, "text",
        max_piece=UNI_MAX_PIECE, min_count=UNI_MIN_COUNT,
        em_rounds=UNI_EM_ROUNDS, prune_top=UNI_PRUNE_TOP,
        trained=_uni_trained(spark, sf_dir),
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source under the trained unigram vocab —
    see :func:`~spark_ifs_spark.operators.unigram.tokenizer_fertility`."""
    from spark_ifs_spark.operators.unigram import tokenizer_fertility

    docs = _read(spark, sf_dir, "documents", fan_out=True)
    return tokenizer_fertility(
        docs, "source", "text",
        max_piece=UNI_MAX_PIECE, min_count=UNI_MIN_COUNT,
        em_rounds=UNI_EM_ROUNDS, prune_top=UNI_PRUNE_TOP,
        trained=_uni_trained(spark, sf_dir),
    )


def q_unigram_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token stream under the trained unigram vocab, gated
    by an order-sensitive fingerprint — see :func:`~spark_ifs_spark.
    operators.unigram.unigram_doc_fingerprints`."""
    from spark_ifs_spark.operators.unigram import unigram_doc_fingerprints

    docs = _read(spark, sf_dir, "documents")
    return unigram_doc_fingerprints(
        docs, "doc_id", "text",
        max_piece=UNI_MAX_PIECE, min_count=UNI_MIN_COUNT,
        em_rounds=UNI_EM_ROUNDS, prune_top=UNI_PRUNE_TOP,
        trained=_uni_trained(spark, sf_dir),
    )


BT_STRIDE = 7919  # fixed coprime stride: every doc plays home+away once


def q_pref_bt_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry source ratings from deterministic document matches
    (the preference-aggregation step of RLHF data curation) — see
    :mod:`spark_ifs_spark.operators.ratings`."""
    from spark_ifs_spark.operators.ratings import source_bt_ratings

    docs = _read(spark, sf_dir, "documents")
    return source_bt_ratings(docs, "doc_id", "source", "n_chars", stride=BT_STRIDE)


def sql_pref_bt_ratings() -> str:
    from spark_ifs_spark.operators.ratings import BT_ITERS

    cte = [f"""nt AS (SELECT count(*) AS n FROM documents)""", f"""oc AS MATERIALIZED (
  SELECT CASE WHEN a.n_chars > b.n_chars
              OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id)
         THEN a.source ELSE b.source END AS w,
         CASE WHEN a.n_chars > b.n_chars
              OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id)
         THEN b.source ELSE a.source END AS l
  FROM documents a
  JOIN nt ON true
  JOIN documents b
    ON (a.doc_id + CASE WHEN {BT_STRIDE} % nt.n = 0
                        THEN {BT_STRIDE} + 1 ELSE {BT_STRIDE} END) % nt.n
       = b.doc_id
  WHERE a.source <> b.source
)""", """mt AS MATERIALIZED (SELECT w, l, CAST(count(*) AS BIGINT) AS n FROM oc GROUP BY 1, 2)""",
"""items AS MATERIALIZED (SELECT DISTINCT k FROM (SELECT w AS k FROM mt UNION SELECT l FROM mt))""",
"""wins AS MATERIALIZED (
  SELECT i.k, CAST(coalesce(sum(mt.n), 0) AS BIGINT) AS wns
  FROM items i LEFT JOIN mt ON mt.w = i.k GROUP BY 1
)""", """nij AS MATERIALIZED (
  SELECT k1, k2, CAST(sum(n) AS BIGINT) AS n FROM (
    SELECT w AS k1, l AS k2, n FROM mt UNION ALL SELECT l AS k1, w AS k2, n FROM mt
  ) GROUP BY 1, 2
)""", """p0 AS MATERIALIZED (SELECT k, 1.0 AS p FROM items)"""]
    for r in range(1, BT_ITERS + 1):
        cte.append(f"""num{r} AS MATERIALIZED (
  SELECT a.k, w.wns,
         w.wns / list_sum(list(nij.n * 1.0 / (a.p + b.p) ORDER BY b.k)) AS p
  FROM p{r - 1} a
  JOIN nij ON nij.k1 = a.k
  JOIN p{r - 1} b ON b.k = nij.k2
  JOIN wins w ON w.k = a.k
  GROUP BY a.k, w.wns
)""")
        cte.append(f"s{r} AS MATERIALIZED (SELECT list_sum(list(p ORDER BY k)) AS s FROM num{r})")
        cte.append(f"p{r} AS MATERIALIZED (SELECT k, CASE WHEN s > 0 THEN p / s ELSE 0.0 END AS p FROM num{r}, s{r})")
    body = ",\n".join(cte)
    return f"""
WITH {body}
SELECT p.k AS key, w.wns AS n_wins, tot.n AS n_matches,
       CAST(floor(round(p.p, 9) * 1e6) AS BIGINT) AS rating_ppm
FROM p{BT_ITERS} p
JOIN wins w ON w.k = p.k
JOIN (SELECT k1 AS k, CAST(sum(n) AS BIGINT) AS n FROM nij GROUP BY 1) tot
  ON tot.k = p.k
"""


PSI_BIN_WIDTH = 100  # n_chars bin width for the split-drift PSI


def q_split_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the doc-length distribution,
    val/test vs train — THE standard drift gate for "is my eval split
    distributed like training data" (rule of thumb: PSI < 0.1 stable,
    > 0.25 shifted). Bins are fixed-width ``n_chars // PSI_BIN_WIDTH``
    (mergeable across partitions/batches like the histogram sketches);
    only bins populated in BOTH splits contribute (the clip-empty
    convention), and ``n_shared_bins`` reports how many that is.

    Plan: one scan-fused split+bin projection, one (split, bin)
    aggregate (bins × 3 rows), then the PSI fold on that bounded
    relation — no second corpus pass per split pair.
    """
    from spark_ifs_spark.operators.sampling import split_assign

    docs = split_assign(
        _read(spark, sf_dir, "documents"), "doc_id", SPLIT_WEIGHTS, seed=SPLIT_SEED
    )
    binned = docs.select(
        "split", (F.col("n_chars") / PSI_BIN_WIDTH).cast("long").alias("bin")
    ).groupBy("split", "bin").agg(F.count(F.lit(1)).alias("n"))
    tot = binned.groupBy("split").agg(F.sum("n").alias("t"))
    by = binned.join(tot, "split").select(
        "split", "bin", (F.col("n").cast("double") / F.col("t")).alias("share")
    )
    train = by.where(F.col("split") == "train").select(
        "bin", F.col("share").alias("p")
    )
    other = by.where(F.col("split") != "train")
    j = other.join(train, "bin")  # clip: shared bins only
    term = (F.col("share") - F.col("p")) * F.log(F.col("share") / F.col("p"))
    return j.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_shared_bins"),
        F.round(F.sum(term), 6).alias("psi"),
    )


def sql_split_psi() -> str:
    from spark_ifs_spark.operators.sampling import sql_split_case

    case = sql_split_case("doc_id", SPLIT_WEIGHTS, SPLIT_SEED)
    return f"""
WITH binned AS (
  SELECT {case} AS split, n_chars // {PSI_BIN_WIDTH} AS bin, count(*) AS n
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT split, CAST(sum(n) AS BIGINT) AS t FROM binned GROUP BY 1),
by AS (
  SELECT split, bin, n * 1.0 / t AS share FROM binned JOIN tot USING (split)
),
train AS (SELECT bin, share AS p FROM by WHERE split = 'train')
SELECT o.split, count(*) AS n_shared_bins,
       round(sum((o.share - tr.p) * ln(o.share / tr.p)), 6) AS psi
FROM by o JOIN train tr USING (bin)
WHERE o.split <> 'train'
GROUP BY 1
"""


BOOT_REPLICAS = 64
BOOT_SEED = 42


def q_bootstrap_doclen_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean document length — the
    statistical-rigor gate every corpus-metric dashboard needs; see
    :func:`~spark_ifs_spark.operators.textstats.poisson_bootstrap_mean_ci`."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.poisson_bootstrap_mean_ci(
        docs, "doc_id", "n_chars", n_replicas=BOOT_REPLICAS, seed=BOOT_SEED
    )


def sql_bootstrap_doclen_ci() -> str:
    from spark_ifs_spark.operators.textstats import POISSON1_CDF_PPM

    cdf = ", ".join(str(c) for c in POISSON1_CDF_PPM)
    u = sql_md5_int60(
        f"concat('boot{BOOT_SEED}:', CAST(b.b AS VARCHAR), ':', CAST(d.doc_id AS VARCHAR))"
    )
    return f"""
WITH rep AS (
  SELECT b, round(sum(m * n_chars) * 1.0 / sum(m), 6) AS mean
  FROM (
    SELECT b.b AS b, d.n_chars,
           len(list_filter([{cdf}], c -> c <= ({u}) % 1000000)) AS m
    FROM documents d, (SELECT unnest(range({BOOT_REPLICAS})) AS b) b
  )
  GROUP BY 1
  HAVING sum(m) > 0
),
pt AS (SELECT round(sum(n_chars) * 1.0 / count(*), 6) AS point_mean FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_replicas, pt.point_mean,
       round(quantile_cont(mean, {0.05!r}), 6) AS ci_lo,
       round(quantile_cont(mean, {0.95!r}), 6) AS ci_hi
FROM rep, pt GROUP BY pt.point_mean
"""


def q_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-vs-unigram fertility per source under vocabularies trained
    on the same filtered word relation — the algorithm-choice
    comparison; see :func:`~spark_ifs_spark.operators.unigram.
    tokenizer_compare`."""
    from spark_ifs_spark.operators.unigram import tokenizer_compare

    docs = _read(spark, sf_dir, "documents")
    return tokenizer_compare(
        docs, "source", "text",
        n_merges=BPE_MERGES,
        max_piece=UNI_MAX_PIECE, min_count=UNI_MIN_COUNT,
        em_rounds=UNI_EM_ROUNDS, prune_top=UNI_PRUNE_TOP,
        trained=_uni_trained(spark, sf_dir),
    )


def sql_tokenizer_compare() -> str:
    from spark_ifs_spark.operators.unigram import MAX_WORD_LEN

    R = UNI_EM_ROUNDS + 1  # round R+1 is the unigram encode pass
    cte = _sql_unigram_ctes(R)
    # BPE merge rounds over the SAME filtered word relation (the
    # uniform-population convention of tokenizer_compare; bpe_train's
    # own gate stays unfiltered)
    cte.append("syms0 AS (SELECT w, c, string_split(w, '') AS s FROM wf)")
    for r in range(BPE_MERGES):
        cte.append(_sql_bpe_round(r).strip().lstrip("\n"))
    allbt = " UNION ALL ".join(
        f"SELECT w FROM bt{R}_{k}" for k in range(1, MAX_WORD_LEN + 1)
    )
    body = ",\n".join(cte)
    return f"""
WITH {body},
np AS (SELECT w, CAST(count(*) AS BIGINT) AS uk FROM ({allbt}) GROUP BY 1),
bp AS (SELECT w, CAST(len(s) AS BIGINT) AS bk FROM syms{BPE_MERGES}),
wsrc AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' AND len(w) <= {MAX_WORD_LEN}
  GROUP BY 1, 2
),
agg AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(sum(c * uk) AS BIGINT) AS uni_tokens,
         CAST(sum(c * bk) AS BIGINT) AS bpe_tokens
  FROM wsrc JOIN np USING (w) JOIN bp USING (w) GROUP BY 1
)
SELECT source, n_words, uni_tokens, bpe_tokens,
       CAST(floor(uni_tokens * 1000000.0 / n_words) AS BIGINT) AS uni_tokens_per_word_ppm,
       CAST(floor(bpe_tokens * 1000000.0 / n_words) AS BIGINT) AS bpe_tokens_per_word_ppm
FROM agg
"""


PL_STRIDE1 = 7919    # three-way match fixture strides; effective
PL_STRIDE2 = 104731  # strides derive mod (N-1) (see operator). Chosen
#                      so the effective strides stay NONZERO and
#                      DISTINCT mod 20 (the fixture's source
#                      cardinality, which divides the doc counts at the
#                      gate SFs) — otherwise every match carries a
#                      duplicate source key and is discarded (the
#                      104729 lesson: e1 ≡ e2 ≡ 15 mod 20 at N=500
#                      left an empty, vacuously-matching relation).


def q_pref_pl_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plackett-Luce source ratings from deterministic three-way
    document matches — the k-way ranked-preference aggregation
    (listwise RLHF data); see
    :func:`~spark_ifs_spark.operators.ratings.source_pl_ratings`."""
    from spark_ifs_spark.operators.ratings import source_pl_ratings

    docs = _read(spark, sf_dir, "documents")
    return source_pl_ratings(
        docs, "doc_id", "source", "n_chars",
        stride1=PL_STRIDE1, stride2=PL_STRIDE2,
    )


def sql_pref_pl_ratings() -> str:
    from spark_ifs_spark.operators.ratings import PL_ITERS

    s1, s2 = PL_STRIDE1, PL_STRIDE2
    cte = [
        "nt AS (SELECT count(*) AS n FROM documents)",
        f"""st0 AS (SELECT n, 1 + ({s1} % (n - 1)) AS e1,
       1 + (({s2} + 1 + ({s1} % (n - 1))) % (n - 1)) AS e2p FROM nt)""",
        """st AS (SELECT n, e1,
       CASE WHEN e2p = e1 THEN 1 + (e2p % (n - 1)) ELSE e2p END AS e2 FROM st0)""",
        """tri0 AS MATERIALIZED (
  SELECT a.doc_id AS t,
         a.source AS ka, a.n_chars AS za, a.doc_id AS ia,
         b.source AS kb, b.n_chars AS zb, b.doc_id AS ib,
         c.source AS kc, c.n_chars AS zc, c.doc_id AS ic
  FROM documents a
  JOIN st ON true
  JOIN documents b ON (a.doc_id + st.e1) % st.n = b.doc_id
  JOIN documents c ON (a.doc_id + st.e2) % st.n = c.doc_id
  WHERE a.source <> b.source AND a.source <> c.source AND b.source <> c.source
)""",
        """longf AS MATERIALIZED (
  SELECT t, k, row_number() OVER (PARTITION BY t ORDER BY z DESC, id ASC) AS rn
  FROM (SELECT t, ka AS k, za AS z, ia AS id FROM tri0
        UNION ALL SELECT t, kb, zb, ib FROM tri0
        UNION ALL SELECT t, kc, zc, ic FROM tri0)
)""",
        """tri AS MATERIALIZED (
  SELECT f.k AS a, s.k AS b, th.k AS c, CAST(count(*) AS BIGINT) AS n
  FROM longf f
  JOIN longf s ON s.t = f.t AND s.rn = 2
  JOIN longf th ON th.t = f.t AND th.rn = 3
  WHERE f.rn = 1
  GROUP BY 1, 2, 3
)""",
        """pos3 AS MATERIALIZED (
  SELECT a AS k, n FROM tri UNION ALL SELECT b, n FROM tri UNION ALL SELECT c, n FROM tri
)""",
        """items AS MATERIALIZED (SELECT DISTINCT k FROM pos3)""",
        """wins AS MATERIALIZED (
  SELECT i.k, CAST(coalesce(sum(w.n), 0) AS BIGINT) AS wns
  FROM items i LEFT JOIN (SELECT a AS k, n FROM tri UNION ALL SELECT b, n FROM tri) w
    ON w.k = i.k
  GROUP BY 1
)""",
        """pp0 AS MATERIALIZED (SELECT k, 1.0 AS p FROM items)""",
    ]
    for r in range(1, PL_ITERS + 1):
        cte.append(f"""t{r} AS MATERIALIZED (
  SELECT tri.a, tri.b, tri.c, u.p,
         CASE u.pos WHEN 'a' THEN tri.a WHEN 'b' THEN tri.b ELSE tri.c END AS k,
         CASE WHEN u.p = 1 THEN tri.n / ((pa.p + pb.p) + pc.p)
              ELSE tri.n / (pb.p + pc.p) END AS term
  FROM tri
  JOIN pp{r - 1} pa ON pa.k = tri.a
  JOIN pp{r - 1} pb ON pb.k = tri.b
  JOIN pp{r - 1} pc ON pc.k = tri.c
  CROSS JOIN (VALUES (1, 'a'), (1, 'b'), (1, 'c'), (2, 'b'), (2, 'c')) u(p, pos)
)""")
        cte.append(f"""d{r} AS MATERIALIZED (
  SELECT k, list_sum(list(term ORDER BY a, b, c, p)) AS d
  FROM t{r} GROUP BY 1
)""")
        cte.append(f"""new{r} AS MATERIALIZED (
  SELECT w.k, CASE WHEN d.d > 0 THEN w.wns / d.d ELSE 0.0 END AS p
  FROM wins w LEFT JOIN d{r} d ON d.k = w.k
)""")
        cte.append(f"s{r} AS MATERIALIZED (SELECT list_sum(list(p ORDER BY k)) AS s FROM new{r})")
        cte.append(f"pp{r} AS MATERIALIZED (SELECT k, CASE WHEN s > 0 THEN p / s ELSE 0.0 END AS p FROM new{r}, s{r})")
    body = ",\n".join(cte)
    return f"""
WITH {body}
SELECT p.k AS key,
       CAST(coalesce(fw.n, 0) AS BIGINT) AS n_first,
       CAST(tot.n AS BIGINT) AS n_matches,
       CAST(floor(round(p.p, 9) * 1e6) AS BIGINT) AS rating_ppm
FROM pp{PL_ITERS} p
LEFT JOIN (SELECT a AS k, sum(n) AS n FROM tri GROUP BY 1) fw ON fw.k = p.k
JOIN (SELECT k, sum(n) AS n FROM pos3 GROUP BY 1) tot ON tot.k = p.k
"""


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / Flesch-Kincaid grade per document over the
    punctuated-text fixture (the corpus is punctuation-free prose, so
    terminal punctuation is planted deterministically — see
    ``_punct_fixture_expr``); the classic readability quality-filter
    features. Scan-fused projection, zero shuffles."""
    docs = _read(spark, sf_dir, "documents")
    ptext = docs.withColumn("ws", F.split("text", " ")).withColumn(
        "ptext", F.expr(_punct_fixture_expr("spark"))
    )
    out = textstats.readability_scores(ptext, "doc_id", "ptext")
    return out.withColumnRenamed("id", "doc_id")


def sql_readability_scores() -> str:
    fixture = _punct_fixture_expr("duck")
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
p AS (SELECT doc_id, {fixture} AS ptext FROM t),
pw AS (SELECT doc_id, string_split(ptext, ' ') AS w FROM p),
base AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_words,
         CAST(greatest(
           len(list_filter(w, x -> regexp_matches(x, '[.!?]$'))), 1
         ) AS INT) AS n_sentences,
         CAST(list_sum(list_transform(
           w, x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)
         )) AS INT) AS n_syllables
  FROM pw
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835 - (1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)))
                     - (84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))), 6)
         AS flesch,
       round((0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)))
           + (11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))) - 15.59, 6)
         AS fk_grade
FROM base
"""


PRIO_K = 64
PRIO_SEED = 7


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-sampling subset-sum estimate of total corpus chars from
    a PRIO_K-row weighted sample, with the exact total as audit — see
    :func:`~spark_ifs_spark.operators.sampling.priority_sample_estimate`."""
    from spark_ifs_spark.operators.sampling import priority_sample_estimate

    docs = _read(spark, sf_dir, "documents")
    return priority_sample_estimate(
        docs, "doc_id", "n_chars", k=PRIO_K, seed=PRIO_SEED
    )


def sql_priority_sample() -> str:
    k = PRIO_K
    h = sql_md5_int60(f"concat('prio:{PRIO_SEED}:', CAST(doc_id AS VARCHAR))")
    two60 = repr(float(1 << 60))
    return f"""
WITH pr AS (
  SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS w,
         CAST(n_chars AS DOUBLE)
           / (CAST(({h}) + 1 AS DOUBLE) / {two60}) AS q
  FROM documents
),
rk AS (SELECT *, row_number() OVER (ORDER BY q DESC, id ASC) AS rn FROM pr),
tau AS (
  SELECT coalesce(max(CASE WHEN rn = {k + 1} THEN q END), 0.0) AS tau FROM rk
),
samp AS (
  SELECT id, greatest(w, tau) AS we, tau
  FROM rk, tau WHERE rn <= {k}
),
est AS (
  SELECT any_value(tau) AS tau, CAST(count(*) AS INT) AS n_sample,
         list_sum(list(we ORDER BY id)) AS est_raw
  FROM samp
),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS exact_total
  FROM documents
)
SELECT ex.n_rows, CAST({k} AS INT) AS k, est.n_sample,
       round(est.tau, 6) AS tau,
       round(est.est_raw, 6) AS est_total,
       ex.exact_total,
       CAST(floor((abs(round(est.est_raw, 6) - CAST(ex.exact_total AS DOUBLE)) * 1e6)
                  / CAST(ex.exact_total AS DOUBLE)) AS BIGINT) AS err_ppm
FROM est, ex
"""


def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth checkpoints + β/ln k fit — see
    :func:`~spark_ifs_spark.operators.textstats.heaps_law_fit`."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.heaps_law_fit(docs, "doc_id", "text")


def sql_heaps_law_fit() -> str:
    J = textstats.HEAPS_CHECKPOINTS
    beta_ppm, lnk_ppm = textstats.heaps_fit_exprs(J)
    t_cols = ", ".join(
        f"sum(CASE WHEN doc_id < (n * {j}) // {J} THEN nw ELSE 0 END) AS t{j}"
        for j in range(1, J + 1)
    )
    v_cols = ", ".join(
        f"sum(CASE WHEN fd < (n * {j}) // {J} THEN 1 ELSE 0 END) AS v{j}"
        for j in range(1, J + 1)
    )
    rows = " UNION ALL ".join(
        f"SELECT {j} AS j, (n * {j}) // {J} AS n_docs, t{j} AS n_tokens, "
        f"v{j} AS vocab, {beta_ppm} AS beta_ppm, {lnk_ppm} AS lnk_ppm FROM one"
        for j in range(1, J + 1)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id, len(string_split(text, ' ')) AS nw FROM documents
),
cnt AS (SELECT count(*) AS n FROM base),
toks AS (
  SELECT max(n) AS n, {t_cols}
  FROM (SELECT id AS doc_id, nw, n FROM base, cnt)
),
first_occ AS (
  SELECT term, min(doc_id) AS fd
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY 1
),
voc AS (
  SELECT {v_cols}
  FROM (SELECT fd, n FROM first_occ, cnt)
),
one AS MATERIALIZED (
  SELECT CAST(toks.n AS BIGINT) AS n,
         {", ".join(f"CAST(t{j} AS BIGINT) AS t{j}" for j in range(1, J + 1))},
         {", ".join(f"CAST(v{j} AS BIGINT) AS v{j}" for j in range(1, J + 1))}
  FROM toks, voc
)
SELECT CAST(j AS INT) AS j, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens, CAST(vocab AS BIGINT) AS vocab,
       beta_ppm, lnk_ppm
FROM ({rows})
"""


QSWEEP_BINS = 20


def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter decision curve: docs/tokens retained per score
    threshold — see
    :func:`~spark_ifs_spark.operators.textstats.quality_threshold_sweep`."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.quality_threshold_sweep(
        docs, "doc_id", "text", bins=QSWEEP_BINS
    )


def sql_quality_threshold_sweep() -> str:
    base, quality = _sql_quality_parts()
    bins = QSWEEP_BINS
    step = 1_000_000 // bins
    return f"""
WITH {base},
qd AS (
  SELECT least(CAST(floor({quality} * {bins}) AS INT), {bins - 1}) AS bin,
         n_words
  FROM base
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_tokens
  FROM qd GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM per),
cum AS (
  SELECT bin, CAST(bin AS BIGINT) * {step} AS tau_ppm, n_docs, n_tokens,
         CAST(sum(n_docs) OVER (ORDER BY bin DESC) AS BIGINT) AS docs_retained,
         CAST(sum(n_tokens) OVER (ORDER BY bin DESC) AS BIGINT) AS tokens_retained
  FROM per
)
SELECT bin, tau_ppm, n_docs, n_tokens, docs_retained, tokens_retained,
       (tokens_retained * 1000000) // t AS retained_ppm
FROM cum, tot
"""


def q_packing_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-vs-pack decision curve over candidate context lengths:
    single-sequence padding/truncation waste vs interval-packing
    utilization and straddle cost, from one scale-honest prefix sum —
    see :func:`~spark_ifs_spark.operators.chunking.packing_waste_curve`."""
    from spark_ifs_spark.operators.chunking import packing_waste_curve

    # NULL text: size(split(NULL)) is -1 in Spark but NULL in DuckDB —
    # _sized_docs (defined below) counts 0 explicitly, one rule for all
    # packing consumers
    return packing_waste_curve(_sized_docs(spark, sf_dir), "doc_id", "n_tok")


def sql_packing_waste_curve() -> str:
    from spark_ifs_spark.operators.chunking import PACK_CTX_LENGTHS

    ls = ", ".join(f"({int(L)})" for L in PACK_CTX_LENGTHS)
    return f"""
WITH sized AS (
  SELECT doc_id AS id,
         CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS nw
  FROM documents
),
cum AS (
  SELECT id, nw,
         CAST(coalesce(sum(nw) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM sized
),
e AS (
  SELECT c.*, CAST(l.ctx_len AS INT) AS ctx_len
  FROM cum c CROSS JOIN (VALUES {ls}) l(ctx_len)
),
agg AS (
  SELECT ctx_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nw) AS BIGINT) AS total_tokens,
         CAST(sum(least(nw, CAST(ctx_len AS BIGINT))) AS BIGINT) AS tokens_kept,
         CAST(sum(CASE WHEN nw > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
           AS truncated_docs,
         CAST(sum(CASE WHEN nw > 0 AND cum_before // CAST(ctx_len AS BIGINT)
                        <> (cum_before + nw - 1) // CAST(ctx_len AS BIGINT)
                  THEN 1 ELSE 0 END) AS BIGINT) AS straddled_docs
  FROM e GROUP BY 1
)
SELECT ctx_len, n_docs, total_tokens, tokens_kept, truncated_docs,
       (tokens_kept * 1000000) // (n_docs * CAST(ctx_len AS BIGINT))
         AS single_util_ppm,
       (total_tokens + CAST(ctx_len AS BIGINT) - 1) // CAST(ctx_len AS BIGINT)
         AS packed_bins,
       (total_tokens * 1000000)
         // (((total_tokens + CAST(ctx_len AS BIGINT) - 1) // CAST(ctx_len AS BIGINT))
             * CAST(ctx_len AS BIGINT)) AS packed_util_ppm,
       straddled_docs
FROM agg
"""


NGRAM_COVERAGE_NS = [100, 1000, 10000]


def q_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipfian mass concentration: what fraction of all token
    OCCURRENCES the top-N most frequent terms cover, for N in
    NGRAM_COVERAGE_NS — the curve that sizes vocabularies (a tokenizer
    whose top-10k pieces cover 98% of occurrences wastes little on
    unks) and prices frequency-based pruning. Plan: one
    vocabulary-bounded term-count aggregate, the global top-max(N) as
    ``orderBy().limit()`` (take-ordered: per-partition heads of at most
    max(N) terms merged, where a constant-key window of k = 10,000 —
    past ``windowGroupLimitThreshold`` — would sort the whole vocabulary
    in one task), the rank window over those survivors, one
    |N|-bounded conditional-sum pass; the corpus is read once."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    terms = docs.select(F.explode(F.split("text", " ")).alias("term"))
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    kmax = max(NGRAM_COVERAGE_NS)
    order = [F.col("n").desc(), F.col("term").asc()]
    top = (
        vocab.orderBy(*order)
        .limit(kmax)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )
    rows = top.select(
        "n",
        "rank",
        F.explode(
            F.array(*[F.lit(int(N)).cast("int") for N in NGRAM_COVERAGE_NS])
        ).alias("top_n"),
    )
    agg = rows.groupBy("top_n").agg(
        F.sum(F.when(F.col("rank") <= F.col("top_n"), F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("covered_tokens"),
        F.sum((F.col("rank") <= F.col("top_n")).cast("long")).alias("n_terms_used"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "top_n",
        "n_terms_used",
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.expr("(covered_tokens * 1000000) DIV total_tokens").alias("coverage_ppm"),
    )


def sql_ngram_coverage_curve() -> str:
    ns = ", ".join(f"({int(N)})" for N in NGRAM_COVERAGE_NS)
    kmax = max(NGRAM_COVERAGE_NS)
    return f"""
WITH vocab AS MATERIALIZED (
  SELECT term, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS vocab_size
  FROM vocab
),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term ASC) AS rank
  FROM vocab QUALIFY rank <= {kmax}
),
e AS (
  SELECT r.n, r.rank, CAST(l.top_n AS INT) AS top_n
  FROM ranked r CROSS JOIN (VALUES {ns}) l(top_n)
),
agg AS (
  SELECT top_n,
         CAST(sum(CASE WHEN rank <= top_n THEN n ELSE 0 END) AS BIGINT)
           AS covered_tokens,
         CAST(sum(CASE WHEN rank <= top_n THEN 1 ELSE 0 END) AS BIGINT)
           AS n_terms_used
  FROM e GROUP BY 1
)
SELECT top_n, n_terms_used, vocab_size, covered_tokens, total_tokens,
       (covered_tokens * 1000000) // total_tokens AS coverage_ppm
FROM agg, tot
"""


CALIB_BINS = 10


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for the
    heuristic quality score against a deterministic binary label
    (embeddings.label parity — the audit measures calibration, it does
    not require the score to be good): per confidence bin, count,
    mean confidence, empirical positive rate, |gap|, and the
    n-weighted ECE as a constant column. The quality-classifier
    trust-check (FineWeb-Edu-style pipelines act on absolute
    thresholds, which only mean anything if the score is calibrated).

    Plan: scan-fused score, one doc_id-keyed join to the label
    projection, ONE bins-bounded aggregate; all published numbers are
    exact integer ppm (per-row confidence is floored to ppm first, so
    every sum is integer)."""
    docs = _read(spark, sf_dir, "documents")
    q = textstats.quality_score(docs, "doc_id", "text").select(
        "id", F.round("quality", 6).alias("q")
    )
    emb = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), (F.col("label") % 2).alias("y")
    )
    j = q.join(emb, "id").select(
        F.least(F.floor(F.col("q") * CALIB_BINS).cast("int"), F.lit(CALIB_BINS - 1))
        .alias("bin"),
        F.floor(F.col("q") * 1_000_000).cast("long").alias("conf_ppm"),
        F.col("y").cast("long").alias("y"),
    )
    per = j.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("pos"),
        F.sum("conf_ppm").alias("sum_conf"),
    )
    per = per.select(
        "bin",
        "n",
        F.expr("(pos * 1000000) DIV n").alias("acc_ppm"),
        F.expr("sum_conf DIV n").alias("conf_ppm"),
        F.abs(
            F.expr("(pos * 1000000) DIV n") - F.expr("sum_conf DIV n")
        ).alias("gap_ppm"),
    )
    tot = per.agg(
        F.sum("n").alias("_t"),
        F.sum(F.col("gap_ppm") * F.col("n")).alias("_g"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bin", "n", "acc_ppm", "conf_ppm", "gap_ppm",
        F.expr("_g DIV _t").alias("ece_ppm"),
    )


def sql_quality_calibration() -> str:
    base, quality = _sql_quality_parts()
    b = CALIB_BINS
    return f"""
WITH {base},
q AS (SELECT id, {quality} AS q FROM base),
j AS (
  SELECT least(CAST(floor(q.q * {b}) AS INT), {b - 1}) AS bin,
         CAST(floor(q.q * 1000000) AS BIGINT) AS conf_ppm,
         CAST(e.label % 2 AS BIGINT) AS y
  FROM q JOIN embeddings e ON e.vec_id = q.id
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(conf_ppm) AS BIGINT) AS sum_conf
  FROM j GROUP BY 1
),
pp AS (
  SELECT bin, n,
         (pos * 1000000) // n AS acc_ppm,
         sum_conf // n AS conf_ppm,
         abs((pos * 1000000) // n - sum_conf // n) AS gap_ppm
  FROM per
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS t,
         CAST(sum(gap_ppm * n) AS BIGINT) AS g
  FROM pp
)
SELECT bin, n, acc_ppm, conf_ppm, gap_ppm, g // t AS ece_ppm
FROM pp, tot
"""


KAPPA_CLASSES = 10
KAPPA_NOISE_MOD = 5  # second annotator disagrees on ~1/5 of items


def q_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ inter-annotator agreement over the label column and a
    planted second annotator (md5-keyed disagreement on ~1/KAPPA_NOISE
    of items, shifted to a deterministic other class) — the label-QA
    gate every human-annotation/RLHF pipeline runs before trusting a
    batch: raw agreement overstates reliability when the class prior
    is skewed; κ subtracts chance agreement pe = Σ_k p1(k)·p2(k).

    One row: (n_items, n_agree, po_ppm, pe_ppm, kappa_ppm). Everything
    derives from ONE class-bounded contingency aggregate (K² cells);
    po/pe/κ are ratios of exact integer counts, published under the
    round(·,9)→ppm-floor guard with the float sequence mirrored."""
    from spark_ifs_spark.functions.hashing import md5_int60

    emb = _read(spark, sf_dir, "embeddings")
    h = md5_int60(F.concat(F.lit("anno2:"), F.col("vec_id").cast("string")))
    a2 = F.when(
        h % KAPPA_NOISE_MOD != 0, F.col("label").cast("long")
    ).otherwise(
        (F.col("label") + 1 + (h % (KAPPA_CLASSES - 1))) % KAPPA_CLASSES
    )
    pairs = emb.select(
        F.col("label").cast("long").alias("a1"), a2.alias("a2")
    )
    cells = pairs.groupBy("a1", "a2").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    agree = F.sum(F.when(F.col("a1") == F.col("a2"), F.col("c")).otherwise(F.lit(0)))
    one = cells.agg(
        n.alias("n_items"), agree.alias("n_agree")
    )
    m1 = cells.groupBy("a1").agg(F.sum("c").alias("c1"))
    m2 = cells.groupBy("a2").agg(F.sum("c").alias("c2"))
    # Σ_k c1(k)·c2(k) as an exact integer (classes joined on value)
    pe_num = (
        m1.join(m2, m1["a1"] == m2["a2"])
        .agg(F.sum(F.col("c1") * F.col("c2")).alias("pe_num"))
    )
    out = one.crossJoin(F.broadcast(pe_num))
    po = F.col("n_agree").cast("double") / F.col("n_items").cast("double")
    pe = F.col("pe_num").cast("double") / (
        F.col("n_items").cast("double") * F.col("n_items").cast("double")
    )
    kappa = (po - pe) / (F.lit(1.0) - pe)
    return out.select(
        "n_items",
        "n_agree",
        F.floor(F.round(po, 9) * 1_000_000).cast("long").alias("po_ppm"),
        F.floor(F.round(pe, 9) * 1_000_000).cast("long").alias("pe_ppm"),
        F.floor(F.round(kappa, 9) * 1_000_000).cast("long").alias("kappa_ppm"),
    )


def sql_label_agreement_kappa() -> str:
    h = sql_md5_int60("concat('anno2:', CAST(vec_id AS VARCHAR))")
    K, M = KAPPA_CLASSES, KAPPA_NOISE_MOD
    return f"""
WITH pairs AS (
  SELECT CAST(label AS BIGINT) AS a1,
         CASE WHEN ({h}) % {M} <> 0 THEN CAST(label AS BIGINT)
              ELSE (label + 1 + (({h}) % {K - 1})) % {K} END AS a2
  FROM embeddings
),
cells AS MATERIALIZED (
  SELECT a1, a2, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
),
one AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN a1 = a2 THEN c ELSE 0 END) AS BIGINT) AS n_agree
  FROM cells
),
m1 AS (SELECT a1, CAST(sum(c) AS BIGINT) AS c1 FROM cells GROUP BY 1),
m2 AS (SELECT a2, CAST(sum(c) AS BIGINT) AS c2 FROM cells GROUP BY 1),
pe AS (
  SELECT CAST(sum(c1 * c2) AS BIGINT) AS pe_num
  FROM m1 JOIN m2 ON m2.a2 = m1.a1
)
SELECT n_items, n_agree,
       CAST(floor(round(CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE), 9)
                  * 1000000) AS BIGINT) AS po_ppm,
       CAST(floor(round(CAST(pe_num AS DOUBLE)
                        / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)), 9)
                  * 1000000) AS BIGINT) AS pe_ppm,
       CAST(floor(round(
         ((CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE))
          - (CAST(pe_num AS DOUBLE)
             / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))))
         / (1.0 - (CAST(pe_num AS DOUBLE)
                   / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)))), 9)
                  * 1000000) AS BIGINT) AS kappa_ppm
FROM one, pe
"""


PACK_ASSIGN_L = 64  # exercises both truncation (max len 100) and multi-doc bins


def _sized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, n_tok)`` with the NULL-text guard (the size(split)
    trap from the r8 profile fix) — the Spark-side twin of
    ``_sql_pack_ctes``'s ``sized`` CTE, shared by every packing
    consumer so the token rule cannot drift between them."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(F.split("text", " ")))
        .alias("n_tok"),
    )


def q_packing_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized whole-document packing assignment (size-class shelf,
    the distributed closed form of first-fit-decreasing) — the
    ``(doc_id, bin_id, tok_offset)`` relation a trainer's loader
    consumes; see :func:`~spark_ifs_spark.operators.chunking.pack_assign`."""
    from spark_ifs_spark.operators.chunking import pack_assign

    return pack_assign(
        _sized_docs(spark, sf_dir), "doc_id", "n_tok", ctx_len=PACK_ASSIGN_L
    )


def _sql_pack_ctes(L: int) -> str:
    """The size-class shelf-packing WITH-body (sized → rn → caps →
    offs), shared by ``packing_assignment`` and
    ``epoch_shuffle_manifest`` so the bin arithmetic cannot drift."""
    return f"""sized AS (
  SELECT doc_id,
         CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n_tok
  FROM documents
),
cl AS (
  SELECT doc_id, n_tok, GREATEST(LEAST(n_tok, {L}), 1) AS cs FROM sized
),
rn AS (
  SELECT doc_id, n_tok, cs,
         row_number() OVER (PARTITION BY cs ORDER BY doc_id) - 1 AS rn
  FROM cl
),
caps AS (
  SELECT cs, CAST(count(*) AS BIGINT) AS cnt, GREATEST({L} // cs, 1) AS cap
  FROM rn GROUP BY cs
),
offs AS (
  SELECT cs, cap,
         CAST(coalesce(sum((cnt + cap - 1) // cap) OVER (ORDER BY cs DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bin0
  FROM caps
)"""


def sql_packing_assignment() -> str:
    L = PACK_ASSIGN_L
    return f"""
WITH {_sql_pack_ctes(L)}
SELECT r.doc_id, r.n_tok, CAST(r.cs AS BIGINT) AS seq_len,
       CAST(o.bin0 + r.rn // o.cap AS BIGINT) AS bin_id,
       CAST((r.rn % o.cap) * r.cs AS BIGINT) AS tok_offset,
       r.n_tok > {L} AS truncated
FROM rn r JOIN offs o USING (cs)
"""


EPOCH_SHUFFLE_EPOCHS = 3
EPOCH_SHUFFLE_SEED = 42


def q_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle manifest over the packed bins —
    the seeded, engine/run-invariant bin order a trainer's loader
    consumes each epoch; see
    :func:`~spark_ifs_spark.operators.chunking.epoch_shuffle`."""
    from spark_ifs_spark.operators.chunking import epoch_shuffle, pack_assign

    bins = pack_assign(
        _sized_docs(spark, sf_dir), "doc_id", "n_tok", ctx_len=PACK_ASSIGN_L
    )
    return epoch_shuffle(
        bins, "bin_id", n_epochs=EPOCH_SHUFFLE_EPOCHS, seed=EPOCH_SHUFFLE_SEED
    )


def sql_epoch_shuffle_manifest() -> str:
    """md5-rank twin: position = row_number over (h, bin_id) within
    the epoch — the oracle's global window equals the Spark side's
    two-level spliced rank because the bucket key is the hash's own
    prefix."""
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    L, E, seed = PACK_ASSIGN_L, EPOCH_SHUFFLE_EPOCHS, EPOCH_SHUFFLE_SEED
    hexpr = sql_md5_int60(
        f"'{seed}:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(b.bin_id AS VARCHAR)"
    )
    return f"""
WITH {_sql_pack_ctes(L)},
eb AS (
  SELECT DISTINCT CAST(o.bin0 + r.rn // o.cap AS BIGINT) AS bin_id
  FROM rn r JOIN offs o USING (cs)
),
eh AS (
  SELECT CAST(e.epoch AS INTEGER) AS epoch, b.bin_id, {hexpr} AS h
  FROM eb b CROSS JOIN (SELECT unnest(range(0, {E})) AS epoch) e
)
SELECT epoch, bin_id,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, bin_id) - 1 AS BIGINT) AS position
FROM eh
"""


COVERAGE_SELECT_K = 5


def q_coverage_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection (submodular greedy,
    k rounds) — see
    :func:`~spark_ifs_spark.operators.selection.coverage_select`."""
    from spark_ifs_spark.operators.selection import coverage_select

    docs = _read(spark, sf_dir, "documents")
    return coverage_select(docs, "doc_id", "text", k=COVERAGE_SELECT_K, n=2)


def sql_coverage_select_k5() -> str:
    """Unrolled-greedy twin (the `_sql_unrolled_greedy` discipline):
    round r counts terms outside cov{r-1} per doc, takes the (count
    DESC, id ASC) winner, and extends the covered set; an empty
    winner empties every later round, matching the Spark early stop."""
    k = COVERAGE_SELECT_K
    cte = ["""ct AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, w[s.i + 1] || ' ' || w[s.i + 2] AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(generate_series(0, len(w) - 2)) AS i) s
  WHERE len(w) >= 2
)"""]
    prev_cov = None
    for r in range(1, k + 1):
        src = "ct" if prev_cov is None else f"(SELECT ct.id, ct.term FROM ct ANTI JOIN {prev_cov} cv ON ct.term = cv.term)"
        cte.append(f"""w{r} AS MATERIALIZED (
  SELECT id, CAST(count(*) AS BIGINT) AS sc
  FROM {src} t{r}
  GROUP BY id ORDER BY sc DESC, id ASC LIMIT 1
)""")
        cov_body = f"SELECT ct.term FROM ct JOIN w{r} ON ct.id = w{r}.id"
        if prev_cov is not None:
            cov_body += f" UNION SELECT term FROM {prev_cov}"
        cte.append(f"""cov{r} AS MATERIALIZED (
  SELECT DISTINCT term FROM ({cov_body})
)""")
        prev_cov = f"cov{r}"
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rank, id AS doc_id, sc AS new_terms FROM w{r}"
        for r in range(1, k + 1)
    )
    body = ",\n".join(cte)
    return f"""
WITH {body}
{union}
"""


CURRICULUM_EPOCHS = 3
CURRICULUM_SEED = 271828
CURRICULUM_STAGE_CHARS = 150  # fixed difficulty-bucket width (data-independent)
CURRICULUM_MAX_STAGE = 3


def q_curriculum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-staged epoch manifest over documents: difficulty
    stage = length bucket (``least(3, n_chars // 150)`` — fixed,
    data-independent boundaries so the stage is a scan-local
    projection), stages ascend easy → hard within every epoch, items
    shuffle per-epoch within their stage by the portable md5 rank; see
    :func:`~spark_ifs_spark.operators.chunking.curriculum_shuffle`."""
    from spark_ifs_spark.operators.chunking import curriculum_shuffle

    docs = _read(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.least(
            F.lit(CURRICULUM_MAX_STAGE).cast("long"),
            F.expr(f"n_chars DIV {CURRICULUM_STAGE_CHARS}"),
        ).cast("int").alias("stage"),
    )
    return curriculum_shuffle(
        staged, "doc_id", "stage",
        n_epochs=CURRICULUM_EPOCHS, seed=CURRICULUM_SEED,
    )


def sql_curriculum_manifest() -> str:
    """md5-rank twin: position = row_number over (stage, h, id) within
    the epoch — the oracle's global window equals the Spark side's
    two-level spliced rank (bucket key = hash prefix) plus the stage
    offsets (stage is the leading sort key)."""
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    E, seed = CURRICULUM_EPOCHS, CURRICULUM_SEED
    w, mx = CURRICULUM_STAGE_CHARS, CURRICULUM_MAX_STAGE
    hexpr = sql_md5_int60(
        f"'{seed}:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)"
    )
    return f"""
WITH ch AS (
  SELECT CAST(e.epoch AS INTEGER) AS epoch,
         d.doc_id AS item_id,
         CAST(least({mx}, d.n_chars // {w}) AS INTEGER) AS stage,
         {hexpr} AS h
  FROM documents d CROSS JOIN (SELECT unnest(range(0, {E})) AS epoch) e
)
SELECT epoch, item_id, stage,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY stage, h, item_id) - 1 AS BIGINT) AS position
FROM ch
"""
