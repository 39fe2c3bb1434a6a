"""Feature/row selection (the reference's IFS surface): MI, mRMR, selectors."""

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
    _sql_pair_mi_over,
    _sql_syn_long,
    _sql_tri_mi,
    _sql_unrolled_greedy,
    _t,
)


#: mrmr_k10_synthetic — the S4 distributed-generator path, driver-gated:
#: a 2000x(1+20) md5-seeded categorical matrix, full greedy mRMR k=10.
#: (bench.py's B5 uses the F.rand generator at 10k x 50 for throughput;
#: rand is not engine-portable, so the GATED variant hashes cells.)
SYN_ROWS = 2000
SYN_DIMS = 20
SYN_K = 10


def q_mi_pair_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    from spark_ifs_spark.functions.mi import joint_counts

    return mi_from_joint_counts(
        joint_counts(li, "l_returnflag", "l_linestatus"), group_cols=[]
    ).select(F.round("mi", 6).alias("mi"))


def sql_mi_pair_lineitem() -> str:
    return """
WITH joint AS (
  SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS c
  FROM lineitem GROUP BY 1, 2
), tot AS (SELECT sum(c) AS n FROM joint),
ma AS (SELECT a, sum(c) AS ca FROM joint GROUP BY 1),
mb AS (SELECT b, sum(c) AS cb FROM joint GROUP BY 1)
SELECT round(sum((c * 1.0 / n) * ln((c * 1.0 * n) / (ca * 1.0 * cb))), 6) AS mi
FROM joint
CROSS JOIN tot
JOIN ma USING (a)
JOIN mb USING (b)
"""


def q_mi_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(quantized dim j, label) for every embedding dim (round-1
    relevance of `selectColumns`, IFS:46-140 with S=∅)."""
    emb = _read(spark, sf_dir, "embeddings")
    long = emb.select(
        F.col("label").cast("double").alias("lab"),
        F.posexplode(F.col("embedding")).alias("feature", "e"),
    ).select("feature", "lab", F.floor(F.col("e").cast("double") * QUANT_SCALE).alias("q"))
    joint = long.groupBy("feature", "q", "lab").agg(F.count(F.lit(1)).alias("cnt"))
    mi = mi_from_joint_counts(joint, ["feature"], a_col="q", b_col="lab")
    return mi.select("feature", F.round("mi", 6).alias("mi"))


def sql_mi_relevance() -> str:
    return f"""
WITH {_sql_pair_mi(EMB_DIMS)}
SELECT ca AS feature, round(mi, 6) AS mi FROM mi WHERE cb = -1
"""


def q_mi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise MI matrix over the quantized dims (one explode + one
    hash aggregate — the sufficient statistic any feature-selection run
    draws from): ``(a, b, mi)`` with a<b, label as a=-1."""
    from spark_ifs_spark.operators.select_columns import all_pairs_mi

    wide, cols = _quantized_wide(spark, sf_dir, MRMR_DIMS)
    out = all_pairs_mi(wide, "label", cols)
    return out.select("a", "b", F.round("mi", 6).alias("mi"))


def sql_mi_matrix() -> str:
    return f"""
WITH {_sql_pair_mi(MRMR_DIMS)}
SELECT -1 AS a, ca AS b, round(mi, 6) AS mi FROM mi WHERE cb = -1
UNION ALL
SELECT ca AS a, cb AS b, round(mi, 6) AS mi FROM mi WHERE cb >= 0 AND ca < cb
"""


def q_mrmr_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 winner: argmax relevance (ColumnWiseScore.scala:51)."""
    emb = _read(spark, sf_dir, "embeddings")
    long = emb.select(
        F.col("label").cast("double").alias("lab"),
        F.posexplode(F.col("embedding")).alias("feature", "e"),
    ).select("feature", "lab", F.floor(F.col("e").cast("double") * QUANT_SCALE).alias("q"))
    joint = long.groupBy("feature", "q", "lab").agg(F.count(F.lit(1)).alias("cnt"))
    mi = mi_from_joint_counts(joint, ["feature"], a_col="q", b_col="lab")
    return (
        mi.orderBy(F.col("mi").desc(), F.col("feature").asc())
        .limit(1)
        .select("feature", F.round("mi", 6).alias("score"))
    )


def sql_mrmr_top1() -> str:
    return f"""
WITH {_sql_pair_mi(EMB_DIMS)}
SELECT ca AS feature, round(mi, 6) AS score FROM mi WHERE cb = -1
ORDER BY mi DESC, ca ASC LIMIT 1
"""


def q_mrmr_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide, cols = _quantized_wide(spark, sf_dir, MRMR_DIMS)
    sel = select_columns(wide, "label", cols, num=MRMR_K)
    rows = [(r + 1, int(f), round(s, 6)) for r, (f, s) in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, feature int, score double")


def sql_mrmr_select_k5() -> str:
    """Unrolled greedy mRMR (difference form, MID), k=5."""
    return _sql_unrolled_greedy("r.score - {red}")


def q_mrmr_miq_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy selection under the MIQ (quotient) score — exercises the
    pluggable ColumnScore surface (reference trait
    ``ColumnWiseScore.scala:9-23``) with a non-default plug-in."""
    from spark_ifs_spark.operators.scores import MiqColumnScore

    wide, cols = _quantized_wide(spark, sf_dir, MRMR_DIMS)
    sel = select_columns(wide, "label", cols, num=MRMR_K, score=MiqColumnScore())
    rows = [(r + 1, int(f), round(s, 6)) for r, (f, s) in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, feature int, score double")


def sql_mrmr_miq_k5() -> str:
    return _sql_unrolled_greedy("r.score / greatest({red}, 1e-12)")


def q_jmi_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy selection under the JMI score (Yang & Moody 1999) —
    exercises the triple-statistic plug-in path: each round aggregates
    I((cand, selected); label) TRIPLE joint counts, a sufficient
    statistic the mRMR family never touches (captures feature synergy
    pairwise MI cannot)."""
    from spark_ifs_spark.operators.scores import JmiColumnScore

    wide, cols = _quantized_wide(spark, sf_dir, MRMR_DIMS)
    sel = select_columns(wide, "label", cols, num=MRMR_K, score=JmiColumnScore())
    rows = [(r + 1, int(f), round(s, 6)) for r, (f, s) in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, feature int, score double")


def sql_jmi_select_k5() -> str:
    """Unrolled greedy JMI: round 1 = relevance; rounds 2+ = SUM over
    selected of the triple MI (the ``mi3`` CTE)."""
    return _sql_unrolled_greedy(
        "{red}", red_rel="mi3", red_agg="sum", extra_cte=_sql_tri_mi(MRMR_DIMS)
    )


def q_cmim_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy selection under the CMIM score (Fleuret 2004) — the
    conditional-MI criterion ``min_s I(cand; label | s)``, derived from
    the same triple counts as JMI via the chain rule."""
    from spark_ifs_spark.operators.scores import CmimColumnScore

    wide, cols = _quantized_wide(spark, sf_dir, MRMR_DIMS)
    sel = select_columns(wide, "label", cols, num=MRMR_K, score=CmimColumnScore())
    rows = [(r + 1, int(f), round(s, 6)) for r, (f, s) in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, feature int, score double")


def sql_cmim_select_k5() -> str:
    """Unrolled greedy CMIM: rounds 2+ take the MIN over selected of the
    conditional MI — the ``cmi`` CTE is the triple MI minus the selected
    feature's relevance (chain rule)."""
    cmi = """,
cmi AS (
  SELECT m.ca, m.cb, m.mi - r2.mi AS mi
  FROM mi3 m JOIN mi r2 ON r2.ca = m.cb AND r2.cb = -1
)"""
    return _sql_unrolled_greedy(
        "{red}", red_rel="cmi", red_agg="min",
        extra_cte=_sql_tri_mi(MRMR_DIMS) + cmi,
    )


def q_row_select_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same selection through the ALTERNATE encoding: quantized dims
    transposed to feature-rows, labels broadcast — must agree with
    q_mrmr_select_k5 (the reference's differential invariant)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.col("label").cast("double").alias("lab"),
        F.transform(
            F.slice(F.col("embedding"), 1, MRMR_DIMS),
            lambda x: F.floor(x.cast("double") * QUANT_SCALE),
        ).alias("qarr"),
    )
    long = melt_array(q, "qarr", carry_cols=["vec_id"])
    alt = (
        long.groupBy("col")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("vec_id").alias("o"), F.col("value").alias("v")))
            ).alias("s")
        )
        .select(F.col("col").cast("long").alias("id"), F.col("s.v").alias("features"))
    )
    labels = [
        float(r["lab"]) for r in q.select("vec_id", "lab").orderBy("vec_id").collect()
    ]
    sel = select_rows(alt, num=MRMR_K, labels_row=labels)
    rows = [(r + 1, int(f), round(s, 6)) for r, (f, s) in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, feature int, score double")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    payloads = attach_fake_payloads(docs, "doc_id", "text")
    return extract_image_features(payloads, "doc_id", "payload", decode_fn=fake_image_decoder)


def sql_multimodal_features() -> str:
    # fake decoder: w = 1 + first_byte % 64, h = 1 + last_byte % 64, c = 3;
    # text is ASCII so bytes == chars; md5(payload) == md5(text)
    return """
SELECT CAST(doc_id AS VARCHAR) AS id,
       1 + ascii(substr(text, 1, 1)) % 64 AS width,
       1 + ascii(substr(text, length(text), 1)) % 64 AS height,
       3 AS channels,
       md5(text) AS feature_hash
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing end-to-end: per-document payloads
    go through :func:`~spark_ifs_spark.operators.multimodal.sample_frames`
    (the 1→N expansion happens INSIDE ``mapInPandas`` — frames are
    emitted straight into the output Arrow batches, no array-of-binaries
    intermediate and no explode shuffle) and each frame reduces to
    JVM-side features (byte length + md5). The splitter is the
    deterministic fake (contiguous ``len//4`` byte slices — the codec
    injection seam; production swaps in a real demuxer via
    ``split_fn=``), so the oracle replays the exact slicing with
    ``substr`` and the value-hash gate audits the batch shapes, the
    frame boundaries and the payload bytes."""
    docs = _read(spark, sf_dir, "documents")
    payloads = attach_fake_payloads(docs, "doc_id", "text")
    frames = sample_frames(
        payloads, "doc_id", "payload", num_frames=4, split_fn=fake_frame_splitter
    )
    return frames.select(
        "id",
        "frame_idx",
        F.length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("frame_hash"),
    )


def sql_multimodal_frame_sample() -> str:
    # the fake splitter slices payload (= ASCII text bytes) into 4
    # contiguous step-byte frames, step = max(len // 4, 1); bytes past
    # 4*step are dropped, frames past the payload end are empty
    return """
WITH dims AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, coalesce(text, '') AS t,
         greatest(length(coalesce(text, '')) // 4, 1) AS step
  FROM documents
), idx(frame_idx) AS (VALUES (0), (1), (2), (3))
SELECT id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(length(substr(t, frame_idx * step + 1, step)) AS INT) AS n_bytes,
       md5(substr(t, frame_idx * step + 1, step)) AS frame_hash
FROM dims CROSS JOIN idx
"""


def q_multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec multimodal gate: deterministic PNG payloads are
    encoded (zlib deflate) per document id, then decoded by the real
    ``codecs.decode_png`` (inflate + filter reversal) and reduced to
    content-level features — ``pixel_sum`` is the exact sum of every
    decoded byte. The oracle recomputes width/height/pixel ramp from
    the id alone, so a decoder that returned wrong CONTENT (not just
    wrong headers) hash-mismatches. Unlike ``multimodal_features``
    (fake-decoder plumbing demo), this drives the real codec
    end-to-end."""
    docs = _read(spark, sf_dir, "documents")
    payloads = attach_png_payloads(docs, "doc_id")
    return extract_png_features(payloads, "id", "payload")


def sql_multimodal_png_features() -> str:
    # pixels are (doc_id*7 + k*13) % 256 for k in [0, w*h*3) — the
    # oracle recomputes the ramp; Spark sums the actually-decoded bytes
    return """
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id // 8) % 8 AS h FROM documents
)
SELECT doc_id AS id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       CAST(list_sum([(doc_id * 7 + k * 13) % 256 FOR k IN range(w * h * 3)]) AS BIGINT) AS pixel_sum
FROM dims
"""


def q_multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-entropy-codec multimodal gate: deterministic baseline-JPEG
    payloads (DCT + quantize + Huffman, ``functions.jpeg``) are encoded
    per document id, then decoded by the real ``decode_jpeg`` (DHT-driven
    Huffman decode, DPCM DC chain, dequantize, batch IDCT) and reduced to
    content-level features. The images are flat 8x8 blocks with even gray
    values, which quantize exactly under step 16 — so the LOSSY pipeline
    round-trips bit-exact and the oracle recomputes the decoded pixel sum
    from the id alone. Completes the codec ladder: PNG proved the
    predictive-filter + DEFLATE path; this proves the transform-coding +
    entropy-coding path end-to-end."""
    docs = _read(spark, sf_dir, "documents", fan_out=True)
    payloads = attach_jpeg_payloads(docs, "doc_id")
    return extract_jpeg_features(payloads, "id", "payload")


def sql_multimodal_jpeg_features() -> str:
    # block b of doc is flat at 2*((doc_id*11 + b*17) % 128); every block
    # is 64 px — the oracle recomputes the mosaic; Spark sums the
    # actually-decoded pixels
    return """
WITH dims AS (
  SELECT doc_id,
         8 * (1 + doc_id % 4) AS w,
         8 * (1 + (doc_id // 4) % 4) AS h
  FROM documents
)
SELECT doc_id AS id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       1 AS channels,
       CAST(64 * list_sum([2 * ((doc_id * 11 + b * 17) % 128)
                           FOR b IN range((w // 8) * (h // 8))]) AS BIGINT)
         AS pixel_sum
FROM dims
"""


def q_audio_mulaw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-audio-codec gate: deterministic G.711 mu-law WAV payloads
    (format-7 RIFF container) are synthesized per document id, decoded
    by the real ``codecs.decode_wav_samples`` (chunk walk + companding
    expansion), and reduced to content-level features — ``sample_sum``
    is the exact sum of the decoded PCM16 values. G.711 expansion is
    closed-form integer arithmetic, so the oracle recomputes the decoded
    samples from the id alone. Completes the audio half of the codec
    ladder (WAV-PCM was already real; this adds a genuinely compressed
    audio format)."""
    docs = _read(spark, sf_dir, "documents")
    payloads = attach_mulaw_payloads(docs, "doc_id")
    return extract_mulaw_features(payloads, "id", "payload")


def sql_audio_mulaw_features() -> str:
    # mu-law byte k of doc = (doc_id*31 + k*7) % 256; G.711 expand is
    # pure arithmetic: u = 255-b; t = ((u%16)*8+132) << ((u//16)%8);
    # value = 132-t if u>=128 else t-132
    return """
WITH n AS (
  SELECT doc_id, 64 + doc_id % 64 AS n_samples FROM documents
)
SELECT doc_id AS id,
       CAST(n_samples AS INT) AS n_samples,
       8000 AS sample_rate,
       CAST(n_samples * 1000 // 8000 AS INT) AS duration_ms,
       CAST(list_sum([
         CASE WHEN (255 - (doc_id * 31 + k * 7) % 256) >= 128
              THEN 132 - (((255 - (doc_id * 31 + k * 7) % 256) % 16) * 8 + 132)
                       * (1 << (((255 - (doc_id * 31 + k * 7) % 256) // 16) % 8))
              ELSE (((255 - (doc_id * 31 + k * 7) % 256) % 16) * 8 + 132)
                       * (1 << (((255 - (doc_id * 31 + k * 7) % 256) // 16) % 8)) - 132
         END
         FOR k IN range(n_samples)]) AS BIGINT) AS sample_sum
FROM n
"""


def q_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent-token collocations by integer-micro PMI
    (``textstats.pmi_top_pairs`` — phrase mining)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.pmi_top_pairs(
        docs, "text", k=PMI_K, min_count=PMI_MIN_COUNT
    )


def sql_pmi_top_pairs() -> str:
    return f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
), total AS (
  SELECT CAST(sum(len(t)) AS BIGINT) AS n FROM toks
), uni AS (
  SELECT w.w AS w, CAST(count(*) AS BIGINT) AS c_w
  FROM toks, LATERAL (SELECT unnest(t) AS w) w
  GROUP BY 1
), big AS (
  SELECT t[s.i] || ' ' || t[s.i + 1] AS pair, CAST(count(*) AS BIGINT) AS c_ab
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
  WHERE len(t) >= 2
  GROUP BY 1
  HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT big.pair, big.c_ab,
       CAST(floor(ln((big.c_ab * total.n) / (ua.c_w * ub.c_w)) * 1000000.0) AS BIGINT) AS pmi_micro
FROM big
CROSS JOIN total
JOIN uni ua ON ua.w = string_split(big.pair, ' ')[1]
JOIN uni ub ON ub.w = string_split(big.pair, ' ')[-1]
ORDER BY pmi_micro DESC, pair ASC
LIMIT {PMI_K}
"""




def q_mrmr_k10_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full greedy mRMR (k=SYN_K) over the md5-seeded synthetic matrix —
    gates the distributed generator (sources/generator.py,
    ``random_conventional_md5_df``) plus the selector end-to-end with a
    DuckDB oracle replaying the exact same cell arithmetic.
    sf-independent by construction (reads no tables)."""
    from spark_ifs_spark.sources.generator import random_conventional_md5_df

    wide, cols = random_conventional_md5_df(spark, rows=SYN_ROWS, cols=SYN_DIMS + 1)
    sel = select_columns(wide, "label", cols, num=SYN_K)
    rows = [(r + 1, int(f), round(s, 6)) for r, (f, s) in enumerate(sel)]
    return spark.createDataFrame(rows, "rank int, feature int, score double")


def sql_mrmr_k10_synthetic() -> str:
    return _sql_unrolled_greedy(
        "r.score - {red}",
        num=SYN_K,
        pair_mi=_sql_pair_mi_over(_sql_syn_long(SYN_ROWS, SYN_DIMS)),
    )
