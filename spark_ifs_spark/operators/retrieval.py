"""Late-interaction (ColBERT-style MaxSim) retrieval over chunked
documents.

ColBERT (Khattab & Zaharia, 2020, SIGIR) scores a document against a
query as the sum over query tokens of the MAX similarity to any
document token — "late interaction": token-level similarities are
computed first and reduced afterwards, which is what lets the document
side be precomputed and indexed. Here the unit of late interaction is
the *chunk* (the package's overlapping token windows) and the encoder
is a deterministic hashed bag-of-words (md5-bucket term frequencies,
L2-normalized) — the engine-portable stand-in for a learned token
encoder: swap :func:`chunk_bow_vectors` for a Pandas-UDF model encoder
and every plan shape below survives unchanged.

    score(query, doc) = Σ_{t ∈ query}  max_{chunk ∈ doc}  cos(enc(t), enc(chunk))

With one-hot query-term encodings the cosine against a normalized
chunk vector collapses to ``tf[bucket(t)] / ‖chunk‖`` — an
inverted-index lookup, NOT a dense GEMM, which is exactly the sparse
formulation production late-interaction engines (PLAID et al.) exploit.

Scale shape: the chunk side is a (doc, chunk, bucket, tf) relation —
corpus-linear, built by one map-side explode + one aggregate; the query
side is a broadcast literal; their join is bucket-keyed (inverted
index), so only postings for buckets a query actually probes are ever
read; the two reductions (max over chunks, sum over terms) are hash
aggregates with map-side combine; final top-k per query goes through
the skew-safe grouped top-k (``topk.topk_per_key``).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_ifs_spark.functions.hashing import md5_int60
from spark_ifs_spark.operators.chunking import chunk_documents
from spark_ifs_spark.operators.topk import topk_per_key


def chunk_bow_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 32,
    overlap: int = 8,
    num_buckets: int = 64,
) -> DataFrame:
    """``(id, chunk_idx, b, tf, nrm)`` — L2-normalizable hashed-BoW chunk
    vectors in sparse long form: ``tf`` occurrences of md5 bucket ``b``
    in the chunk, ``nrm = ‖chunk‖₂ = sqrt(Σ_b tf²)`` repeated on every
    posting so consumers never re-join the norm."""
    chunks = chunk_documents(
        df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=overlap
    )
    toks = (
        chunks.select(
            "id", "chunk_idx", F.explode(F.split(F.col("chunk"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .select("id", "chunk_idx", (md5_int60(F.col("w")) % num_buckets).alias("b"))
    )
    tf = toks.groupBy("id", "chunk_idx", "b").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("id", "chunk_idx")
    return tf.withColumn("nrm", F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w)))


def maxsim_topk(
    spark: SparkSession,
    chunk_vecs: DataFrame,
    queries: dict[str, list[str]],
    k: int = 10,
    num_buckets: int = 64,
) -> DataFrame:
    """``(query, rank, id, score)`` — top-``k`` documents per query under
    the MaxSim late-interaction score over ``chunk_vecs`` (the output of
    :func:`chunk_bow_vectors`, or anything with the same sparse schema).

    ``queries`` maps query name → term list; terms are one-hot in the
    same md5-bucket space, so per-(term, chunk) cosine =
    ``tf[bucket(term)] / nrm``. Ranking is ON ``round(score, 6)`` with
    the doc id as tie-break (the engine-portable float-ranking
    convention)."""
    qrows = [(q, t) for q, terms in queries.items() for t in terms]
    qdf = spark.createDataFrame(qrows, "query string, term string").select(
        "query", "term", (md5_int60(F.col("term")) % num_buckets).alias("b")
    )
    sims = (
        chunk_vecs.join(F.broadcast(qdf), "b")
        .groupBy("query", "term", "id")
        .agg(F.max(F.col("tf") / F.col("nrm")).alias("ms"))
    )
    scores = (
        sims.groupBy("query", "id")
        .agg(F.round(F.sum("ms"), 6).alias("score"))
    )
    return topk_per_key(
        scores, ["query"], "score", k, tiebreak_cols=["id"]
    ).select("query", "rank", "id", "score")


def dcg_weights_micro(k: int) -> list[int]:
    """``[floor(1e6 / log2(i+1)) for i = 1..k]`` — the DCG position
    weights as exact integers, computed ONCE driver-side and injected
    into both the Spark plan and the SQL oracle as literals, so no
    engine's ``log2`` libm behavior ever enters the comparison."""
    import math

    return [int(1000000.0 // math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_eval(
    system: DataFrame,
    truth: DataFrame,
    key_cols: Sequence[str],
    id_col: str = "id",
    k: int = 10,
) -> DataFrame:
    """``(key..., n_truth, n_hits, recall_ppm, mrr_micro, ndcg_micro)``
    — rank-quality metrics of a retrieval ``system`` against a binary
    ground-truth set, per query key: recall@k, MRR@k and nDCG@k (binary
    relevance).

    ``system`` carries ``(key..., rank, id)`` (1-based ranks, ≤ k rows
    per key); ``truth`` carries ``(key..., id)`` — the relevant set.
    Exactness: every metric is an integer quotient — recall in ppm, MRR
    as ``floor(1e6 / best_rank)``, and nDCG as
    ``floor(1e6 · DCG / IDCG)`` where DCG/IDCG are integer sums of the
    :func:`dcg_weights_micro` literals (IDCG is the prefix sum at
    ``min(n_truth, k)``) — so results are bit-identical on any engine.

    Scale shape: one broadcast-friendly join of two ≤ k·|queries|-row
    relations (system side) against the truth set keyed by (key, id),
    then a single hash aggregate per key; a left join back to the truth
    counts catches queries the system missed entirely (all-zero row,
    not absent). Queries-without-truth simply don't appear — there is
    nothing to evaluate against.
    """
    keys = list(key_cols)
    w = dcg_weights_micro(k)
    wcol = F.array(*[F.lit(x) for x in w])
    prefix = [0]
    for x in w:
        prefix.append(prefix[-1] + x)
    pcol = F.array(*[F.lit(x) for x in prefix])  # prefix[j] = sum of first j
    t = truth.select(*keys, F.col(id_col).alias("id"), F.lit(1).alias("_rel"))
    tcounts = t.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_truth"))
    joined = (
        system.filter(F.col("rank") <= k)
        .select(*keys, "rank", F.col(id_col).alias("id"))
        .join(t, [*keys, "id"], "inner")
    )
    hits = joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("_best"),
        F.sum(F.element_at(wcol, F.col("rank").cast("int"))).alias("_dcg"),
    )
    out = tcounts.join(hits, keys, "left")
    idcg = F.element_at(
        pcol, (F.least(F.col("n_truth"), F.lit(k)) + 1).cast("int")
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    dcg = F.coalesce(F.col("_dcg"), F.lit(0))
    return out.select(
        *keys,
        F.col("n_truth"),
        n_hits.cast("long").alias("n_hits"),
        F.floor(n_hits * F.lit(1000000) / F.col("n_truth")).cast("long").alias(
            "recall_ppm"
        ),
        F.coalesce(
            F.floor(F.lit(1000000) / F.col("_best")), F.lit(0)
        )
        .cast("long")
        .alias("mrr_micro"),
        F.floor(dcg * F.lit(1000000) / idcg).cast("long").alias("ndcg_micro"),
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    key_cols: Sequence[str],
    id_col: str = "id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """``(key..., rank, id, rrf_micro)`` — reciprocal-rank fusion
    (Cormack, Clarke & Büttcher, 2009, SIGIR) of several ranked lists:
    ``rrf(d) = Σ_lists 1/(rrf_k + rank_list(d))``, the standard way a
    hybrid retrieval stack combines its lexical (BM25) and
    late-interaction/dense legs without score calibration — only ranks
    cross the fusion boundary, so wildly different score scales fuse
    cleanly.

    Each input must carry ``key_cols``, ``id_col`` and a 1-based
    ``rank`` column; a document absent from a list simply contributes
    nothing for it (the conventional skip, not a penalty term).
    Contributions are quantized to integer micro-units
    (``floor(1e6/(rrf_k+rank))`` as BIGINT) before the sum — the
    package's exact-integer convention, so fused totals are invariant
    to partitioning and addition order on every engine.

    Scale shape: the inputs are already top-k lists (≤ k rows per key
    each), so everything here — the union, the (key, id) hash
    aggregate, the grouped top-k — runs over ≤ |lists|·k rows per key
    regardless of corpus size. Fusion is never the bottleneck; the legs
    are.
    """
    keys = list(key_cols)
    contribs = [
        r.select(
            *keys,
            F.col(id_col).alias("id"),
            F.floor(F.lit(1000000.0) / (F.lit(rrf_k) + F.col("rank")))
            .cast("long")
            .alias("_c"),
        )
        for r in ranked
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), contribs)
        .groupBy(*keys, "id")
        .agg(F.sum("_c").alias("rrf_micro"))
    )
    return topk_per_key(
        fused, keys, "rrf_micro", k, tiebreak_cols=["id"]
    ).select(*keys, "rank", "id", "rrf_micro")
