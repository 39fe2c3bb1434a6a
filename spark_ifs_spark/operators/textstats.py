"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All pure ``pyspark.sql.functions`` expressions
(JVM-side, whole-stage codegen) with exact DuckDB-oracle equivalents.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.operators.topk import topk_per_key

#: regex for "BPE-ish" word tokens: alnum runs or single non-space symbols.
#: Kept RE2/Java-portable (no lookarounds) so Spark and DuckDB agree.
TOKEN_RE = "[a-zA-Z0-9]+"

#: tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "les", "des", "et"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],  # pinyin-romanized markers
}

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_ws_tokens, n_re_tokens, n_chars)`` — whitespace-split count
    and regex-token count per document."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_RE)).alias("n_re_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def _count_word(text: Column, word: str) -> Column:
    """NON-OVERLAPPING matches of ``" word "`` in ``" text "``.

    Adjacent repeats share their delimiter space, so runs undercount
    (``"the the the"`` counts 1, not 3) — the same semantics DuckDB's
    ``regexp_extract_all`` produces, which keeps the oracle exact. This
    is a *marker-presence signal* for quality/lang-id scoring, not a true
    whole-word occurrence count; for exact token counts use
    :func:`token_counts` / :func:`vocab_counts` (split-based)."""
    return F.regexp_count(
        F.concat(F.lit(" "), text, F.lit(" ")), F.lit(f" {word} ")
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_words, mean_word_len, stopword_ratio, quality)``.

    quality ∈ [0,1]: product of (a) a length factor saturating at 50
    words, (b) closeness of mean word length to 5 chars, (c) a stopword
    presence factor. Deterministic arithmetic only — the exact formula
    matters less than it being a fixed, oracle-checkable contract.
    """
    text = F.col(text_col)
    n_words = F.size(F.split(text, " "))
    mean_wl = (F.length(text) - (n_words - 1)) / n_words  # chars sans separators
    stop_hits = None
    for w in STOPWORDS:
        c = _count_word(text, w)
        stop_hits = c if stop_hits is None else stop_hits + c
    stop_ratio = stop_hits / n_words
    length_factor = F.least(n_words / F.lit(50.0), F.lit(1.0))
    wl_factor = F.lit(1.0) - F.least(F.abs(mean_wl - 5.0) / F.lit(5.0), F.lit(1.0))
    stop_factor = F.least(stop_ratio * 5.0, F.lit(1.0))
    return df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        (length_factor * wl_factor * stop_factor).alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, pred_lang)`` — heuristic language ID by marker-word counts.

    argmax over per-language marker hit counts; ties (including the
    all-zero case) break to the alphabetically-first language code, so
    the result is fully deterministic and oracle-expressible.
    """
    text = F.col(text_col)
    scores = []
    for lang in sorted(LANG_MARKERS):
        s = None
        for w in LANG_MARKERS[lang]:
            c = _count_word(text, w)
            s = c if s is None else s + c
        scores.append(F.struct(s.alias("hits"), F.lit(lang).alias("lang")))
    # max_by (hits, then lang desc? we want lang ASC on ties) —
    # array_max on struct compares fields in order; to get lang-asc
    # tie-break we invert: take max of (hits, negated-rank) via sorting.
    arr = F.array(*scores)
    best = F.array_max(
        F.transform(
            arr,
            lambda s: F.struct(
                s["hits"].alias("hits"),
                # lexicographically LATER langs must lose ties → store a
                # rank that decreases along the sorted order
                (F.lit(0) - F.array_position(
                    F.array(*[F.lit(x) for x in sorted(LANG_MARKERS)]), s["lang"]
                )).alias("neg_rank"),
                s["lang"].alias("lang"),
            ),
        )
    )
    return df.select(F.col(id_col).alias("id"), best["lang"].alias("pred_lang"))


def vocab_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus vocabulary: ``(token, cnt)`` over whitespace tokens.

    One explode + one hash aggregate; map-side partial aggregation
    absorbs hot tokens (stopwords) before the shuffle, so the classic
    word-count skew never reaches a single reducer unaggregated.
    """
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def adjacent_pair_counts(df: DataFrame, text_col: str, top_n: int = 50) -> DataFrame:
    """``(pair, n)`` — the ``top_n`` most frequent adjacent whitespace-token
    pairs corpus-wide: one counting round of byte-pair-encoding-style
    tokenizer training (count merge candidates, pick winners, repeat with
    the merged vocab).

    Plan: pairs are built map-side with ``zip_with`` over two shifted
    slices of the token array (zero joins, zero extra shuffles — compare
    building bigrams by self-joining a token relation on ``pos+1``),
    then ONE hash aggregate whose map-side partial absorbs the Zipf head
    before the shuffle, then TakeOrdered (per-partition top-``top_n``
    merged on the driver — never a global sort). Rank order is total
    ``(n DESC, pair ASC)`` so the cut is deterministic.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_n)
    )


def repetition_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_tokens, n_distinct_tokens, repetition)`` — fraction of
    tokens that are repeats of an earlier token (Gopher-style repetition
    quality rule: high repetition ⇒ boilerplate/spam). Pure array
    expressions — map-side, shuffle-free."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    return df.select(
        F.col(id_col).alias("id"),
        n.alias("n_tokens"),
        d.alias("n_distinct_tokens"),
        F.when(n > 0, (n - d) / n).otherwise(F.lit(0.0)).alias("repetition"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, fp)`` — md5 digest of the normalized text (lowercased,
    non-alnum runs collapsed to single spaces, trimmed). The canonical
    "same content modulo formatting" exact-dedup key."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return df.select(F.col(id_col).alias("id"), F.md5(norm).alias("fp"))


def rolling_fingerprints(
    df: DataFrame, id_col: str, text_col: str, window: int = 32, base: int = 257, mod: int = 1_000_000_007
) -> DataFrame:
    """``(id, pos, fp)`` — polynomial rolling-hash fingerprints of every
    ``window``-char substring (Rabin–Karp). Library extra for
    fine-grained containment detection; one explode over char positions,
    hash computed with ``F.aggregate`` over the char codes — JVM-side.
    """
    text = F.col(text_col)
    chars = F.split(text, "")
    n = F.length(text)
    # valid window starts are 0..n-window inclusive; docs shorter than the
    # window yield zero rows (an unguarded sequence(0, n-window) would
    # produce a descending [0, -1, ...] array and a runtime slice error)
    pos = F.explode(
        F.when(n >= window, F.sequence(F.lit(0), n - window)).otherwise(
            F.array().cast("array<int>")
        )
    )
    windowed = df.select(F.col(id_col).alias("id"), chars.alias("cs"), pos.alias("pos"))
    sub = F.slice(F.col("cs"), F.col("pos") + 1, window)
    fp = F.aggregate(
        sub,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )
    return windowed.select("id", "pos", fp.alias("fp"))


#: PII patterns, kept RE2/Java-portable (no lookarounds, no backrefs) so
#: the Spark plan and the DuckDB oracle replace identical spans.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_LONG_NUM_RE = "[0-9]{9,}"


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, clean_text, n_emails, n_long_nums)`` — emails and ≥9-digit
    runs replaced with ``<EMAIL>`` / ``<NUM>`` placeholders, plus the
    per-document redaction counts (audit trail for filtering decisions).

    Pure map-side ``regexp_replace``/``regexp_count`` expressions fused
    into the scan — at 100 TB scrubbing is a projection, and the counts
    cost nothing extra. Order matters: emails are replaced FIRST so a
    numeric localpart is counted as an email, not a number run.
    """
    t = F.col(text_col)
    after_email = F.regexp_replace(t, F.lit(PII_EMAIL_RE), F.lit("<EMAIL>"))
    return df.select(
        F.col(id_col).alias("id"),
        F.regexp_replace(
            after_email, F.lit(PII_LONG_NUM_RE), F.lit("<NUM>")
        ).alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_LONG_NUM_RE)).alias("n_long_nums"),
    )


def collapse_repeated_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_before, n_after, clean_text)`` — consecutive repeated
    whitespace tokens collapsed to a single occurrence (``"batch batch
    batch stream" → "batch stream"``), with before/after token counts
    as the audit trail. The de-stuttering pass real cleaning pipelines
    run before token counting: repeated-run boilerplate (pagination
    artifacts, scraped menus, OCR stutter) inflates n-gram and length
    statistics and leaks into training batches.

    Pure map-side expression — ``filter`` over the token array with a
    positional lambda comparing each token to its predecessor, fused
    into the scan: no explode, no shuffle, no window. At 100 TB this
    is a projection, exactly like :func:`scrub_pii`.
    """
    toks = F.split(F.col(text_col), " ")
    # F.get is 0-based and NULL out of bounds, so position 0's missing
    # predecessor compares not-equal via eqNullSafe and is always kept
    kept = F.filter(toks, lambda x, i: ~x.eqNullSafe(F.get(toks, i - 1)))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_before"),
        F.size(kept).alias("n_after"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """``(id, term, tfidf, rank)`` — top-``k`` whitespace terms per
    document by ``tf · ln(N / df)``.

    Plan shape: one explode → (id, term) count aggregate (map-side
    combine absorbs token skew), a term-level document-frequency
    aggregate joined back, and a per-document window bounded by that
    document's distinct-term count. The only corpus-wide shuffle keys
    on (id, term) counts, never raw tokens. Rank order is total:
    (tfidf DESC, term ASC).

    The document-frequency join strategy is Catalyst/AQE's choice, made
    on the runtime size of the built side: a web-scale vocabulary (URLs,
    typos, numbers) is NOT small and force-broadcasting it would OOM
    every executor; a curated vocabulary is, and AQE broadcasts it on
    its own.
    """

    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    return topk_per_key(scored, ["id"], "tfidf", k, tiebreak_cols=["term"]).select(
        "id", "term", "tfidf", "rank"
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_bigrams, ll_micronats)`` — corpus-trained bigram
    language-model score per document: the standard "perplexity under a
    cheap LM" quality signal (CCNet/Gopher filter by exactly this, with
    a KenLM model in place of the self-trained counts).

    Model: maximum-likelihood bigram conditionals from the corpus
    itself, ``p(b|a) = c(a b) / c(a ·)``. The per-occurrence log term is
    quantized to integer MICRONATS (``floor(ln(p)·1e6)`` as BIGINT)
    before summation, so per-document totals are exact integer sums —
    invariant to partitioning and addition order on both engines, where
    a double sum-of-logs would drift in the last ulp and break value
    hashes.

    Plan — two corpus scans, the inherent train-then-score minimum,
    with NO recomputed corpus-scale branches (a shared corpus subtree
    in one DAG gets re-executed per consumer — Spark only reuses
    identical exchanges, and these aren't):

    1. *Train*: bigrams built map-side with ``zip_with`` over shifted
       token-array slices (zero joins — never a pos+1 self-join of a
       token relation) → ONE map-side-combined count aggregate (the
       Zipf head collapses before the shuffle, so shuffled cells are
       vocabulary-sized) → left-context totals as a window sum over
       that vocabulary relation (a linear chain, not a second corpus
       aggregate; the widest window partition is one left-token's
       distinct continuations, bounded by vocabulary not corpus).
    2. *Score*: per-document bigram multiplicities aggregate first
       (map-side combine again), then join the vocabulary-sized model —
       AQE sizes the build side (broadcast for curated corpora,
       shuffle for web-scale vocabularies, same policy as
       :func:`tfidf_top_terms`) — and fold to one row per document.
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    occ = df.select(
        F.col(id_col).alias("id"), F.explode(pairs).alias("pair")
    )
    pair_counts = occ.groupBy("pair").agg(F.count(F.lit(1)).alias("c_pair"))
    w = Window.partitionBy(F.substring_index(F.col("pair"), " ", 1))
    model = pair_counts.select(
        "pair",
        F.floor(
            F.log(
                F.col("c_pair").cast("double") / F.sum("c_pair").over(w)
            )
            * 1e6
        )
        .cast("long")
        .alias("t"),
    )
    per_doc = occ.groupBy("id", "pair").agg(F.count(F.lit(1)).alias("k"))
    return (
        per_doc.join(model, "pair")
        .groupBy("id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("t")).alias("ll_micronats"),
        )
    )


def source_vocab_overlap(
    df: DataFrame, key_col: str, text_col: str
) -> DataFrame:
    """``(src_a, src_b, n_common, n_a, n_b, jaccard)`` for every
    unordered pair of ``key_col`` groups — vocabulary Jaccard between
    sources, the "which crawls duplicate each other" corpus diagnostic
    that decides mixture weights and dedup priorities.

    Plan: the corpus collapses FIRST to distinct ``(source, token)``
    (one map-side-combined aggregate — shuffled cells are
    vocabulary-sized, and the Zipf head dies in the combiner); the
    pair intersection is an inverted-index self-join on token where a
    token shared by ``s`` sources emits ``s·(s−1)/2`` pairs — bounded
    by sources², never by corpus size; per-source vocabulary sizes are
    a second aggregate over the SAME vocabulary relation and broadcast
    back (source-count rows). No corpus-scale relation is ever joined
    or re-scanned: scoring runs entirely on vocabulary-sized and
    source-sized inputs after the first aggregate.
    """
    toks = (
        df.select(
            F.col(key_col).alias("src"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = toks.select(F.col("src").alias("src_a"), "tok")
    b = toks.select(F.col("src").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def winsorize_by_key(
    df: DataFrame,
    key_col: str,
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Input columns plus ``{value}_clipped``: per-key quantile clipping
    (winsorization) — the robust-stats guard against outliers poisoning
    per-source statistics or per-feature normalizers.

    Plan: per-key [lo, hi] quantiles are ONE grouped aggregate over a
    cardinality-bounded key space, broadcast-joined back; the clamp is
    a scan-fused projection. The corpus relation never shuffles. At
    corpus scale swap ``percentile`` → ``approx_percentile`` (same
    plan; accuracy contract pinned by
    ``test_approx_percentile_swap_within_tolerance``).
    """
    q = df.groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("_qlo"),
        F.expr(f"percentile({value_col}, {hi})").alias("_qhi"),
    )
    return (
        df.join(F.broadcast(q), key_col)
        .withColumn(
            f"{value_col}_clipped",
            F.least(F.greatest(F.col(value_col), F.col("_qlo")), F.col("_qhi")),
        )
        .drop("_qlo", "_qhi")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """``(id, score_micro)`` — top-``k`` documents for a bag-of-words
    query under Okapi BM25, the lexical half of every hybrid (sparse +
    dense) retrieval stack.

    Scoring: ``idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with
    the standard ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``. Each
    per-(doc, term) score is quantized to integer MICRO-units
    (``floor(x·1e6)`` as BIGINT) before the per-document sum — the same
    exact-integer-sum convention as :func:`bigram_logprob`, so totals
    are invariant to partitioning/addition order on both engines.

    Plan: the token explode filters to the query vocabulary BEFORE any
    shuffle (a |Q|-term ``isin`` fused into the scan projection), so
    the only corpus-scale aggregates key on (id, term) for ≤|Q| terms
    per doc and on term for document frequencies — both map-side
    combined. Corpus stats (N, total length) are two driver scalars
    from one aggregate; the final top-k is ``TakeOrdered`` (score desc,
    id asc), never a global sort. At 100 TB: one scan, two small
    shuffles, a k-row result.
    """
    text = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(text, " ").alias("_toks"),
    ).select("id", "_toks", F.size("_toks").alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_len")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["total_len"]) / float(stats["n"])
    tf = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(*query_terms))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return bm25_score_postings(tf, n_docs, avgdl, k=k, k1=k1, b=b)


def novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """``(id, n_shingles, n_novel, novelty_ppm)`` — per-document
    novelty: the fraction of the document's distinct word ``n``-gram
    shingles that occur in NO other document (corpus DF = 1). High
    novelty marks genuinely fresh content; near-zero novelty marks
    boilerplate/template documents whose every phrase recurs elsewhere —
    the cheap corpus-diversity signal that complements near-dup removal
    (a doc can be 0.4-Jaccard from everything yet still 95%
    boilerplate).

    Scale shape: two aggregations over the map-side shingle build
    (:func:`~spark_ifs_spark.operators.dedup.word_shingles`) — the
    per-doc size count shuffles nothing but (id, partial-count) pairs,
    and the DF count shuffles only 64-bit md5 digests. The join-back a
    naive formulation needs disappears: a digest with DF = 1 has
    exactly ONE owning document, so ``min(id)`` on the DF aggregate
    already credits the right doc and the final join is doc-keyed over
    two ≤ n_docs-row relations. Digest collisions are ~n²/2⁶⁰ and hit
    the Spark plan and the SQL oracle identically (both count digests,
    not strings). Docs with fewer than ``n`` tokens have no shingles
    and are excluded, as in the dedup family.

    ``sh`` optionally injects a prebuilt ``(id, sh)`` relation that must
    row-equal ``word_shingles(df, id_col, text_col, n)`` (the registry
    passes its session-staged build so the shingle pass runs once per
    corpus, not once per consumer); ``df`` is then unused.
    """
    from spark_ifs_spark.functions.hashing import md5_int60
    from spark_ifs_spark.operators.dedup import word_shingles

    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    novel = (
        sh.select("id", md5_int60(F.col("sh")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("df_"), F.min("id").alias("id"))
        .filter(F.col("df_") == 1)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_nn"))
    )
    return sizes.join(novel, "id", "left").select(
        "id",
        "n_shingles",
        F.coalesce(F.col("_nn"), F.lit(0)).cast("long").alias("n_novel"),
        F.floor(
            F.coalesce(F.col("_nn"), F.lit(0)).cast("double")
            * F.lit(1000000.0)
            / F.col("n_shingles").cast("double")
        )
        .cast("long")
        .alias("novelty_ppm"),
    )


def zipf_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 500,
) -> DataFrame:
    """One row ``(n_terms, vocab_size, top_freq, slope, intercept, r2)``
    — least-squares fit of the corpus's word-frequency power law:
    ``ln(freq) ≈ intercept + slope·ln(rank)`` over the ``top_n`` head
    of the frequency table. A healthy natural-language corpus sits near
    the Zipf slope of −1; a slope collapsing toward 0 (flat head) or
    diving past −2 flags template spam or degenerate generation — the
    classic one-number corpus-health diagnostic.

    Determinism: ``ln(rank)`` and ``ln(freq)`` are quantized to integer
    micronats BEFORE the regression sums, so all five sufficient
    statistics are exact integer aggregates (order-invariant on both
    engines); slope/intercept/r² are then closed-form doubles of those
    integers, rounded to 6.

    Scale shape: one corpus scan → one map-side-combined vocabulary
    aggregate (shuffle is vocabulary-sized, not token-sized);
    ``orderBy().limit(top_n)`` is Spark's distributed TakeOrdered, so
    no global sort; the rank window and regression run on the
    ``top_n``-row head only.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.count(F.lit(1)).alias("vocab_size"), F.max("c").alias("top_freq")
    )
    top = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(top_n)
    win = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    pts = top.select(
        F.floor(F.log(F.row_number().over(win).cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1e6).cast("long").alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    # a single-point head (one distinct word, or top_n=1) has no slope:
    # nullif-style guard emits NULLs instead of 0/0 NaNs
    varx = F.when(n * sxx - sx * sx != 0, n * sxx - sx * sx)
    vary = F.when(n * syy - sy * sy != 0, n * syy - sy * sy)
    slope = cov / varx
    return sums.crossJoin(F.broadcast(totals)).select(
        F.col("n").alias("n_terms"),
        "vocab_size",
        "top_freq",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n / F.lit(1e6), 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def ppl_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    ll: DataFrame | None = None,
) -> DataFrame:
    """``(bucket, n_docs, sum_bigrams, min_ppl_micro, max_ppl_micro)``
    — CCNet-style perplexity partitioning (Wenzek et al., 2020, LREC):
    score every document under the corpus-trained bigram LM
    (:func:`bigram_logprob`), then split the corpus into ``head`` /
    ``middle`` / ``tail`` at the global perplexity tertiles — CCNet's
    signature move for keeping the fluent third of a web crawl and
    routing the rest to lighter sampling.

    ``ppl_micro = floor(-ll_micronats / n_bigrams)`` is the integer
    average negative log-likelihood per bigram in micronats — a
    monotone proxy for perplexity (``exp`` of it) that stays in the
    package's exact-integer convention. Documents with zero bigrams
    (single-token docs) carry no LM evidence and are excluded, as in
    :func:`bigram_logprob`.

    Scale shape: the LM costs the two corpus scans documented on
    :func:`bigram_logprob`; everything after runs on the per-document
    score relation — ~3 orders smaller than the token stream — where
    one exact ``percentile`` aggregate (two scalars broadcast back) and
    one map-side bucket comparison finish the job. At web scale swap
    the exact percentile for ``approx_percentile`` (the thresholds are
    cut points, not audited values); the plan shape is unchanged.
    Thresholds are rounded to 6 decimals before the comparison — the
    cross-engine interpolation-ulp guard.
    """
    return ppl_doc_buckets(df, id_col, text_col, cuts, ll=ll).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("sum_bigrams"),
        F.min("ppl_micro").alias("min_ppl_micro"),
        F.max("ppl_micro").alias("max_ppl_micro"),
    )


def ppl_doc_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    ll: DataFrame | None = None,
) -> DataFrame:
    """Per-document CCNet assignment ``(id, n_bigrams, ppl_micro,
    bucket)`` — the relation :func:`ppl_buckets` aggregates, exposed so
    pipelines can FILTER on the bucket (keep head/middle, resample
    tail) rather than only report on it.

    ``ll`` optionally injects a prebuilt ``(id, n_bigrams,
    ll_micronats)`` relation (e.g. a session-staged one) in place of
    an inline :func:`bigram_logprob` run — same maths either way."""
    scored = (ll if ll is not None else bigram_logprob(df, id_col, text_col)).select(
        "id",
        "n_bigrams",
        F.floor(
            (-F.col("ll_micronats")).cast("double")
            / F.col("n_bigrams").cast("double")
        )
        .cast("long")
        .alias("ppl_micro"),
    )
    qs = scored.agg(
        F.round(F.expr(f"percentile(ppl_micro, {cuts[0]!r})"), 6).alias("_q0"),
        F.round(F.expr(f"percentile(ppl_micro, {cuts[1]!r})"), 6).alias("_q1"),
    )
    bucket = (
        F.when(F.col("ppl_micro") <= F.col("_q0"), F.lit("head"))
        .when(F.col("ppl_micro") <= F.col("_q1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.crossJoin(F.broadcast(qs)).select(
        "id", "n_bigrams", "ppl_micro", bucket.alias("bucket")
    )


def bm25_multi_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[str, list[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """``(query, rank, id, score_micro)`` — :func:`bm25_topk` for a
    BATCH of named queries in ONE corpus scan: the token explode joins a
    broadcast ``(query, term)`` literal relation instead of an
    ``isin``, so Q queries cost one scan + one (query, id, term)
    aggregate, not Q scans — the shape that matters when the corpus is
    100 TB and the query set is a workload, not a singleton.

    Scores are bit-identical to running :func:`bm25_topk` per query —
    both paths score through the single shared
    :func:`bm25_score_postings` formula (df computed per (query, term));
    the per-query top-k goes through the skew-safe grouped
    top-k rather than Q separate TakeOrdereds.
    """
    spark = df.sparkSession
    # dedupe each term list: bm25_topk's isin() treats the list as a
    # SET, and a duplicated (query, term) row here would double-join
    # every matching token and inflate tf
    qdf = spark.createDataFrame(
        [(q, t) for q, terms in queries.items() for t in dict.fromkeys(terms)],
        "query string, term string",
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select("id", "_toks", F.size("_toks").alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_len")
    ).collect()[0]
    n_docs = int(stats["n"])
    avgdl = float(stats["total_len"]) / float(n_docs)
    tf = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .join(F.broadcast(qdf), "term")
        .groupBy("query", "id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return bm25_score_postings(
        tf, n_docs, avgdl, k=k, k1=k1, b=b, group_cols=["query"]
    )


def bm25_score_postings(
    tf: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """BM25 top-``k`` from an ``([group...,] id, dl, term, tf)`` postings
    relation + corpus scalars — THE one copy of the scoring formula,
    shared by the scan path (:func:`bm25_topk`), the pruned
    inverted-index path (``sources/sinks.bm25_over_index``) and the
    batched multi-query path (:func:`bm25_multi_topk`), so all produce
    bit-identical integer-micro scores.

    With ``group_cols`` (e.g. ``["query"]``) document frequency and the
    per-document sum key on the group as well, and the result is the
    skew-safe grouped top-k per group with a ``rank`` column; without,
    the result is the classic ``(id, score_micro)`` TakeOrdered top-k.
    """
    groups = list(group_cols)
    dfreq = tf.groupBy(*groups, "term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    per_term = F.floor(idf * (tfd * F.lit(k1 + 1.0) / denom) * F.lit(1000000.0))
    scored = (
        tf.join(F.broadcast(dfreq), [*groups, "term"])
        .select(*groups, "id", per_term.cast("long").alias("s_micro"))
        .groupBy(*groups, "id")
        .agg(F.sum("s_micro").alias("score_micro"))
    )
    if groups:
        return topk_per_key(
            scored, groups, "score_micro", k, tiebreak_cols=["id"]
        ).select(*groups, "rank", "id", "score_micro")
    return scored.orderBy(F.col("score_micro").desc(), F.col("id").asc()).limit(k)


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """``(id_a, id_b, cos_sim)`` — document pairs with tf-idf cosine ≥
    ``threshold`` over a DF-pruned vocabulary: sparse all-pairs
    similarity by inverted-index join (the token-space complement of
    the dense-embedding kernels in ``similarity.py``).

    Vocabulary pruning IS the semantics here, not an approximation:
    terms with document frequency > ``max_df`` are dropped from every
    vector (classic stopword/boilerplate pruning — they carry the least
    idf weight and ALL the quadratic join cost), so cosines are exact
    over the pruned space and candidate generation is sub-quadratic by
    construction.

    Exactness: weights are integers — ``w = tf · floor(ln(N/df)·1e6)``
    as BIGINT — so dot products and squared norms are exact integer
    sums on both engines; the only floating steps are two correctly-
    rounded ``sqrt`` calls and one division, then ``round(·, 6)``.
    Zero-weight terms (df = N) are dropped from vectors and norms.

    Plan: one token aggregate (map-side combined), one vocabulary-sized
    DF aggregate joined back (AQE sizes the build side), squared norms
    per doc off the weight relation, and ONE inverted-index self-join on
    the term, grouped to (id_a, id_b) dot products. Terms with df = 1
    pair with nothing and skip the join (they still count toward
    norms — they are part of the vector).
    """
    n_docs = df.count()
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_micro = F.floor(
        F.log(F.lit(float(n_docs)) / F.col("df")) * F.lit(1000000.0)
    ).cast("long")
    weights = (
        tf.join(dfreq, "term")
        .filter(F.col("df") <= max_df)
        .select(
            "id",
            "term",
            "df",
            (F.col("tf").cast("long") * idf_micro).alias("w"),
        )
        .filter(F.col("w") > 0)
        .persist()
    )
    norms = weights.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("norm2"))
    joinable = weights.filter(F.col("df") >= 2)
    a, bb = joinable.alias("a"), joinable.alias("b")
    dots = (
        a.join(
            bb,
            (F.col("a.term") == F.col("b.term")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("norm2").alias("na2"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("norm2").alias("nb2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def pmi_top_pairs(
    df: DataFrame, text_col: str, k: int = 30, min_count: int = 5
) -> DataFrame:
    """``(pair, c_ab, pmi_micro)`` — top-``k`` adjacent-token
    collocations by pointwise mutual information, ``ln(p(ab) /
    (p(a)·p(b)))`` — the classic phrase-mining signal (PMI-scored
    bigram merging is how word2vec-era pipelines and tokenizer
    pre-merges find multi-word units).

    ``pmi_micro = floor(ln(c_ab·N / (c_a·c_b)) · 1e6)`` as BIGINT — the
    inner products and counts are exact integers, the single ln/divide
    is reproduced verbatim by the oracle, and ranking happens on the
    integer (total order: pmi desc, pair asc). ``min_count`` suppresses
    the low-frequency PMI explosion (a hapax pair has near-maximal PMI).

    Plan: unigram and bigram counts are each ONE map-side-combined
    aggregate over scan-fused expressions (``zip_with`` bigrams — no
    pos+1 self-join); the PMI join runs on the vocabulary-sized count
    relations (AQE sizes the build sides), and the cut is TakeOrdered,
    never a global sort. Token totals are one scalar aggregate.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    total = int(
        df.select(F.sum(F.size(F.split(F.col(text_col), " "))).alias("t"))
        .collect()[0]["t"]
    )
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    big = (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    ua = uni.select(F.col("w").alias("_wa"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("w").alias("_wb"), F.col("c_w").alias("c_b"))
    pmi = F.floor(
        F.log(
            (F.col("c_ab") * F.lit(total)) / (F.col("c_a") * F.col("c_b"))
        )
        * F.lit(1000000.0)
    ).cast("long")
    return (
        big.withColumn("_wa", F.substring_index(F.col("pair"), " ", 1))
        .withColumn("_wb", F.substring_index(F.col("pair"), " ", -1))
        .join(ua, "_wa")
        .join(ub, "_wb")
        .select("pair", "c_ab", pmi.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), F.col("pair").asc())
        .limit(k)
    )


def shingle_doc_freq(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """``(sh, df, frac)`` — document frequency of distinct word
    ``n``-gram shingles, with ``frac`` = df / corpus size.

    The CCNet/RefinedWeb boilerplate primitive: a line (here, with no
    line structure in the corpus, a word shingle) present in a large
    fraction of documents is template chrome — nav bars, cookie
    banners, licence footers — not content. Plan: shingles build
    map-side (:func:`~spark_ifs_spark.operators.dedup.word_shingles`,
    zero shuffles), ONE hash groupBy counts df (map-side combined;
    shuffle rows are shingle keys, never documents), and the corpus
    size joins in as a broadcast literal-sized aggregate. At 100 TB
    swap the string shingle key for its 60-bit digest — same plan,
    ~16-byte shuffle keys.

    ``sh`` optionally injects a prebuilt ``(id, sh)`` relation that
    must row-equal ``word_shingles(df, id_col, text_col, n)`` (the
    registry's session-staged build); ``df`` then serves only the
    corpus-size count.
    """
    from spark_ifs_spark.operators.dedup import word_shingles

    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    total = df.select(F.count(F.lit(1)).alias("n_docs"))
    return dfreq.crossJoin(F.broadcast(total)).select(
        "sh", "df", (F.col("df") / F.col("n_docs")).alias("frac")
    )


def boilerplate_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_frac: float = 0.02,
    sh: DataFrame | None = None,
) -> DataFrame:
    """``(id, n_shingles, n_boiler, boiler_frac)`` — per-document share
    of distinct shingles that are corpus boilerplate (shingle document
    frequency > ``max_frac`` of the corpus).

    The document-level novelty score that drives template filtering:
    a doc whose shingles are mostly high-DF is chrome, whatever its
    length or stopword profile says. Plan: the shingle relation is
    built ONCE and reused for both the DF aggregate and the per-doc
    rollup — one groupBy(sh), one join back on sh (shingle-keyed, so
    boilerplate skew is bounded by the cap itself: a shingle's join
    fan-out IS its df, already counted), one groupBy(id). Shuffles
    carry (sh) and (id) keys only.

    ``sh`` optionally injects a prebuilt ``(id, sh)`` relation that
    must row-equal ``word_shingles(df, id_col, text_col, n)`` (the
    registry's session-staged build); ``df`` then serves only the
    corpus-size count.
    """
    from spark_ifs_spark.operators.dedup import word_shingles

    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    n_docs = F.broadcast(df.select(F.count(F.lit(1)).alias("n_docs")))
    dfreq = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(n_docs)
        .select("sh", (F.col("df") > F.col("n_docs") * max_frac).alias("is_boiler"))
    )
    return (
        sh.join(dfreq, "sh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
        )
        .select(
            "id",
            "n_shingles",
            "n_boiler",
            (F.col("n_boiler") / F.col("n_shingles")).alias("boiler_frac"),
        )
    )


#: Gopher-style rule thresholds (Rae et al. 2021, Table A1 — adapted to
#: this corpus's scale-free synthetic text; the CONTRACT is the rule
#: set, the constants are tunable).
GOPHER_MIN_WORDS = 16
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WL = 2.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_TOP_WORD_FRAC = 0.20


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_words, ok_word_count, ok_mean_word_len, ok_stopwords,
    ok_top_word, pass_all)`` — the Gopher rule bundle as independent
    boolean flags plus the conjunction, so a pipeline can report WHY a
    document was dropped (rule-level drop rates are the first thing a
    data-quality dashboard shows).

    Rules: word count in [16, 100k]; mean word length in [2, 10];
    ≥2 stopword marker hits; most-frequent word ≤20% of tokens (the
    repetition rule). The first three are pure map-side expressions
    fused into the scan. The top-word rule needs a per-(doc, word)
    count — ONE explode + groupBy keyed on (id, w), map-side combined,
    then ``max_by`` per doc; shuffle rows are (id, word) pairs. At
    100 TB this is the only rule with a shuffle, and its key space is
    per-doc-bounded (docs have bounded distinct words), so no hot keys.
    """
    text = F.col(text_col)
    n_words = F.size(F.split(text, " "))
    mean_wl = (F.length(text) - (n_words - 1)) / n_words
    stop_hits = None
    for w in STOPWORDS:
        c = _count_word(text, w)
        stop_hits = c if stop_hits is None else stop_hits + c

    base = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        ((n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)).alias(
            "ok_word_count"
        ),
        ((mean_wl >= GOPHER_MIN_MEAN_WL) & (mean_wl <= GOPHER_MAX_MEAN_WL)).alias(
            "ok_mean_word_len"
        ),
        (stop_hits >= GOPHER_MIN_STOP_HITS).alias("ok_stopwords"),
    )
    top_frac = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(text, " ")).alias("w"),
        )
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg((F.max("c") / F.sum("c")).alias("top_word_frac"))
    )
    return (
        base.join(top_frac, "id")
        .withColumn("ok_top_word", F.col("top_word_frac") <= GOPHER_MAX_TOP_WORD_FRAC)
        .select(
            "id",
            "n_words",
            "ok_word_count",
            "ok_mean_word_len",
            "ok_stopwords",
            "ok_top_word",
            (
                F.col("ok_word_count")
                & F.col("ok_mean_word_len")
                & F.col("ok_stopwords")
                & F.col("ok_top_word")
            ).alias("pass_all"),
        )
    )


#: Poisson(1) CDF in ppm (floored), k = 0..8 — the multiplicity law of
#: the Poisson bootstrap. Computed ONCE in Python and injected into
#: both engines as literals (the libm-constant-table discipline), so
#: the deterministic multiplicity draw is identical everywhere.
import math as _math

POISSON1_CDF_PPM: tuple[int, ...] = tuple(
    _math.floor(sum(_math.exp(-1) / _math.factorial(j) for j in range(k + 1)) * 1_000_000)
    for k in range(9)
)


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_replicas: int = 64,
    seed: int = 42,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """``(n_replicas, point_mean, ci_lo, ci_hi)`` — mean of
    ``value_col`` with a Poisson-bootstrap confidence interval: every
    (replica, row) gets a deterministic multiplicity ``m ~ Poisson(1)``
    (md5 uniform vs the injected CDF table), each replica's mean is an
    exact integer-sum ratio, and the CI is the exact (lo, hi) quantile
    pair over the ``n_replicas`` means.

    This is THE at-scale bootstrap (Chamandy et al., Google 2012):
    multiplicities are row-local (no sampling coordination, no global
    n), so the whole resampling pass is map-side — one corpus scan
    computing ``n_replicas`` md5 draws per row, partial aggregation
    collapsing to ``n_replicas × partitions`` cells before the one
    bounded shuffle. Replica means and quantiles are rounded to 6
    decimals (the cross-engine interpolation guard).
    """
    from spark_ifs_spark.functions.hashing import md5_int60

    b = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("b")
    rows = df.select(
        F.col(id_col).alias("id"), F.col(value_col).cast("long").alias("v")
    ).select("id", "v", b)
    u = md5_int60(
        F.concat(F.lit(f"boot{seed}:"), F.col("b").cast("string"),
                 F.lit(":"), F.col("id").cast("string"))
    ) % 1_000_000
    # m = |{c in CDF : c <= u}| spelled as a when-sum, NOT
    # size(filter(cdf, c -> c <= u)): Catalyst inlines the md5 draw
    # into the lambda body and higher-order lambdas are interpreted,
    # so the filter spelling evaluated md5+conv once PER CDF ENTRY per
    # (row, replica) — 9 interpreted digests instead of 1 codegen'd
    # one (measured 3.8 s -> 0.6 s at sf0.1; same count, same m).
    m = sum(
        (F.when(F.lit(c) <= u, 1).otherwise(0) for c in POISSON1_CDF_PPM),
        start=F.lit(0),
    )
    reps = (
        rows.select("b", m.alias("m"), "v")
        .groupBy("b")
        .agg(F.sum(F.col("m") * F.col("v")).alias("sv"), F.sum("m").alias("sm"))
        .where(F.col("sm") > 0)
        .select(F.round(F.col("sv").cast("double") / F.col("sm"), 6).alias("mean"))
    )
    point = df.select(
        F.round(
            F.sum(F.col(value_col).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("point_mean")
    )
    ci = reps.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.round(F.expr(f"percentile(mean, {lo!r})"), 6).alias("ci_lo"),
        F.round(F.expr(f"percentile(mean, {hi!r})"), 6).alias("ci_hi"),
    )
    return ci.crossJoin(point).select("n_replicas", "point_mean", "ci_lo", "ci_hi")


def kneser_ney_logprob(
    df: DataFrame, id_col: str, text_col: str, discount: float = 0.75
) -> DataFrame:
    """``(id, n_bigrams, ll_micronats)`` — per-document score under an
    interpolated Kneser-Ney bigram LM, the smoothing KenLM (and hence
    CCNet's actual perplexity filter) uses, upgrading the ML-estimate
    :func:`bigram_logprob`:

        p(w|v) = (c(vw) − d)/c(v·)  +  d·N1+(v·)/c(v·) · N1+(·w)/N1+(··)

    (c(vw) ≥ 1 when scoring the training corpus, so the max(·,0) clip
    is inactive). Every per-occurrence log term is floored to integer
    micronats before summation — the ``bigram_logprob`` determinism
    contract — and the float expression is written with EXPLICIT
    parenthesization mirrored in the oracle so both engines execute
    the identical IEEE sequence.

    Plan: same two corpus scans as ``bigram_logprob``; the three extra
    statistics are computed on the distinct-pair relation: left totals
    and continuation counts as KEYED windows, the total-distinct-pairs
    normalizer as a broadcast scalar (never an empty-partition window —
    distinct bigram TYPES grow with the corpus under Heaps' law, so a
    single-partition pass over them would not survive 100 TB).
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    occ = df.select(F.col(id_col).alias("id"), F.explode(pairs).alias("pair"))
    pair_counts = occ.groupBy("pair").agg(F.count(F.lit(1)).alias("c_pair"))
    left = F.substring_index(F.col("pair"), " ", 1)
    right = F.substring_index(F.col("pair"), " ", -1)
    wl = Window.partitionBy(left)
    wr = Window.partitionBy(right)
    d = float(discount)
    c = F.col("c_pair").cast("double")
    cl = F.sum("c_pair").over(wl).cast("double")
    n1l = F.count(F.lit(1)).over(wl).cast("double")
    n1r = F.count(F.lit(1)).over(wr).cast("double")
    # N1+(..): a SCALAR, not a window — an empty-partition window would
    # funnel the whole distinct-bigram relation (which grows with
    # corpus, not vocabulary) through one task; a broadcast 1-row
    # cross join keeps the plan parallel and the value identical.
    npdf = pair_counts.agg(
        F.count(F.lit(1)).cast("double").alias("_npairs")
    )
    npairs = F.col("_npairs")
    p = ((c - F.lit(d)) / cl) + (((F.lit(d) * n1l) / cl) * (n1r / npairs))
    model = pair_counts.crossJoin(F.broadcast(npdf)).select(
        "pair", F.floor(F.log(p) * 1e6).cast("long").alias("t")
    )
    per_doc = occ.groupBy("id", "pair").agg(F.count(F.lit(1)).alias("k"))
    return (
        per_doc.join(model, "pair")
        .groupBy("id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("t")).alias("ll_micronats"),
        )
    )


#: vowel-group regex for the syllable heuristic (RE2/Java-portable).
SYLLABLE_RE = "[aeiouy]+"

#: sentence-terminal token regex: last char is ., ! or ?
SENTENCE_END_RE = "[.!?]$"


def readability_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, n_words, n_sentences, n_syllables, flesch, fk_grade)`` —
    Flesch reading-ease and Flesch-Kincaid grade level per document
    (Kincaid et al. 1975), the classic readability quality-filter
    features, with the standard deterministic approximations:

    - words = whitespace tokens;
    - sentences = tokens carrying terminal punctuation (``[.!?]$``),
      floored to 1 so unpunctuated fragments still score;
    - syllables(word) = vowel-group count (``[aeiouy]+`` runs), floored
      to 1 per word — the textstat-style heuristic.

        flesch    = 206.835 − 1.015·(W/S) − 84.6·(SY/W)
        fk_grade  = 0.39·(W/S) + 11.8·(SY/W) − 15.59

    Both published at ``round(·, 6)``; the float expressions are
    explicitly parenthesized and mirrored in the oracle so both engines
    execute the identical IEEE sequence.

    Plan: one pure map-side array expression per document — split,
    regexp counts inside a ``transform``/``aggregate`` fold — fused
    into the scan, zero shuffles. At 100 TB this is a projection.
    """
    toks = F.split(F.col(text_col), " ")
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.size(F.filter(toks, lambda w: w.rlike(SENTENCE_END_RE))), F.lit(1)
    )
    syl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.regexp_count(w, F.lit(SYLLABLE_RE)), F.lit(1)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return base.select(
        "id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - (F.lit(1.015) * wps) - (F.lit(84.6) * spw), 6
        ).alias("flesch"),
        F.round(
            (F.lit(0.39) * wps) + (F.lit(11.8) * spw) - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


HEAPS_CHECKPOINTS = 8


def heaps_fit_exprs(J: int = HEAPS_CHECKPOINTS) -> tuple[str, str]:
    """Dialect-shared SQL text computing ``(beta_ppm, lnk_ppm)`` — the
    least-squares Heaps'-law fit ``ln V = ln k + β·ln T`` over ``J``
    checkpoint columns ``t1..tJ`` (cumulative tokens) and ``v1..vJ``
    (cumulative vocabulary) — identical token-for-token in Spark and
    DuckDB so both engines execute the same IEEE sequence. Each ln is
    floored to integer micronats FIRST (the ``bigram_logprob``
    determinism convention), so the regression runs on exact
    micronat-grid doubles."""
    def q(col: str) -> str:
        # greatest(·,1) guards ln(0) on degenerate inputs (corpora with
        # fewer than J docs make the first cut empty): identical text in
        # both engines, a no-op whenever the checkpoint is non-empty
        return (
            f"(CAST(floor(ln(CAST(greatest({col}, 1) AS DOUBLE)) * 1000000.0) AS BIGINT)"
            " / 1000000.0)"
        )

    xs = [q(f"t{j}") for j in range(1, J + 1)]
    ys = [q(f"v{j}") for j in range(1, J + 1)]

    def chain(terms: list[str]) -> str:
        out = terms[0]
        for t in terms[1:]:
            out = f"({out} + {t})"
        return out

    sx = chain(xs)
    sy = chain(ys)
    sxy = chain([f"({x} * {y})" for x, y in zip(xs, ys)])
    sxx = chain([f"({x} * {x})" for x in xs])
    b = f"((({J}.0 * {sxy}) - ({sx} * {sy})) / (({J}.0 * {sxx}) - ({sx} * {sx})))"
    lnk = f"(({sy} - ({b} * {sx})) / {J}.0)"
    beta_ppm = f"CAST(floor(round({b}, 9) * 1000000.0) AS BIGINT)"
    lnk_ppm = f"CAST(floor(round({lnk}, 9) * 1000000.0) AS BIGINT)"
    return beta_ppm, lnk_ppm


def heaps_law_fit(
    df: DataFrame, id_col: str, text_col: str, checkpoints: int = HEAPS_CHECKPOINTS
) -> DataFrame:
    """``(j, n_docs, n_tokens, vocab, beta_ppm, lnk_ppm)`` — Heaps'-law
    vocabulary-growth audit: cumulative distinct-vocabulary size at
    ``checkpoints`` prefixes of the corpus (prefix = ids below
    ``n·j/J``; ``id_col`` must be a dense 0-based sequence) plus the
    least-squares fit of ``ln V = ln k + β·ln T``. Heaps' β is the
    number that says how vocabulary — and everything vocabulary-bounded
    (tokenizer tables, KMV/HLL sketch loads, bigram TYPE relations) —
    grows when the corpus 10×es: the capacity-planning constant every
    SCALE posture note that says "vocabulary-bounded, not
    corpus-bounded" implicitly depends on.

    Plan: the whole curve comes from TWO bounded aggregates — per-term
    FIRST-occurrence ids (one vocabulary-bounded min-aggregate; a term
    is in prefix-j's vocabulary iff its first id is below the cut, so
    no per-checkpoint rescan) and one doc-level conditional-sum pass —
    followed by J-bounded literal-chain arithmetic. Corpus rows are
    read once each; nothing corpus-sized shuffles (the word explode
    partially aggregates map-side onto vocabulary keys).
    """
    J = checkpoints
    nw = F.size(F.split(F.col(text_col), " "))
    base = df.select(F.col(id_col).alias("id"), nw.alias("nw"))
    cnt = base.agg(F.count(F.lit(1)).alias("n"))
    cuts = [F.expr(f"(n * {j}) DIV {J}") for j in range(1, J + 1)]
    toks = base.crossJoin(F.broadcast(cnt)).agg(
        F.max("n").alias("n"),
        *[
            F.sum(F.when(F.col("id") < c, F.col("nw")).otherwise(F.lit(0)))
            .alias(f"t{j}")
            for j, c in zip(range(1, J + 1), cuts)
        ],
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    first = words.groupBy("term").agg(F.min("id").alias("fd"))
    vocab = first.crossJoin(F.broadcast(cnt)).agg(
        *[
            F.sum((F.col("fd") < c).cast("long")).alias(f"v{j}")
            for j, c in zip(range(1, J + 1), cuts)
        ]
    )
    one = toks.crossJoin(vocab)
    beta_ppm, lnk_ppm = heaps_fit_exprs(J)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        F.expr(f"(n * {j}) DIV {J}").alias("n_docs"),
                        F.col(f"t{j}").cast("long").alias("n_tokens"),
                        F.col(f"v{j}").cast("long").alias("vocab"),
                    )
                    for j in range(1, J + 1)
                ]
            )
        ).alias("c"),
        F.expr(beta_ppm).alias("beta_ppm"),
        F.expr(lnk_ppm).alias("lnk_ppm"),
    )
    return rows.select("c.j", "c.n_docs", "c.n_tokens", "c.vocab", "beta_ppm", "lnk_ppm")


def quality_threshold_sweep(
    df: DataFrame, id_col: str, text_col: str, bins: int = 20
) -> DataFrame:
    """``(bin, tau_ppm, n_docs, n_tokens, docs_retained, tokens_retained,
    retained_ppm)`` — the filter-threshold DECISION CURVE for a quality
    score: per score bin, how many documents/tokens the corpus retains
    if everything at or above that bin's threshold is kept. This is the
    plot a pipeline owner reads before picking a classifier cutoff
    (FineWeb-Edu's "threshold 3" decision): token retention vs
    threshold in one relation, on the deterministic
    :func:`quality_score`.

    Plan: the score is a scan-fused projection; ONE ``bins``-bounded
    aggregate absorbs the corpus, and the cumulative-from-the-top sums
    run on ≤ ``bins`` rows (the unpartitioned window is bins-bounded by
    construction, never corpus-bounded). ``tau_ppm`` and
    ``retained_ppm`` are exact integer arithmetic.
    """
    from pyspark.sql import Window

    q = quality_score(df, id_col, text_col)
    b = F.least(
        F.floor(F.round(F.col("quality"), 6) * bins).cast("int"),
        F.lit(bins - 1),
    )
    per = (
        q.select(b.alias("bin"), F.col("n_words"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
        )
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    step = 1_000_000 // bins
    out = per.select(
        "bin",
        (F.col("bin").cast("long") * step).alias("tau_ppm"),
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).alias("docs_retained"),
        F.sum("n_tokens").over(w).alias("tokens_retained"),
    )
    tot = per.agg(F.sum("n_tokens").alias("_t"))
    return out.crossJoin(F.broadcast(tot)).select(
        "bin", "tau_ppm", "n_docs", "n_tokens", "docs_retained",
        "tokens_retained",
        F.expr("(tokens_retained * 1000000) DIV _t").alias("retained_ppm"),
    )
