"""Unigram-LM (SentencePiece-style) tokenizer training — the EM-based
alternative to BPE that real pretraining pipelines choose between
(Kudo 2018, arXiv:1804.10959; SentencePiece's ``--model_type=unigram``).

Algorithm (hard-EM / Viterbi variant — the deterministic, relationally
replayable form):

1. **Candidates**: every substring of length ≤ ``max_piece`` of every
   corpus word, weighted by word frequency; substrings below
   ``min_count`` total weight are dropped, single characters are always
   kept (they guarantee every word stays segmentable and are never
   pruned — exactly SentencePiece's invariant).
2. **Init scores**: ``score(p) = floor(ln(cnt_p / Σcnt) · 1e6)`` —
   integer MICRONATS (the package's exact-integer log convention,
   see ``textstats.bigram_logprob``), so every downstream comparison
   and sum is integer-exact on any engine.
3. **E-step**: per distinct word, the Viterbi segmentation under the
   current scores (DP over end position ``j``; candidate pieces are
   the last ≤ ``max_piece`` characters; ties break to the higher
   accumulated score, then to the LONGER last piece — a total,
   engine-portable order). Usage counts are weighted by word
   frequency.
4. **M-step + prune**: pieces with zero usage die (multi-char), single
   chars are floored at count 1 (they must keep a finite log-prob);
   non-single pieces are pruned to the top ``prune_top`` by
   ``(count DESC, piece ASC)``; scores are recomputed as in (2).
5. Repeat (3)-(4) ``em_rounds`` times; emit the final top
   ``vocab_keep`` pieces with rank, usage count, and score.

Everything corpus-scale happens in :func:`~spark_ifs_spark.operators.
bpe.word_frequencies` (ONE scan + one vocabulary-keyed shuffle; the
Zipf head collapses in the map-side combiner). All EM rounds run on
the *word-frequency relation* — bounded by vocabulary, not corpus —
the same fold surface as ``bpe_train``:

- **in-core path** (vocabulary fits ``INCORE_VOCAB_BUDGET``): the
  exact EM recurrence on plain Python ints/floats — identical math,
  zero scheduling overhead (the broadcast-small-side rule; curated
  corpora and every test SF land here).
- **distributed path**: candidates explode map-side from the word
  relation (one aggregate), scores stay a DataFrame; each E-step is
  ONE Arrow ``mapInPandas`` over the word relation with the
  vocabulary-sized score table broadcast as a Python dict (a nested
  whole-stage-codegen DP expression would be janino-compile-bound —
  the PQ-kernel lesson), and each M-step is one piece-keyed aggregate.
  Per-round cost: one scan of the word relation + one vocab-sized
  shuffle; rounds are a short driver loop exactly like BPE's merge
  rounds. The score broadcast is budget-gated: a real 1M-piece vocab
  is ~30 MB of dict — comfortably broadcastable; past the budget we
  raise with the partitioned-Viterbi escape hatch documented rather
  than silently degrade.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.operators.bpe import word_frequencies
from spark_ifs_spark.operators.gates import collect_within

#: schema of the trained-vocabulary relation
VOCAB_SCHEMA = "rank int, piece string, n_tokens long, score_micro long"

#: words longer than this are excluded from EM (and from the oracle) —
#: keeps the relational DP unroll bounded; real corpora route such
#: tokens (URLs, DNA, base64) to byte-fallback anyway.
MAX_WORD_LEN = 12


def _score_micro(cnt: int, total: int) -> int:
    """floor(ln(cnt/total)·1e6) — integer micronats."""
    return math.floor(math.log(cnt / total) * 1e6)


def _viterbi(word: str, scores: dict[str, int], max_piece: int) -> list[str]:
    """Best segmentation of ``word`` under integer ``scores``.

    dp[j] = best accumulated score for the prefix of length j; ties
    prefer the LONGER last piece (total order: (acc, piece_len) max).
    Single characters are always scored, so dp is always feasible — the
    guard below only protects against corpora whose E-step sees a
    character the candidate pass never produced (impossible by
    construction, kept as a hard error rather than silent skip).
    """
    n = len(word)
    acc: list[int | None] = [0] + [None] * n
    back: list[int] = [0] * (n + 1)
    for j in range(1, n + 1):
        best: tuple[int, int] | None = None
        for piece_len in range(1, min(max_piece, j) + 1):
            i = j - piece_len
            if acc[i] is None:
                continue
            s = scores.get(word[i:j])
            if s is None:
                continue
            cand = (acc[i] + s, piece_len)
            if best is None or cand > best:
                best = cand
        if best is None:
            raise ValueError(f"unsegmentable word {word!r}")
        acc[j], back[j] = best[0], best[1]
    pieces = []
    pos = n
    while pos > 0:
        pieces.append(word[pos - back[pos] : pos])
        pos -= back[pos]
    return pieces


def _em_incore(
    wf: list[tuple[str, int]],
    max_piece: int,
    min_count: int,
    em_rounds: int,
    prune_top: int,
    vocab_keep: int,
) -> list[tuple[int, str, int, int]]:
    """The exact EM recurrence on the collected word-frequency relation."""
    words, singles = _prep_words(wf)
    vocab = _em_vocab(words, singles, max_piece, min_count, em_rounds, prune_top)
    return _vocab_head(vocab, vocab_keep)


def _vocab_head(vocab: dict[str, int], vocab_keep: int) -> list[tuple[int, str, int, int]]:
    """The top ``vocab_keep`` pieces of a trained vocabulary as
    ``(rank, piece, n_tokens, score_micro)`` rows."""
    total = sum(vocab.values())
    ranked = sorted(vocab.items(), key=lambda t: (-t[1], t[0]))[:vocab_keep]
    return [
        (r + 1, p, n, _score_micro(n, total)) for r, (p, n) in enumerate(ranked)
    ]


def _prep_words(wf):
    words = [(w, c) for w, c in wf if len(w) <= MAX_WORD_LEN]
    singles = sorted({ch for w, _ in words for ch in w})
    return words, singles


def _usage_pass(
    words: list[tuple[str, int]], vocab: dict[str, int], max_piece: int
) -> dict[str, int]:
    """One Viterbi E-step under ``vocab``'s scores: weighted piece usage."""
    total = sum(vocab.values())
    scores = {p: _score_micro(n, total) for p, n in vocab.items()}
    usage: dict[str, int] = {}
    for w, c in words:
        for p in _viterbi(w, scores, max_piece):
            usage[p] = usage.get(p, 0) + c
    return usage


def _em_vocab(
    words: list[tuple[str, int]],
    singles: list[str],
    max_piece: int,
    min_count: int,
    em_rounds: int,
    prune_top: int,
) -> dict[str, int]:
    """EM loop; returns the final (piece -> count) vocabulary."""
    cand: dict[str, int] = {}
    for w, c in words:
        for i in range(len(w)):
            for piece_len in range(1, min(max_piece, len(w) - i) + 1):
                p = w[i : i + piece_len]
                cand[p] = cand.get(p, 0) + c
    vocab = {p: n for p, n in cand.items() if n >= min_count or len(p) == 1}

    for _ in range(em_rounds):
        usage = _usage_pass(words, vocab, max_piece)
        vocab = {p: max(usage.get(p, 0), 1) for p in singles}
        multi = sorted(
            ((p, n) for p, n in usage.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:prune_top]
        vocab.update(dict(multi))
    return vocab


#: driver-side budget for collecting the word-frequency relation on the
#: in-core path, in distinct words — read at call time by every
#: unigram operator here and by ``bpe.bpe_train``: at or under it the
#: relation is collected and the folds run on the driver, past it the
#: distributed plans run (at 0, for any non-empty corpus).
INCORE_VOCAB_BUDGET = 1_000_000


def _incore_state(
    wf: DataFrame, max_piece: int, min_count: int, em_rounds: int, prune_top: int
) -> tuple | None:
    """The in-core EM state ``(words, singles, vocab)`` of the
    word-frequency relation ``wf``, or None past
    :data:`INCORE_VOCAB_BUDGET` — one job decides the path AND fetches
    the words when they fit."""
    head = collect_within(wf, INCORE_VOCAB_BUDGET)
    if head is None:
        return None
    words, singles = _prep_words([(r["w"], r["c"]) for r in head])
    return words, singles, _em_vocab(
        words, singles, max_piece, min_count, em_rounds, prune_top
    )


def unigram_train(
    df: DataFrame,
    text_col: str,
    max_piece: int = 4,
    min_count: int = 5,
    em_rounds: int = 2,
    prune_top: int = 64,
    vocab_keep: int = 48,
    trained: tuple | None = None,
) -> DataFrame:
    """``(rank, piece, n_tokens, score_micro)`` — the trained unigram-LM
    vocabulary head (top ``vocab_keep`` pieces by final usage).

    Cost-based like :func:`~spark_ifs_spark.operators.bpe.bpe_train`:
    collected-EM when the vocabulary fits the budget, distributed EM
    (mapInPandas Viterbi + DataFrame M-steps) past it. Both paths run
    the identical integer recurrence (asserted by tests).

    ``trained`` optionally injects a precomputed in-core EM state
    ``(words, singles, vocab)`` — exactly what this function derives
    from the collected word-frequency relation at the same knobs (the
    registry's session memo uses it); only the output tail runs.
    """
    if trained is None:
        wf = word_frequencies(df, text_col)
        trained = _incore_state(wf, max_piece, min_count, em_rounds, prune_top)
        if trained is None:
            return _unigram_distributed(
                wf, max_piece, min_count, em_rounds, prune_top, vocab_keep
            )
    _words, _singles, vocab = trained
    return df.sparkSession.createDataFrame(_vocab_head(vocab, vocab_keep), VOCAB_SCHEMA)


def unigram_token_counts(
    df: DataFrame,
    text_col: str,
    max_piece: int = 4,
    min_count: int = 5,
    em_rounds: int = 2,
    prune_top: int = 64,
    trained: tuple | None = None,
) -> DataFrame:
    """``(rank, piece, n_tokens)`` — token counts of ENCODING the corpus
    with the trained vocabulary: one more Viterbi pass under the final
    scores, i.e. exactly what the deployed tokenizer emits. The
    unigram-family complement of ``bpe_token_counts``.

    By linearity the encode pass runs on the word-frequency relation
    (count(word) x pieces(word)), never re-tokenizing each document —
    the same reason training scales; a per-document token stream is one
    ``encode_words`` join away when a pipeline needs it.

    ``trained`` injects a precomputed in-core EM state (the
    ``unigram_train`` contract).
    """
    spark = df.sparkSession
    if trained is None:
        wf = word_frequencies(df, text_col)
        trained = _incore_state(wf, max_piece, min_count, em_rounds, prune_top)
        if trained is None:
            return _unigram_distributed(
                wf, max_piece, min_count, em_rounds, prune_top,
                vocab_keep=0, encode=True,
            )
    words, _singles, vocab = trained
    usage = _usage_pass(words, vocab, max_piece)
    ranked = sorted(usage.items(), key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(
        [(r + 1, p, n) for r, (p, n) in enumerate(ranked)],
        "rank int, piece string, n_tokens long",
    )


#: ceiling for the per-round score-table broadcast on the distributed
#: path: 5M pieces ≈ 150 MB of Python dict — the same order as
#: Spark's own broadcast-join threshold headroom on a 4 GB executor.
SCORE_BROADCAST_BUDGET = 5_000_000


def _words_df(wf: DataFrame) -> DataFrame:
    return wf.where(F.length("w") <= MAX_WORD_LEN).persist()


def _unigram_distributed(
    wf: DataFrame,
    max_piece: int,
    min_count: int,
    em_rounds: int,
    prune_top: int,
    vocab_keep: int,
    encode: bool = False,
    fertility: bool = False,
    pieces: bool = False,
) -> DataFrame:
    """Distributed EM: the word relation never leaves the cluster; each
    round broadcasts the vocabulary-sized score dict and aggregates
    usage counts back.  See module docstring for the plan shape."""
    import pandas as pd

    spark = wf.sparkSession
    words = _words_df(wf)

    # candidates: map-side substring explosion, one piece-keyed aggregate
    subs = F.expr(
        f"""flatten(transform(sequence(0, length(w) - 1), i ->
              transform(sequence(1, least({max_piece}, length(w) - i)), l ->
                substring(w, i + 1, l))))"""
    )
    cand = (
        words.select(F.explode(subs).alias("piece"), F.col("c"))
        .groupBy("piece")
        .agg(F.sum("c").alias("cnt"))
        .where((F.col("cnt") >= min_count) | (F.length("piece") == 1))
    )
    singles = [
        r["piece"] for r in cand.where(F.length("piece") == 1).collect()
    ]
    vocab = cand  # (piece, cnt)

    def _usage_df(voc: DataFrame) -> DataFrame:
        """One distributed E-step: broadcast voc's scores, Viterbi-count."""
        total = voc.agg(F.sum("cnt")).first()[0]
        score_rows = voc.select(
            "piece",
            F.floor(F.log(F.col("cnt").cast("double") / F.lit(float(total))) * 1e6)
            .cast("long")
            .alias("s"),
        ).collect()
        if len(score_rows) > SCORE_BROADCAST_BUDGET:
            raise ValueError(
                f"unigram vocab {len(score_rows)} exceeds the score-broadcast "
                f"budget {SCORE_BROADCAST_BUDGET}; shard the Viterbi by word "
                "prefix (scores partition cleanly by piece prefix) before raising it"
            )
        scores_b = spark.sparkContext.broadcast(
            {r["piece"]: r["s"] for r in score_rows}
        )

        def e_step(batches, _scores=scores_b, _mp=max_piece):
            for pdf in batches:
                out: dict[str, int] = {}
                sc = _scores.value
                for w, c in zip(pdf["w"], pdf["c"]):
                    for p in _viterbi(w, sc, _mp):
                        out[p] = out.get(p, 0) + int(c)
                yield pd.DataFrame(
                    {"piece": list(out), "cnt": list(out.values())}
                )

        return (
            words.mapInPandas(e_step, "piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
        )

    for _ in range(em_rounds):
        usage = _usage_df(vocab)
        single_df = spark.createDataFrame([(p,) for p in singles], "piece string")
        smoothed = single_df.join(usage, "piece", "left").select(
            "piece", F.greatest(F.coalesce(F.col("cnt"), F.lit(0)), F.lit(1)).alias("cnt")
        )
        multi = (
            usage.where(F.length("piece") > 1)
            .orderBy(F.col("cnt").desc(), F.col("piece").asc())
            .limit(prune_top)
        )
        prev = vocab
        vocab = smoothed.unionByName(multi).persist()
        vocab.count()  # materialize the new cache BEFORE dropping the
        if prev is not cand:  # old one it was derived from
            prev.unpersist()

    from pyspark.sql import Window

    def _finish(out: DataFrame) -> DataFrame:
        # Materialize the (bounded) result BEFORE dropping the caches it
        # was computed from, then release them — otherwise every
        # distributed unigram call leaves `words` and the final round's
        # `vocab` persisted in executor storage for the session's life.
        # localCheckpoint truncates lineage, so the checkpoint blocks
        # themselves are ContextCleaner-collected once the result is
        # unreferenced (a bare persist never is).
        out = out.localCheckpoint(eager=True)
        words.unpersist()
        if vocab is not cand:
            vocab.unpersist()
        return out

    rk = Window.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    if fertility or pieces:
        # per-word piece counts (fertility) or ordered piece sequences
        # (pieces) under the FINAL scores: same E-step machinery with a
        # different emit shape
        total = vocab.agg(F.sum("cnt")).first()[0]
        score_rows = vocab.select(
            "piece",
            F.floor(F.log(F.col("cnt").cast("double") / F.lit(float(total))) * 1e6)
            .cast("long")
            .alias("s"),
        ).collect()
        scores_b = spark.sparkContext.broadcast(
            {r["piece"]: r["s"] for r in score_rows}
        )

        if pieces:

            def p_step(batches, _scores=scores_b, _mp=max_piece):
                for pdf in batches:
                    sc = _scores.value
                    ws, seqs, ps = [], [], []
                    for w in pdf["w"]:
                        segs = _viterbi(w, sc, _mp)  # last piece first
                        n = len(segs)
                        for i, piece in enumerate(segs):
                            ws.append(w)
                            seqs.append(n - i)
                            ps.append(piece)
                    yield pd.DataFrame({"w": ws, "seq": seqs, "piece": ps})

            return _finish(
                words.mapInPandas(p_step, "w string, seq int, piece string")
            )

        def k_step(batches, _scores=scores_b, _mp=max_piece):
            for pdf in batches:
                sc = _scores.value
                yield pd.DataFrame(
                    {
                        "w": pdf["w"],
                        "k": [len(_viterbi(w, sc, _mp)) for w in pdf["w"]],
                    }
                )

        return _finish(words.mapInPandas(k_step, "w string, k long"))
    if encode:
        # deploy-time encode: one more E-step under the FINAL scores,
        # ranked usage (all used pieces — already vocabulary-bounded)
        return _finish(
            _usage_df(vocab).select(
                F.row_number().over(rk).alias("rank"),
                "piece",
                F.col("cnt").alias("n_tokens"),
            )
        )
    total = vocab.agg(F.sum("cnt")).first()[0]
    return _finish(
        vocab.select(
            F.row_number().over(rk).alias("rank"),
            "piece",
            F.col("cnt").alias("n_tokens"),
            F.floor(F.log(F.col("cnt").cast("double") / F.lit(float(total))) * 1e6)
            .cast("long")
            .alias("score_micro"),
        )
        .where(F.col("rank") <= vocab_keep)
    )


def tokenizer_fertility(
    df: DataFrame,
    source_col: str,
    text_col: str,
    max_piece: int = 4,
    min_count: int = 5,
    em_rounds: int = 2,
    prune_top: int = 64,
    trained: tuple | None = None,
) -> DataFrame:
    """``(source, n_words, n_tokens, n_chars, tokens_per_word_ppm,
    chars_per_token_ppm)`` — tokenizer FERTILITY by corpus domain: how
    many pieces the trained unigram vocab spends per word, and how many
    characters each token carries, per source. The comparison metric
    tokenizer teams actually use to pick vocabularies (high fertility
    on a domain = the vocab under-serves it).

    Shape: one corpus scan for (source, word) counts; the trained
    pieces-per-word mapping is vocabulary-bounded and joins back
    broadcast; all ratios are integer ppm (floor), so the relation is
    engine-exact. Words over ``MAX_WORD_LEN`` are excluded on both
    sides, consistent with training.
    """
    spark = df.sparkSession
    wsrc = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where((F.col("w") != "") & (F.length("w") <= MAX_WORD_LEN))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if trained is None:
        wf = word_frequencies(df, text_col)
        trained = _incore_state(wf, max_piece, min_count, em_rounds, prune_top)
    if trained is not None:
        words, _singles, vocab = trained
        total = sum(vocab.values())
        scores = {p: _score_micro(n, total) for p, n in vocab.items()}
        np_rows = [(w, len(_viterbi(w, scores, max_piece))) for w, _ in words]
        np_df = spark.createDataFrame(np_rows, "w string, k long")
    else:
        np_df = _unigram_distributed(
            wf, max_piece, min_count, em_rounds, prune_top,
            vocab_keep=0, fertility=True,
        )
    per = wsrc.join(F.broadcast(np_df), "w").groupBy("source").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.col("k")).alias("n_tokens"),
        F.sum(F.col("c") * F.length("w")).alias("n_chars"),
    )
    return per.select(
        "source",
        "n_words",
        "n_tokens",
        "n_chars",
        F.floor(F.col("n_tokens") * 1_000_000 / F.col("n_words"))
        .cast("long")
        .alias("tokens_per_word_ppm"),
        F.floor(F.col("n_chars") * 1_000_000 / F.col("n_tokens"))
        .cast("long")
        .alias("chars_per_token_ppm"),
    )


#: fingerprint modulus — keeps per-doc sums of hashed-token terms well
#: inside int64 (1e9 × 1e5 tokens/doc)
FP_MOD = 1_000_000_007


def unigram_doc_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_piece: int = 4,
    min_count: int = 5,
    em_rounds: int = 2,
    prune_top: int = 64,
    trained: tuple | None = None,
) -> DataFrame:
    """``(doc_id, n_tokens, fp)`` — the per-document TOKEN STREAM under
    the trained unigram vocab, gated by an order-sensitive fingerprint:
    each token contributes ``md5_int60(piece @ word_pos # seq) mod
    FP_MOD`` and ``fp`` is the per-doc sum, so any reordering, split,
    or merge of pieces changes the value. This is what
    ``unigram_token_counts`` (counts only) cannot prove: that the
    deployed encode emits the right pieces in the right places.

    Plan: documents explode to (doc, 1-based word position, word) —
    map-side; the per-word piece SEQUENCE relation ``(w, seq, piece)``
    is vocabulary-bounded and joins back broadcast; one doc-keyed
    aggregate finishes. Words over ``MAX_WORD_LEN`` are excluded on
    both sides (byte-fallback territory), consistent with training.
    """
    from spark_ifs_spark.functions.hashing import md5_int60

    spark = df.sparkSession
    if trained is None:
        wf = word_frequencies(df, text_col)
        trained = _incore_state(wf, max_piece, min_count, em_rounds, prune_top)
    if trained is not None:
        words, _singles, vocab = trained
        total = sum(vocab.values())
        scores = {p: _score_micro(n, total) for p, n in vocab.items()}
        rows = []
        for w, _ in words:
            pieces = _viterbi(w, scores, max_piece)  # backtrace order: last->first
            n = len(pieces)
            rows.extend((w, n - i, p) for i, p in enumerate(pieces))
        pieces_df = spark.createDataFrame(rows, "w string, seq int, piece string")
    else:
        pieces_df = _unigram_distributed(
            wf, max_piece, min_count, em_rounds, prune_top,
            vocab_keep=0, pieces=True,
        )
    docw = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "w"),
        )
        .where((F.col("w") != "") & (F.length("w") <= MAX_WORD_LEN))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    toks = docw.join(F.broadcast(pieces_df), "w")
    contrib = (
        md5_int60(
            F.concat(
                F.col("piece"), F.lit("@"), F.col("pos").cast("string"),
                F.lit("#"), F.col("seq").cast("string"),
            )
        )
        % FP_MOD
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(contrib).alias("fp"),
    )


def tokenizer_compare(
    df: DataFrame,
    source_col: str,
    text_col: str,
    n_merges: int = 5,
    max_piece: int = 4,
    min_count: int = 5,
    em_rounds: int = 2,
    prune_top: int = 64,
    trained: tuple | None = None,
) -> DataFrame:
    """``(source, n_words, uni_tokens, bpe_tokens,
    uni_tokens_per_word_ppm, bpe_tokens_per_word_ppm)`` — fertility of
    the trained UNIGRAM vocabulary vs the trained BPE merge list on the
    same corpus, per domain: the comparison tokenizer teams actually
    run when choosing between the two algorithms (Bostrom & Durrett
    2020). A domain where BPE fertility beats unigram (or vice versa)
    is under-served by the other vocabulary.

    Both tokenizers train on the SAME filtered word-frequency relation
    (words over ``MAX_WORD_LEN`` excluded — the unigram training
    convention, applied uniformly so both vocabularies see the same
    word population; note ``bpe_train`` alone trains unfiltered).

    Plan: ONE corpus scan builds the (source, word) counts; the word-
    frequency relation derives from it (no second pass); both
    trainings and the per-word token counts run on the vocabulary-
    bounded relation (driver in-core under ``INCORE_VOCAB_BUDGET``,
    distributed EM / distributed merge loop beyond it); the two
    pieces-per-word maps join back broadcast. Ratios are integer ppm
    (floor) — engine-exact.
    """
    from spark_ifs_spark.operators.bpe import (
        _bpe_distributed,
        _bpe_incore,
        _merge_incore,
        apply_merges_expr,
    )

    spark = df.sparkSession
    wsrc = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where((F.col("w") != "") & (F.length("w") <= MAX_WORD_LEN))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wf = wsrc.groupBy("w").agg(F.sum("c").alias("c"))
    # an injected EM state is valid here even though this wf filters
    # length BEFORE aggregating: the filter only drops whole words, so
    # counts of surviving words are identical to the unfiltered
    # relation's, and _prep_words applies the same filter — the same
    # (words, vocab) either way (EM/BPE folds are order-insensitive)
    if trained is None:
        trained = _incore_state(wf, max_piece, min_count, em_rounds, prune_top)
    if trained is not None:
        words, _singles, vocab = trained
        total = sum(vocab.values())
        scores = {p: _score_micro(n, total) for p, n in vocab.items()}
        merges = [(x, y) for _, x, y, _ in _bpe_incore(words, n_merges)]
        rows = []
        for w, _ in words:
            syms = list(w)
            for x, y in merges:
                syms = _merge_incore(syms, x, y)
            rows.append((w, len(_viterbi(w, scores, max_piece)), len(syms)))
        k_df = spark.createDataFrame(rows, "w string, uk long, bk long")
    else:
        uni = _unigram_distributed(
            wf, max_piece, min_count, em_rounds, prune_top,
            vocab_keep=0, fertility=True,
        ).withColumnRenamed("k", "uk")
        merges = [(x, y) for _, x, y, _ in _bpe_distributed(wf, n_merges)]
        bpe_k = wf.select(
            "w",
            F.size(apply_merges_expr(F.split("w", ""), merges))
            .cast("long")
            .alias("bk"),
        )
        k_df = uni.join(bpe_k, "w")
    per = wsrc.join(F.broadcast(k_df), "w").groupBy("source").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.col("c") * F.col("uk")).alias("uni_tokens"),
        F.sum(F.col("c") * F.col("bk")).alias("bpe_tokens"),
    )
    return per.select(
        "source",
        "n_words",
        "uni_tokens",
        "bpe_tokens",
        F.floor(F.col("uni_tokens") * 1_000_000 / F.col("n_words"))
        .cast("long")
        .alias("uni_tokens_per_word_ppm"),
        F.floor(F.col("bpe_tokens") * 1_000_000 / F.col("n_words"))
        .cast("long")
        .alias("bpe_tokens_per_word_ppm"),
    )
