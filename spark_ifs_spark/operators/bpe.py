"""BPE tokenizer training over a corpus — vocabulary learning as a
pipeline stage.

The classic byte-pair-encoding trainer (Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL'16; the
algorithm behind GPT-2/LLaMA tokenizer vocabularies): start from
characters, repeatedly merge the most frequent adjacent symbol pair.

Spark-first shape — the corpus is touched ONCE:

1. :func:`word_frequencies` folds the corpus into a ``(word, count)``
   relation (one map-combined aggregate). This is the only pass whose
   cost scales with corpus bytes; it is how real trainers (HF
   ``tokenizers``) scale too — merges are counted over the word
   *vocabulary* weighted by frequency, not over raw text.
2. Every merge round then runs on the vocabulary relation only:
   adjacent-pair counts via a ``zip_with`` of the symbol array against
   its own tail (map-side, no position self-join), one
   vocabulary-bounded aggregate, a ``min(struct(-n, x, y))`` argbest
   (no sort), and a map-side sequential fold (:func:`merge_pair_expr`)
   that rewrites the symbol arrays — zero extra shuffles.

Cost-based strategy, same house pattern as the selectors: when the
vocabulary fits ``unigram.INCORE_VOCAB_BUDGET`` the word table is collected
and the merge loop runs as the classic driver dict algorithm (exact
reference semantics, no per-round job overhead); past the budget the
distributed per-round plan above is the default. Both paths are pinned
to agree in ``tests/test_bpe.py``.

Merge semantics everywhere are left-to-right non-overlapping (the BPE
standard): in ``a a a a`` merging ``(a,a)`` yields ``aa aa``. The
distributed fold implements exactly that; the DuckDB oracle replicates
it declaratively with a run-parity rule over window functions (a
candidate position merges iff its offset from the start of its run of
consecutive candidates is even — equivalent to the sequential fold).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.operators.gates import collect_within

#: output schema of bpe_train
MERGES_SCHEMA = "rank int, x string, y string, n long"


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """``(w, c)`` — distinct whitespace words with occurrence counts.
    The only corpus-scale pass of BPE training."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def merge_pair_expr(syms: Column, x: str, y: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent ``(x, y)`` into
    ``x||y`` over a symbol array — one map-side ``aggregate`` fold, the
    exact sequential BPE semantics (handles ``x == y`` runs correctly).

    Uses ``''`` as the no-pending sentinel; symbols are never empty
    (word_frequencies drops empty words and characters are non-empty).
    """

    def step(acc: Column, sym: Column) -> Column:
        return (
            F.when(
                acc["pend"] == "",
                F.struct(acc["out"].alias("out"), sym.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(x)) & (sym == F.lit(y)),
                F.struct(
                    F.array_append(acc["out"], F.lit(x + y)).alias("out"),
                    F.lit("").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["out"], acc["pend"]).alias("out"),
                    sym.alias("pend"),
                )
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["pend"] == "", acc["out"]).otherwise(
            F.array_append(acc["out"], acc["pend"])
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("pend")
    )
    return F.aggregate(syms, init, step, finish)


def pair_counts(syms_df: DataFrame) -> DataFrame:
    """``(x, y, n)`` — adjacent symbol pairs weighted by word count,
    from a ``(w, c, s)`` relation. The pair build is a map-side
    ``zip_with`` of ``s`` against its own tail; the aggregate key space
    is vocabulary-bounded."""
    s = F.col("s")
    pairs = F.zip_with(
        F.slice(s, 1, F.size(s) - 1),
        F.slice(s, 2, F.size(s) - 1),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )
    return (
        syms_df.select(F.col("c"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("c").alias("n"))
    )


def _merge_incore(syms: list[str], x: str, y: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_incore(
    words: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Classic driver BPE over a collected word-frequency table."""
    vocab: list[tuple[list[str], int]] = [(list(w), c) for w, c in words]
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        pc: Counter = Counter()
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (x, y), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, x, y, int(n)))
        vocab = [(_merge_incore(s, x, y), c) for s, c in vocab]
    return merges


def _bpe_distributed(
    wf: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Per-round distributed merge loop over the vocabulary relation.

    Symbol arrays are re-materialized every few rounds (parquet
    round-trip — see ``operators/graph.py`` for why not
    ``localCheckpoint``) so the nested-fold expression depth stays
    bounded for large ``n_merges``.
    """
    import shutil
    import tempfile

    spark = wf.sparkSession
    base = tempfile.mkdtemp(prefix="spark_ifs_bpe_")
    try:
        cur = wf.select("w", "c", F.split("w", "").alias("s"))
        merges: list[tuple[int, str, str, int]] = []
        for r in range(n_merges):
            best = pair_counts(cur).agg(
                F.min(
                    F.struct((-F.col("n")).alias("nn"), "x", "y")
                ).alias("b")
            ).first()["b"]
            if best is None or best["nn"] is None:
                break
            x, y, n = best["x"], best["y"], -best["nn"]
            merges.append((r, x, y, int(n)))
            cur = cur.withColumn("s", merge_pair_expr(F.col("s"), x, y))
            if (r + 1) % 8 == 0 and r + 1 < n_merges:
                path = f"{base}/round_{r}"
                cur.write.mode("overwrite").parquet(path)
                cur = spark.read.parquet(path)
        return merges
    finally:
        shutil.rmtree(base, ignore_errors=True)


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
) -> DataFrame:
    """``(rank, x, y, n)`` — the first ``n_merges`` BPE merges learned
    from the corpus, in merge order. ``n`` is the weighted pair count
    at merge time; ties break to the lexicographically smallest pair
    (deterministic across engines and cluster sizes).

    May return fewer than ``n_merges`` rows if the vocabulary runs out
    of adjacent pairs. The in-core gate is the tokenizers' shared
    ``unigram.INCORE_VOCAB_BUDGET`` (0 forces the distributed path for
    any non-empty corpus).
    """
    from spark_ifs_spark.operators import unigram

    if n_merges <= 0:
        raise ValueError("n_merges must be > 0")
    spark = df.sparkSession
    wf = word_frequencies(df, text_col)
    head = collect_within(wf, unigram.INCORE_VOCAB_BUDGET)
    if head is not None:
        merges = _bpe_incore([(r["w"], r["c"]) for r in head], n_merges)
        return spark.createDataFrame(merges, MERGES_SCHEMA)
    return spark.createDataFrame(_bpe_distributed(wf, n_merges), MERGES_SCHEMA)


def apply_merges_expr(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Symbol array with ``merges`` applied in order — nested
    :func:`merge_pair_expr` folds, all map-side. Expression depth grows
    with ``len(merges)``; past ~50 merges apply in batches with a
    re-materialization between (see ``_bpe_distributed``)."""
    out = syms
    for x, y in merges:
        out = merge_pair_expr(out, x, y)
    return out


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """``(id, n_tokens)`` — per-document token counts under a learned
    merge list (the apply side of BPE: what the trained tokenizer does
    to the corpus).

    Plan: merges are applied once per *distinct word* (the vocabulary
    relation), not once per occurrence — the corpus-side work is one
    word explode plus a vocabulary join and a doc-keyed sum. At 100 TB
    the vocab relation is millions of rows while occurrences are
    trillions, so encoding cost is dominated by the scan, as it should
    be.
    """
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    vocab = (
        toks.select("w")
        .distinct()
        .select(
            "w",
            F.size(apply_merges_expr(F.split("w", ""), merges)).alias(
                "_ntok"
            ),
        )
        # NO materialization barrier here, deliberately: the vocab side
        # feeds the join's BroadcastExchange (or a shuffle Exchange for
        # a giant vocab), and an Exchange materializes its input — the
        # merge fold therefore already evaluates exactly once per
        # DISTINCT word (asserted by the plan test). A first()-barrier
        # variant was profiled at sf0.1 and is ~6x SLOWER: wrapping the
        # giant fold expression in an extra aggregate re-generates and
        # re-compiles the stage per query for no added correctness.
    )
    return (
        toks.join(vocab, "w")
        .groupBy("id")
        .agg(F.sum("_ntok").alias("n_tokens"))
    )
