"""Streaming corpus-profile maintenance: fold arriving documents into
a per-source profile — doc/char/token counts plus a KMV
distinct-vocabulary sketch — as a :class:`~spark_ifs_spark.streaming.
_pointer.PointerIndex` (the pointer-commit contract, stated once in
``streaming/_pointer.py``).

Why this shape works: every statistic in the profile is MERGEABLE —
counts by addition, vocabulary by KMV sketch union
(``operators/sketches.py:kmv_sketch``: the k smallest hashes of a
union are contained in the union of per-part k-smallest sets, pinned
in ``test_sketches.py``). So the APPEND step never reads the corpus
at all: each micro-batch writes only its own bounded partial
(per-source count row + ≤ k sketch rows per source) into
``counts/batch=<id>`` and ``kmv/batch=<id>``, and the READ step folds
the committed partials — the profile of a 100 TB corpus is maintained
by touching only the arriving bytes, with reads over
(batches × sources × k) rows, never documents. ``compact_profile``
writes that same fold as the new version's base (counts summed to one
row per source, sketches re-top-k'd to ≤ k rows per source — the KMV
merge IS the compaction).

No oracle entry — streaming-only surface (the package convention);
batch≡stream parity (exact, thanks to mergeability), replay, crash
windows and compaction are pinned in ``tests/test_streaming_profile.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import PointerIndex


def _index(profile_path: str) -> PointerIndex:
    return PointerIndex(profile_path, "profile-v", "profile")


def _batch_partial(
    batch: DataFrame, text_col: str, source_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """(counts, kmv) bounded partials for one micro-batch."""
    from spark_ifs_spark.operators.sketches import kmv_sketch

    # NULL text is folded as the empty string: without the coalesce,
    # size(split(NULL)) is -1 (DECREMENTING n_tokens) and the KMV
    # explode drops the row, so an all-NULL source would vanish from
    # the inner-joined profile. A token is a NON-EMPTY split element:
    # split('', ' ') yields [''] and split('a  b', ' ') yields
    # ['a', '', 'b'] — counting raw elements would admit phantom empty
    # tokens the term relation (which drops '' before sketching)
    # never sees, so n_tokens and the vocabulary would disagree on
    # what a token is. Both sides share the x != '' convention.
    docs = batch.select(
        F.col(source_col).alias("source"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(
            F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        ).cast("long").alias("n_tokens"),
    )
    terms = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    sketch = kmv_sketch(terms, ["source"], "term", k=k).select("source", "h")
    return counts, sketch


def streaming_profile(
    stream: DataFrame,
    text_col: str,
    source_col: str,
    profile_path: str,
    checkpoint: str,
    k: int = 128,
):
    """Maintain the per-source corpus profile over a document stream.
    Append-only: each batch writes its own bounded partials; nothing
    reads the accumulated state. Returns the StreamingQuery."""
    index = _index(profile_path)

    def _append(batch: DataFrame, batch_id: int, state: dict) -> None:
        vdir = os.path.join(index.path, state["dir"])
        for rel, part in zip(
            ("counts", "kmv"), _batch_partial(batch, text_col, source_col, k)
        ):
            part.write.mode("overwrite").parquet(
                os.path.join(vdir, rel, f"batch={batch_id}")
            )

    return index.sink(stream, checkpoint, {"k": k}, _append)


def _fold(spark: SparkSession, index: PointerIndex) -> tuple[DataFrame, DataFrame, int]:
    """(per-source count totals, merged ≤ k-per-source sketch, k) over
    one consistent (version, watermark) snapshot."""
    from spark_ifs_spark.operators.topk import salted_topk_per_key

    state = index.state()
    k = state["params"]["k"]
    totals = index.committed(spark, "counts", state=state).groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    merged = index.committed(spark, "kmv", state=state).select("source", "h").distinct()
    sketch = salted_topk_per_key(
        merged, ["source"], "h", k=k, descending=False
    ).select("source", "h")
    return totals, sketch, k


def read_profile(spark: SparkSession, profile_path: str) -> DataFrame:
    """``(source, n_docs, n_chars, n_tokens, n_sketch, kth_h,
    est_vocab)`` — the live profile, folded from one consistent
    (version, watermark) snapshot: counts summed, per-source KMV
    sketches MERGED (distinct hashes re-top-k'd) and estimated with
    the standard ``(k−1)·2^60 / h_(k)`` estimator. Reads
    (batches × sources × k) rows, never documents."""
    from spark_ifs_spark.operators.sketches import kmv_estimate

    totals, sketch, k = _fold(spark, _index(profile_path))
    est = kmv_estimate(sketch, ["source"], k=k)
    # left join + fills: defensive against a source with counts but no
    # sketch rows (cannot happen through _batch_partial, but a profile
    # must never silently DROP a source it has counted)
    return totals.join(est, "source", "left").na.fill(
        {"n_sketch": 0, "kth_h": 0, "est_distinct": 0}
    ).select(
        "source", "n_docs", "n_chars", "n_tokens", "n_sketch", "kth_h",
        F.col("est_distinct").alias("est_vocab"),
    )


def compact_profile(spark: SparkSession, profile_path: str) -> None:
    """Fold the committed partials into a new version directory — one
    counts row and ≤ k sketch rows per source, under ``batch=-1``. The
    KMV merge IS the compaction: folded state answers identically to
    the unfolded partials."""
    index = _index(profile_path)
    totals, sketch, _ = _fold(spark, index)

    def _write(vdir: str) -> None:
        for rel, df in (("counts", totals), ("kmv", sketch)):
            df.write.mode("overwrite").parquet(os.path.join(vdir, rel, "batch=-1"))

    index.swap(_write)
