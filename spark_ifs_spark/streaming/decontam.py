"""Streaming benchmark-decontamination index: fold arriving EVAL-SET
documents (new benchmarks, refreshed test splits) into a maintained
n-gram digest relation, then flag corpus documents against the
committed index — the streaming side of
``operators/dedup.py:contaminated_ids``, as a :class:`~spark_ifs_spark.
streaming._pointer.PointerIndex` (the pointer-commit contract, stated
once in ``streaming/_pointer.py``; the shingle width ``n`` is the
guarded parameter — flags from mixed widths would be silently wrong):

- the index stores DIGESTS ONLY (``shingles/batch=<id>``: h — 60-bit
  md5 of each distinct eval n-gram), never eval text: an eval suite's
  contents stay out of the lake, and the per-batch relation is
  batch-distinct so it is bounded by the batch's shingle vocabulary.
  Membership by digest admits a ~n_eval·n_corpus/2^60 false-flag rate
  (vs the batch operator's raw-string join) — at a billion shingles a
  side that is ~10⁻⁴ expected false flags, the right trade for an
  index that must never hold benchmark text.
- appends never read previously-committed digests (append = write new
  batch + advance watermark), so batch ≡ stream parity is exact by
  mergeability, the ``streaming/profile.py`` argument.
- ``flag_contaminated`` semi-joins corpus shingle digests against the
  committed prefix: flags are always computed against a complete,
  mutually-consistent eval snapshot. The join strategy is
  deliberately UNHINTED: AQE broadcasts the digest relation while its
  runtime size fits (an eval suite is small by definition) and falls
  back to a shuffle semi-join past that — a hard `broadcast()` hint
  would instead fail outright at the 8 GB broadcast ceiling. Same
  contract as the batch operator; the Bloom-prefilter
  regime (``contaminated_ids_bloom``) composes by building the sketch
  FROM this index's digests instead of from raw eval text.
- ``compact_decontam_index`` rewrites the accumulated digests
  DISTINCT into the new version's base — cross-batch duplicate digests
  (the same n-gram appearing in two benchmarks) exist until compaction
  and are harmless to semi-join semantics.

No oracle entry — streaming-only surface (the package convention);
parity, replay, crash windows and compaction are pytest-pinned in
``tests/test_streaming_decontam.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ifs_spark.functions.hashing import md5_int60
from spark_ifs_spark.operators.dedup import word_shingles
from spark_ifs_spark.streaming._pointer import PointerIndex


def _index(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "corpus-v", "index")


def streaming_decontam_index(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    checkpoint: str,
    n: int = 8,
):
    """Maintain the eval-set n-gram digest index over an eval-document
    stream. Returns the StreamingQuery. Appends never read committed
    state — exact batch ≡ stream parity by mergeability."""
    index = _index(index_path)

    def _append(batch: DataFrame, batch_id: int, state: dict) -> None:
        docs = batch.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        digests = (
            word_shingles(docs, "id", "text", n)
            .select(md5_int60(F.col("sh")).alias("h"))
            .distinct()
        )
        digests.write.mode("overwrite").parquet(
            os.path.join(index.path, state["dir"], "shingles", f"batch={batch_id}")
        )

    return index.sink(stream, checkpoint, {"n": n}, _append)


def flag_contaminated(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``(id)`` — corpus documents sharing ≥1 word n-gram digest with
    the committed eval index (the shingle width comes FROM the index,
    so a caller cannot accidentally flag at the wrong n)."""
    index = _index(index_path)
    state = index.state()
    eval_h = index.committed(spark, "shingles", state=state).select("h")
    corpus_sh = word_shingles(corpus, id_col, text_col, state["params"]["n"])
    return (
        corpus_sh.select("id", md5_int60(F.col("sh")).alias("h"))
        .join(eval_h.distinct(), "h", "leftsemi")
        .select("id")
        .distinct()
    )


def compact_decontam_index(spark: SparkSession, index_path: str) -> None:
    """Rewrite the committed digests DISTINCT into a new version
    directory (``batch=-1``) — the segment-compaction shape shared with
    ``compact_minhash_index``."""
    index = _index(index_path)
    digests = index.committed(spark, "shingles").select("h").distinct()
    index.swap(
        lambda vdir: digests.write.mode("overwrite").parquet(
            os.path.join(vdir, "shingles", "batch=-1")
        )
    )
