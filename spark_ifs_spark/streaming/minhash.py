"""Streaming incremental MinHash-LSH dedup: fold arriving documents
into a maintained band-postings index and emit verified near-duplicate
pairs per micro-batch — the streaming side of
``operators/dedup.py:minhash_lsh_pairs_against`` (the batch
new×corpus operator), as a :class:`~spark_ifs_spark.streaming._pointer.
PointerIndex` (the pointer-commit contract, stated once in
``streaming/_pointer.py``; the MinHash parameters are the guarded
ones — a mismatch would yield silently wrong candidates):

- the index stores DIGESTS, never bodies: per-document band keys
  (``bands/batch=<id>``: id, band, bkey), shingle digests
  (``shingles/batch=<id>``: id, h — needed to verify candidates with
  EXACT Jaccard) and shingle-set sizes (``sizes/batch=<id>``).
- appends read the corpus through its committed prefix, so the replay
  of a batch whose pointer commit was lost recomputes the same pairs
  against the same corpus.
- the CORPUS IS NEVER SELF-JOINED: each batch pays new-batch
  signatures + one new×(corpus ∪ new) band-collision join; detected
  pairs accumulate under the unversioned ``pairs/batch=<id>``. Union
  over batches equals the batch operator's all-pairs result at the
  same parameters (pinned by ``tests/test_streaming_minhash.py``).
- ``compact_minhash_index`` rewrites the accumulated postings into the
  new version's base — the segment-compaction shape. At 100 TB the
  compacted bands would additionally be written bucketed on
  ``(band, bkey)`` (``sinks.write_bucketed``) so the per-batch
  collision join is exchange-free on the corpus side.

No oracle entry — streaming-only surface (the package convention);
parity, replay, crash windows and compaction are pytest-pinned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ifs_spark.functions.hashing import md5_int60
from spark_ifs_spark.operators.dedup import _lsh_bands, word_shingles
from spark_ifs_spark.streaming._pointer import PointerIndex

# the versioned corpus relations, with their schemas for a first batch
# (nothing committed yet)
_RELS = {
    "bands": "id long, band int, bkey long, batch int",
    "shingles": "id long, h long, batch int",
    "sizes": "id long, n_sh long, batch int",
}


def _index(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "corpus-v", "index")


def streaming_minhash_dedup(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    checkpoint: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
):
    """Maintain the MinHash index over a document stream; per batch,
    write verified near-dup pairs (``pairs/batch=<id>``: id_a, id_b,
    jaccard — id_a < id_b) of the batch against everything committed
    before it plus itself. Returns the StreamingQuery."""
    index = _index(index_path)
    params = {
        "n": n,
        "num_hashes": num_hashes,
        "rows_per_band": rows_per_band,
        "threshold": threshold,
        "seed": seed,
    }

    def _append(batch: DataFrame, batch_id: int, state: dict) -> None:
        spark = batch.sparkSession
        docs = batch.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        shingles = word_shingles(docs, "id", "text", n)
        sh_new = shingles.select("id", md5_int60(F.col("sh")).alias("h")).persist()
        bands_new = _lsh_bands(shingles, num_hashes, rows_per_band, seed).persist()
        # unpersist in finally — a failed parquet write must not leak
        # the cached blocks for the session's life (same leak class as
        # the r7 unigram _finish fix)
        try:
            sizes_new = sh_new.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

            corpus_bands, corpus_sh, corpus_sizes = (
                index.committed(spark, rel, schema, state)
                for rel, schema in _RELS.items()
            )

            right_bands = corpus_bands.select("id", "band", "bkey").unionByName(
                bands_new.select("id", "band", "bkey")
            )
            a, b = bands_new.alias("a"), right_bands.alias("b")
            cand = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bkey") == F.col("b.bkey"))
                    & (F.col("a.id") != F.col("b.id")),
                )
                .select(
                    F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
                    F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
                )
                .distinct()
            )
            all_sh = corpus_sh.select("id", "h").unionByName(sh_new)
            all_sizes = corpus_sizes.select("id", "n_sh").unionByName(sizes_new)
            da = all_sh.select(F.col("id").alias("id_a"), "h")
            db = all_sh.select(F.col("id").alias("_idb"), F.col("h").alias("h2"))
            inter = (
                cand.join(da, "id_a")
                .join(db, (F.col("id_b") == F.col("_idb")) & (F.col("h") == F.col("h2")))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("i"))
            )
            na = all_sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
            nb = all_sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
            pairs = (
                inter.join(na, "id_a")
                .join(nb, "id_b")
                .withColumn(
                    "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
                )
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard")
            )

            cdir = os.path.join(index.path, state["dir"])
            # per-batch directory + overwrite = replay idempotence; pairs
            # first, pointer last — a crash leaves only invisible orphans
            pairs.write.mode("overwrite").parquet(
                os.path.join(index.path, "pairs", f"batch={batch_id}")
            )
            # the batch partition value comes from the DIRECTORY NAME —
            # never duplicated as a data column
            bands_new.write.mode("overwrite").parquet(
                os.path.join(cdir, "bands", f"batch={batch_id}")
            )
            sh_new.write.mode("overwrite").parquet(
                os.path.join(cdir, "shingles", f"batch={batch_id}")
            )
            sizes_new.write.mode("overwrite").parquet(
                os.path.join(cdir, "sizes", f"batch={batch_id}")
            )
        finally:
            sh_new.unpersist()
            bands_new.unpersist()

    return index.sink(stream, checkpoint, params, _append)


def compact_minhash_index(spark: SparkSession, index_path: str) -> None:
    """Rewrite the committed postings compacted into a new version
    directory (``batch=-1``)."""
    index = _index(index_path)
    state = index.state()
    live = {rel: index.committed(spark, rel, state=state) for rel in _RELS}

    def _write(vdir: str) -> None:
        for rel, df in live.items():
            df.drop("batch").write.mode("overwrite").parquet(
                os.path.join(vdir, rel, "batch=-1")
            )

    index.swap(_write)


def read_pairs(spark: SparkSession, index_path: str) -> DataFrame:
    """All committed near-dup pairs (orphan pair directories from a
    crashed append are invisible)."""
    return (
        _index(index_path).committed(spark, "pairs", versioned=False)
        .select("id_a", "id_b", "jaccard")
    )
