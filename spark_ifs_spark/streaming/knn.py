"""Streaming kNN-graph maintenance: fold arriving embedding vectors
into the persisted kNN-graph artifact (``sources/sinks.py:
write_knn_graph`` semantics) without re-running the NN-descent over
the accumulated corpus.

Insertion discipline — the ``minhash_lsh_pairs_against`` rule applied
to graphs: per micro-batch, only NEW × CORPUS work happens, the corpus
is never self-rejoined. A new node finds its neighbors by BEAM SEARCH
over the current graph (:func:`~spark_ifs_spark.operators.knn.
graph_search` — the serving walk doubling as the insertion probe, the
standard incremental-HNSW move), plus a bounded within-batch descent
for batch-internal pairs; the touched corpus nodes (those a new node
reached) merge the new candidate into their top-k lists. Per-batch
work is O(|batch| · ef · deg) scorings + |touched| list re-ranks —
independent of corpus size.

Consistency is the package's POINTER COMMIT (:class:`~spark_ifs_spark.
streaming._pointer.PointerIndex`, contract stated once in
``streaming/_pointer.py``); there are no parameters to guard
(``params={}``), the live edge version lives under ``edges-v<k>`` and
the vectors under the unversioned ``vectors/batch=<id>``. Each delta
carries the FULL replacement top-k list of every node it touches, so
the read side is last-writer-wins per node (:func:`read_knn_edges`
keeps each id's rows from its highest committed batch — the
``compact_latest`` changelog-compaction shape); ``compact_knn_graph``
periodically folds deltas into a fresh ``batch=-1`` base, the
small-files maintenance every streaming sink needs.

Batch ≡ stream parity: the per-batch transition is the pure function
:func:`_insert_batch` of (prior state, batch rows); the streaming sink
and a driver-side loop over the same splits produce IDENTICAL edges
(pytest-pinned, the ``test_streaming_minhash`` discipline), and the
maintained graph's quality is MEASURED against exact top-k via
``knn_graph_recall(edges=...)``, never assumed. No oracle entry —
streaming-only surface (the package convention).

No counterpart in the reference; extension operator.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_ifs_spark.operators.knn import graph_search, knn_graph
from spark_ifs_spark.operators.similarity import as_double_array
from spark_ifs_spark.operators.topk import topk_per_key
from spark_ifs_spark.streaming._pointer import PointerIndex


def _index(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "edges-v", "graph")


def _latest(rows: DataFrame, *cols: str) -> DataFrame:
    """Per id, the rows of its highest committed batch."""
    latest = F.max("batch").over(Window.partitionBy("id"))
    return (
        rows.withColumn("_mx", latest)
        .filter(F.col("batch") == F.col("_mx"))
        .select(*cols)
    )


def read_knn_vectors(spark: SparkSession, index_path: str) -> DataFrame:
    """``(id, vec)`` — every vector the maintained graph covers, one
    row per id: like :func:`read_knn_edges`, the highest COMMITTED
    delta batch wins, so an id re-delivered under a NEW checkpoint
    (at-least-once across checkpoint resets — the same-checkpoint
    replay is already absorbed by the ``last_batch_id`` guard) updates
    its vector instead of feeding the insertion walk two copies.
    Batches above the pointer watermark are pruned BEFORE the per-id
    window: in the crash gap between a vectors write and its pointer
    commit, the orphan batch must not shadow the committed vector."""
    rows = _index(index_path).committed(spark, "vectors", versioned=False)
    return _latest(rows, "id", "vec")


def read_knn_edges(spark: SparkSession, index_path: str) -> DataFrame:
    """``(id, nb, score, rank)`` — the LIVE edge relation: per node,
    the rows of its highest committed delta batch win (every delta
    writes a node's full replacement list, so last-writer-wins per id
    is exact — the ``compact_latest`` changelog rule, applied at id
    grain with one bounded per-id window over ≤ versions·k rows)."""
    rows = _index(index_path).committed(spark, "")
    return _latest(rows, "id", "nb", "score", "rank")


def _write_batch(
    index: PointerIndex,
    rows: DataFrame,
    batch_id: int,
    state: dict,
    *,
    k: int,
    work_degree: int,
    num_centroids: int,
    ef: int,
    hops: int,
    n_entry: int,
    scale: int,
) -> None:
    """Build (first batch) or insert (later batches); write the edge
    delta and the batch's vectors."""
    spark = rows.sparkSession
    rows = rows.select(
        F.col(rows.columns[0]).cast("long").alias("id"),
        as_double_array(rows.columns[1]).alias("vec"),
    ).localCheckpoint(eager=True)
    if state["last_batch_id"] < 0:  # the seeded state: nothing committed yet
        edges = knn_graph(
            rows, "id", "vec", k=k, num_centroids=num_centroids,
            work_degree=work_degree, scale=scale,
        )
    else:
        corpus = read_knn_vectors(spark, index.path)
        cur = read_knn_edges(spark, index.path).localCheckpoint(eager=True)
        # NEW × CORPUS: each new node beam-walks the current graph to
        # its approximate neighborhood — corpus is never self-rejoined
        found = graph_search(
            cur, corpus, "id", "vec", rows, "id", "vec",
            k=max(k, ef // 2), ef=ef, hops=hops, n_entry=n_entry,
            scale=scale, exclude_self=True,
        ).select(
            F.col("qid").alias("id"), F.col("id").alias("nb"), "score"
        ).localCheckpoint(eager=True)
        # NEW × NEW: bounded within-batch descent (micro-batch-sized)
        n_batch = rows.count()
        cand_new = found
        if n_batch > 1:
            internal = knn_graph(
                rows, "id", "vec", k=min(k, n_batch - 1),
                num_centroids=min(num_centroids, n_batch),
                work_degree=min(work_degree, 4 * k), scale=scale,
            ).select("id", "nb", "score")
            cand_new = found.unionByName(internal)
        new_edges = topk_per_key(
            cand_new.distinct(), ["id"], "score", k=k, tiebreak_cols=["nb"]
        ).select("id", "nb", "score", "rank")
        # touched corpus nodes merge the new arrivals into their lists
        rev = found.select(
            F.col("nb").alias("id"), F.col("id").alias("nb"), "score"
        )
        touched_cur = cur.join(
            rev.select("id").distinct(), "id", "left_semi"
        ).select("id", "nb", "score")
        merged = topk_per_key(
            touched_cur.unionByName(rev).distinct(),
            ["id"], "score", k=k, tiebreak_cols=["nb"],
        ).select("id", "nb", "score", "rank")
        edges = new_edges.unionByName(merged)
    edges.write.mode("overwrite").parquet(
        os.path.join(index.path, state["dir"], f"batch={batch_id}")
    )
    rows.write.mode("overwrite").parquet(
        os.path.join(index.path, "vectors", f"batch={batch_id}")
    )


def _insert_batch(
    spark: SparkSession, index_path: str, rows: DataFrame, batch_id: int, **knobs
) -> None:
    """One batch through the same ``apply`` + :func:`_write_batch`
    transition the streaming sink runs — the batch-parity loop's entry
    point. ``rows`` is ``(id, vec)`` by position."""
    index = _index(index_path)
    index.apply(rows, batch_id, {}, partial(_write_batch, index, **knobs))


def streaming_knn_graph(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    checkpoint: str,
    k: int = 4,
    work_degree: int | None = None,
    num_centroids: int = 16,
    ef: int = 16,
    hops: int = 3,
    n_entry: int = 8,
    scale: int = 1024,
):
    """Maintain the kNN graph over a vector stream; returns the
    StreamingQuery. First batch = full NN-descent build; later batches
    = beam-search insertion (see module docstring)."""
    index = _index(index_path)
    write = partial(
        _write_batch, index, k=k,
        work_degree=4 * k if work_degree is None else work_degree,
        num_centroids=num_centroids, ef=ef, hops=hops, n_entry=n_entry,
        scale=scale,
    )
    return index.sink(stream.select(id_col, vec_col), checkpoint, {}, write)


def compact_knn_graph(spark: SparkSession, index_path: str) -> None:
    """Fold every delta into a fresh ``batch=-1`` base in a NEW version
    directory — the periodic maintenance that bounds the per-id read
    window (and the small-file count) by resetting the version history
    to one base."""
    live = read_knn_edges(spark, index_path)
    _index(index_path).swap(
        lambda vdir: live.write.mode("overwrite").parquet(
            os.path.join(vdir, "batch=-1")
        )
    )
