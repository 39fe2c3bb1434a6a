"""Incremental / streaming ANN index maintenance: fold arriving
embedding vectors into the IVF-partitioned corpus layout
(``sources/sinks.py:write_ivf_corpus``) without rebuilding it, as a
:class:`~spark_ifs_spark.streaming._pointer.PointerIndex` (the
pointer-commit contract, stated once in ``streaming/_pointer.py``).

The pointer carries the centroids next to the live corpus version and
the append watermark, so a reader (probe/refresh) resolving it once
always sees a complete, mutually-consistent (corpus, centroids) pair —
there is no instant where a re-clustered corpus is paired with stale
centroids. Appends cell-assign each micro-batch against the committed
centroids (the first batch trains them) and write it to its own
``batch=<id>`` directory, partitioned by ``cell``. A refresh retrains
centroids on the committed corpus and rewrites it cell-partitioned
into a NEW version (``corpus-v{k+1}/batch=-1/cell=*``), committing
corpus + centroids + unchanged watermark in one pointer swap.

At 100 TB: appends touch only the partitions the batch's vectors land
in; the refresh is the only corpus-wide pass and is deliberately
periodic (amortized), exactly how production IVF services (FAISS
OnDisk / Milvus segment compaction) schedule re-clustering. No oracle
entry — streaming-only surface (the package convention); batch ≡
stream parity, replay absorption, crash-window recovery, and probe
partition-pruning are pinned by ``tests/test_streaming_ann.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ifs_spark.operators import ivf
from spark_ifs_spark.operators.similarity import as_double_array
from spark_ifs_spark.streaming._pointer import PointerIndex


def _index(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "corpus-v", "index")


def _centroids(state: dict) -> list[tuple[int, list[float]]]:
    return [(int(c), [float(x) for x in v]) for c, v in state["centroids"]]


def corpus_dir(index_path: str) -> str:
    """Directory of the LIVE corpus version (resolved via the pointer)."""
    index = _index(index_path)
    return os.path.join(index.path, index.state()["dir"])


def read_centroids(index_path: str) -> list[tuple[int, list[float]]] | None:
    try:
        state = _index(index_path).state()
    except FileNotFoundError:
        return None
    return _centroids(state)


def _write_cells(corpus: DataFrame, cents, path: str) -> None:
    ivf.with_cells(corpus, cents, "vec").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def streaming_ivf_index(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    checkpoint: str,
    num_centroids: int = 16,
    refresh_every: int = 4,
):
    """Maintain an IVF-partitioned ANN index over a vector stream.

    Returns the StreamingQuery. ``refresh_every=0`` disables retraining
    (append-only against the first batch's centroids); otherwise a
    refresh follows every committed batch whose id + 1 is a multiple of
    ``refresh_every``.
    """
    spark = stream.sparkSession
    index = _index(index_path)

    def _append(batch: DataFrame, batch_id: int, state: dict) -> None:
        if "centroids" not in state:
            state["centroids"] = ivf.seed_centroids(batch, "id", "vec", num_centroids)
        _write_cells(
            batch, _centroids(state),
            os.path.join(index.path, state["dir"], f"batch={batch_id}"),
        )

    def _refresh(batch_id: int) -> None:
        if refresh_every and (batch_id + 1) % refresh_every == 0:
            refresh_ivf_index(spark, index_path, num_centroids)

    rows = stream.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("vec")
    )
    return index.sink(rows, checkpoint, {}, _append, after_commit=_refresh)


def refresh_ivf_index(
    spark: SparkSession, index_path: str, num_centroids: int
) -> None:
    """Retrain centroids on the committed corpus and rewrite it
    compacted into a new version directory (``batch=-1`` keeps the
    (batch, cell) directory shape uniform, so partition discovery and
    cell pruning are unchanged); corpus + centroids + watermark commit
    in one pointer swap."""
    index = _index(index_path)
    # centroid training and the rewrite must read the same snapshot
    corpus = (
        index.committed(spark, "").select("id", "vec").localCheckpoint(eager=True)
    )
    cents = ivf.seed_centroids(corpus, "id", "vec", num_centroids)
    index.swap(
        lambda vdir: _write_cells(corpus, cents, os.path.join(vdir, "batch=-1")),
        centroids=cents,
    )


def probe_ivf_index(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    probe: int = 4,
) -> DataFrame:
    """Top-``k`` by cosine among the ``probe`` nearest cells — the read
    side of the streamed index. Cell pruning happens at the SCAN
    (partition pruning on the ``cell`` directory column: probing
    ``probe`` of ``C`` cells reads ``probe/C`` of the data)."""
    import math

    from spark_ifs_spark.operators.similarity import cosine

    # ONE pointer read: centroids, corpus directory and watermark MUST
    # come from the same snapshot, else a refresh committing between
    # two reads would pair old centroids with a re-clustered corpus
    # (wrong cells pruned) or point the scan at a just-deleted version.
    index = _index(index_path)
    state = index.state()
    cents = _centroids(state)
    cells = ivf.rank_probes(cents, query_vec, probe)
    corpus = index.committed(spark, "", state=state).where(F.col("cell").isin(cells))
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = F.array(*[F.lit(float(x) / qn) for x in query_vec])
    scored = corpus.select("id", cosine(F.col("vec"), q).alias("cos"))
    return scored.orderBy(F.col("cos").desc(), F.col("id").asc()).limit(k)
