"""Layout-aware parquet sinks — the write-side half of the 100 TB story.

The reference's only sink is the CSV fixture generator
(``/root/reference/src/main/scala/ifs/util/functions.scala:53-75``); at
scale the layout you WRITE determines every later scan's cost, so the
engine ships two write strategies whose benefits are plan-verifiable
(tests assert partition pruning / absent shuffles, not vibes):

- :func:`write_partitioned` — hive-style ``partitionBy`` layout. With
  the :mod:`~spark_ifs_spark.operators.ivf` cell column
  (:func:`write_ivf_corpus`) it materializes the IVF inverted file:
  probing n of C cells reads n/C of the data via partition pruning
  (``PartitionFilters`` in the scan).
- :func:`write_bucketed` — pre-shuffled bucketed table. Joins and
  aggregations on the bucket key skip their Exchange entirely — the
  co-located-join strategy for repeated big-big joins (e.g. the
  dedup verify join on doc id, instance-id melt joins).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` hive-partitioned by ``partition_cols``.

    Readers filtering on a partition column scan only matching
    directories (partition pruning — dynamic too, via AQE, when the
    filter is a join). Keep partition cardinality moderate (≤ ~10k
    directories): for IVF cells, documents-by-language, events-by-day
    this is exactly the right grain.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_ivf_corpus(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    num_centroids: int = 16,
) -> list[tuple[int, list[float]]]:
    """Materialize an embedding corpus as an IVF inverted file:
    cell-partitioned parquet. Returns the centroids (persist them next to
    the corpus; probes need them). Probe-time reads prune to the probed
    cells only.

    The cell tag is the map-side ``ivf`` ladder assignment — one scan,
    no join, no per-row broadcast (only the ``num_centroids`` centroids
    travel)."""
    from spark_ifs_spark.operators import ivf

    cents = ivf.seed_centroids(df, id_col, vec_col, num_centroids)
    tagged = ivf.with_cells(df, cents, vec_col)
    write_partitioned(tagged, path, ["cell"])
    return cents


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save ``df`` as a bucketed (+ optionally sorted) managed table.

    Both sides of a join bucketed on the join key with the same bucket
    count join with NO Exchange — the shuffle is paid once at write time
    and amortized over every subsequent join/aggregation. ``sort_cols``
    additionally removes the Sort from sort-merge joins.
    """
    w = df.write.mode(mode).bucketBy(int(num_buckets), *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_training_shards(
    df: DataFrame,
    id_col: str,
    path: str,
    n_shards: int = 64,
    seed: int = 42,
    fmt: str = "parquet",
) -> DataFrame:
    """Deterministic shard layout for training-data delivery: every row
    lands in shard ``md5(seed, id) % n_shards`` — membership is a pure
    function of (seed, id), so re-runs, backfills, and other engines
    produce byte-identical shard assignment (the property data loaders
    and resumable training jobs rely on). Returns the manifest
    ``(shard, n_rows)`` the loader checks against.

    Plan: the shard key is a scan-fused projection; one
    ``repartition(shard)`` shuffle groups each shard's rows so
    ``partitionBy`` emits ONE file per shard (without it every task
    writes a sliver of every shard — n_tasks × n_shards files, the
    classic small-files explosion); the manifest is a bounded aggregate
    on the same key.
    """
    from pyspark.sql import functions as F

    from spark_ifs_spark.functions.hashing import md5_int60

    shard = (
        md5_int60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
        % F.lit(n_shards)
    ).cast("int")
    tagged = df.withColumn("shard", shard)
    (
        tagged.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)
        .save(path)
    )
    return tagged.groupBy("shard").agg(F.count(F.lit(1)).alias("n_rows"))


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> tuple[int, int]:
    """Rewrite a parquet directory into size-targeted files; returns
    ``(files_before, files_after)``.

    The small-files problem is the dominant operational failure of
    streaming/incremental sinks at lake scale: thousands of KB-sized
    files per partition turn every scan into a metadata storm (footer
    reads, scheduler tasks) — NameNode/object-store pressure grows with
    file COUNT, not bytes. Compaction is the standing maintenance job
    every event lake runs.

    File count is computed from actual on-disk bytes /
    ``target_file_bytes`` (never from row counts — row width varies),
    floored at ``min_files``. The rewrite stages into a sibling
    directory first and swaps via rename, so a reader never observes a
    half-written table; the swap is the non-transactional analogue of
    a table format's commit (Delta/Iceberg `OPTIMIZE` replaces this
    whole function on a real lake).

    The rewrite itself is ONE ``coalesce`` (no shuffle — merging files
    needs no repartition by key; use ``write_bucketed`` upstream if a
    layout contract must survive the rewrite).
    """
    import glob as _glob
    import os
    import shutil

    files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    before = len(files)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(min_files, int(total_bytes // target_file_bytes))
    staged = path.rstrip("/") + "._compacting"
    spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(staged)
    old = path.rstrip("/") + "._old"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    after = len(
        [
            f
            for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)
        ]
    )
    return before, after


#: term-hash partition count for the inverted index layout
INDEX_BUCKETS = 64


def _term_bucket_expr(term_col):
    from pyspark.sql import functions as F

    from spark_ifs_spark.functions.hashing import md5_int60

    return md5_int60(F.col(term_col) if isinstance(term_col, str) else term_col) % F.lit(
        INDEX_BUCKETS
    )


def write_inverted_index(
    df: DataFrame, id_col: str, text_col: str, path: str
) -> None:
    """Materialize a BM25-ready inverted index: postings ``(term, id,
    tf, dl)`` hive-partitioned by ``tb = md5(term) mod 64``, plus a
    one-row corpus-stats table (N, total length) beside it.

    The layout is the retrieval counterpart of the IVF corpus sink: a
    query with |Q| terms prunes the scan to ≤|Q| of 64 directories
    (``PartitionFilters``, plan-asserted), so query cost scales with
    the posting lists touched, not the corpus — the property that makes
    repeated lexical search over a fixed corpus cheap where
    :func:`~spark_ifs_spark.operators.textstats.bm25_topk` re-scans.
    Index build is one explode + one (id, term)-keyed count — the
    tokenize work BM25 queries would each redo, paid once.
    """
    from pyspark.sql import functions as F

    base = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select("id", "_toks", F.size("_toks").alias("dl"))
    postings = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tb", _term_bucket_expr("term"))
    )
    postings.write.mode("overwrite").partitionBy("tb").parquet(f"{path}/postings")
    base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_over_index(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-``k`` over a :func:`write_inverted_index` layout —
    bit-identical scores to the scan path (asserted in
    ``test_sinks.py``), touching only the query terms' partitions.

    Per-term document frequencies come from the pruned postings
    themselves (a term's postings live entirely in its bucket, so the
    pruned df IS the corpus df); corpus scalars come from the one-row
    stats table."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.functions.hashing import md5_int60_py
    from spark_ifs_spark.operators.textstats import bm25_score_postings

    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["total_len"]) / float(n_docs)
    buckets = sorted({md5_int60_py(t) % INDEX_BUCKETS for t in query_terms})
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("tb").isin(buckets))   # partition pruning
        .filter(F.col("term").isin(*query_terms))
        .select("id", "dl", "term", "tf")
    )
    return bm25_score_postings(postings, n_docs, avgdl, k=k, k1=k1, b=b)


def zorder_expr(cols: list, bits: int = 16) -> "Column":
    """Morton (Z-order) key: bit-interleave up to 4 rank-scaled columns.

    Callers rank-scale each column into ``[0, 2^bits)`` first (e.g. with
    ``F.percent_rank`` or a min/max affine map — see
    :func:`write_zordered`); this expression then interleaves the bits
    JVM-side (shift/mask, whole-stage codegen) so the sort key is ONE
    bigint. Interleaving means a range of z-values is a hyper-rectangle
    stack in every dimension — files sorted by z carry tight min/max on
    ALL the interleaved columns at once, which is what multi-column
    data skipping needs (a plain sort gives skipping on the leading
    column only)."""
    from pyspark.sql import functions as F

    n = len(cols)
    if not 1 <= n <= 4:
        raise ValueError("zorder_expr interleaves 1-4 columns")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + j)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int = 8,
) -> None:
    """Write ``df`` as parquet laid out in Z-order over ``cols``:
    min/max-affine-scale each column to ``[0, 2^bits)``, compute the
    Morton key, range-partition + sort by it, write ``num_files``
    files. Point/range predicates on ANY of ``cols`` then skip most
    files via parquet row-group/file min-max stats — the multi-column
    generalization of sort-by-one-column layout, and the same layout
    trick Delta/Iceberg OPTIMIZE ZORDER applies. One pass + one range
    shuffle; stats are the bounded per-column (min, max) driver list."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        if mx == mn:
            scaled.append(F.lit(0).cast("long"))
        else:
            scaled.append(
                F.least(
                    F.lit(top).cast("long"),
                    F.floor(
                        (F.col(c).cast("double") - F.lit(mn))
                        * F.lit(float(top + 1))
                        / F.lit(mx - mn)
                    ).cast("long"),
                )
            )
    (
        df.withColumn("_z", zorder_expr(scaled, bits))
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_knn_graph(
    edges: DataFrame,
    table: str,
    num_buckets: int = 32,
) -> None:
    """Persist a :func:`~spark_ifs_spark.operators.knn.knn_graph` edge
    relation ``(id, nb, score, rank)`` as an id-bucketed, rank-sorted
    managed table — the build-once artifact the graph consumers
    (components, diversity/facility selection, label propagation,
    centrality, :func:`~spark_ifs_spark.operators.knn.graph_search`
    serving) fan out from.

    Why a sink at all: the NN-descent build is by far the family's
    dominant cost (~10 s at sf0.1, ~4 min at 100×), and a curation
    pipeline consumes the SAME graph many times — rebuild-per-consumer
    multiplies the one expensive stage by the consumer count.
    Bucketing by ``id`` makes every id-keyed consumer join/groupBy
    exchange-free (the ``write_bucketed`` contract); sorting by
    ``(id, rank)`` keeps each node's top-k adjacent, so a ``rank <= k``
    truncation reads contiguous rows. The edge relation is n·k rows —
    bucket count stays modest even at corpus scale.
    """
    write_bucketed(
        edges.select("id", "nb", "score", "rank"),
        table,
        ["id"],
        num_buckets=num_buckets,
        sort_cols=["id", "rank"],
    )


def read_knn_graph(spark: SparkSession, table: str) -> DataFrame:
    """Read back a :func:`write_knn_graph` table — bucketing metadata
    rides along, so consumer joins on ``id`` skip their Exchange."""
    return spark.table(table)
