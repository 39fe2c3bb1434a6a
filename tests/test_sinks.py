"""Layout-aware sink tests: the write-side 100 TB claims, plan-verified.

- IVF-partitioned corpus: a probe read must show PartitionFilters on the
  cell column (partition pruning) and return exactly the probed cells.
- Bucketed tables: a join on the bucket key must plan with NO Exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.plans import count_exchanges, explain_str
from spark_ifs_spark.sources.sinks import read_table, write_bucketed, write_ivf_corpus


def test_ivf_corpus_partition_pruning(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_corpus")
    cents = write_ivf_corpus(emb, "vec_id", "embedding", path, num_centroids=8)
    assert len(cents) == 8

    corpus = spark.read.parquet(path)
    assert corpus.count() == emb.count()  # every vector in exactly one cell

    probe = corpus.filter(F.col("cell").isin(1, 2))
    plan = explain_str(probe)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    cells_read = {r["cell"] for r in probe.select("cell").distinct().collect()}
    assert cells_read <= {1, 2}


def test_ivf_corpus_past_expr_rung_writes_ladder_cells(spark, sf_dir, tmp_path):
    """Past ``EXPR_MAX_CENTROIDS`` the writer tags through the numpy rung:
    every id lands under the cell the ladder assigns, and a probe read
    still prunes to the probed cell directories."""
    from spark_ifs_spark.operators import ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_corpus_70")
    cents = write_ivf_corpus(emb, "vec_id", "embedding", path, num_centroids=70)
    assert len(cents) == 70 > ivf.EXPR_MAX_CENTROIDS
    want = {
        r["id"]: r["cell"]
        for r in ivf.tagged_cells(emb, cents, "vec_id", "embedding").collect()
    }
    corpus = spark.read.parquet(path)
    got = {r["vec_id"]: r["cell"] for r in corpus.select("vec_id", "cell").collect()}
    assert got == want and len(got) == emb.count()

    probe_ids = ivf.rank_probes(cents, cents[0][1], 4)
    probe = corpus.filter(F.col("cell").isin(*probe_ids))
    plan = explain_str(probe)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert {r["cell"] for r in probe.select("cell").distinct().collect()} <= set(probe_ids)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        left = emb.select("vec_id", "label")
        right = emb.select("vec_id", F.size("embedding").alias("dim"))
        write_bucketed(left, "b_left", ["vec_id"], num_buckets=8, sort_cols=["vec_id"])
        write_bucketed(right, "b_right", ["vec_id"], num_buckets=8, sort_cols=["vec_id"])
        joined = read_table(spark, "b_left").join(read_table(spark, "b_right"), "vec_id")
        n_ex = count_exchanges(joined)
        assert n_ex == 0, f"bucketed join planned {n_ex} shuffles:\n{explain_str(joined, 'simple')}"
        assert joined.count() == emb.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_training_shards_deterministic_layout(spark, sf_dir, tmp_path):
    """Shard membership is a pure function of (seed, id): re-writing
    yields the identical manifest; each shard dir reads back exactly
    its own members; shard count is bounded by n_shards."""
    import os

    from spark_ifs_spark.sources.sinks import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p1, p2 = str(tmp_path / "sh1"), str(tmp_path / "sh2")
    m1 = {r["shard"]: r["n_rows"] for r in
          write_training_shards(docs, "doc_id", p1, n_shards=8).collect()}
    m2 = {r["shard"]: r["n_rows"] for r in
          write_training_shards(docs, "doc_id", p2, n_shards=8).collect()}
    assert m1 == m2 and sum(m1.values()) == docs.count()
    dirs = [d for d in os.listdir(p1) if d.startswith("shard=")]
    assert 0 < len(dirs) <= 8

    # one data file per shard (repartition before partitionBy)
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(p1, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    back = spark.read.parquet(p1)
    assert back.count() == docs.count()
    one = back.filter(back["shard"] == sorted(m1)[0])
    assert one.count() == m1[sorted(m1)[0]]


def test_compact_small_files_preserves_rows_and_reduces_count(spark, tmp_path):
    from pyspark.sql import functions as F

    from spark_ifs_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # 64 sliver files
    rows_before = spark.read.parquet(path).count()

    before, after = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert before >= 64
    assert after == 1  # everything fits one target-size file

    out = spark.read.parquet(path)
    assert out.count() == rows_before
    assert out.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(10_000))
    # no staging residue
    import os
    parent = os.path.dirname(path)
    assert not any("._compacting" in d or "._old" in d for d in os.listdir(parent))


def test_inverted_index_bm25_matches_scan_path_and_prunes(spark, sf_dir, tmp_path):
    """The indexed BM25 must return bit-identical scores to the direct
    scan operator, while its postings scan prunes to the query terms'
    partitions (PartitionFilters on tb)."""
    from spark_ifs_spark.operators.textstats import bm25_topk
    from spark_ifs_spark.plans.checks import explain_str
    from spark_ifs_spark.sources.sinks import bm25_over_index, write_inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["spark", "shuffle", "join", "window"]
    path = str(tmp_path / "idx")
    write_inverted_index(docs, "doc_id", "text", path)

    direct = [
        (r["id"], r["score_micro"])
        for r in bm25_topk(docs, "doc_id", "text", terms, k=10).collect()
    ]
    indexed_df = bm25_over_index(spark, path, terms, k=10)
    indexed = [(r["id"], r["score_micro"]) for r in indexed_df.collect()]
    assert indexed == direct

    plan = explain_str(indexed_df, "formatted")
    assert "PartitionFilters" in plan and "tb" in plan, plan


def test_zorder_layout_skips_files_on_both_columns(spark, tmp_path):
    """Z-order over (a, b): a point-range predicate on EITHER column
    must skip most files via parquet min/max stats — the multi-column
    data-skipping property a single-column sort cannot give. Asserted
    by counting files whose (min, max) range intersects the predicate,
    for both columns, against a files-touched budget."""
    import glob

    from spark_ifs_spark.sources.sinks import write_zordered

    n = 64_000
    df = spark.range(n).select(
        (F.col("id") % 253).cast("double").alias("a"),
        ((F.col("id") * 7919) % 241).cast("double").alias("b"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "zorder")
    write_zordered(df, path, ["a", "b"], bits=8, num_files=16)
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) >= 8

    import pyarrow.parquet as pq

    def touched(col, lo, hi):
        cnt = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            fmin = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            fmax = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                cnt += 1
        return cnt

    # a narrow range on each column must touch well under half the files
    assert touched("a", 10.0, 20.0) <= len(files) // 2
    assert touched("b", 10.0, 20.0) <= len(files) // 2
    # and the data survives intact
    assert spark.read.parquet(path).count() == n


def test_write_knn_graph_roundtrip_parity_and_bucketed_join(spark, sf_dir):
    """The persisted graph is the build-once artifact every consumer
    fans out from: (1) read-back ≡ fresh edges exactly (parquet
    round-trips long/double bit-exactly); (2) a consumer over the
    persisted relation equals the same consumer over fresh edges
    (components here — the dedup consumer); (3) an id-keyed join
    against the bucketed table plans with NO Exchange on the graph
    side (the write_bucketed contract that makes repeated consumer
    joins exchange-free)."""
    from spark_ifs_spark.operators.knn import (
        knn_components_from_edges,
        knn_graph,
        knn_graph_components,
    )
    from spark_ifs_spark.sources.sinks import read_knn_graph, write_knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    fresh = knn_graph(emb, "vec_id", "embedding", k=4, num_centroids=8,
                      rounds=2, groups=8, work_degree=12)
    try:
        write_knn_graph(fresh, "knn_edges_t", num_buckets=8)
        back = read_knn_graph(spark, "knn_edges_t")
        a = sorted(map(tuple, fresh.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b and len(a) > 0
        got = sorted(
            map(tuple, knn_components_from_edges(back, 0.2).collect())
        )
        want = sorted(
            map(
                tuple,
                knn_graph_components(
                    emb, "vec_id", "embedding", 0.2, k=4, num_centroids=8,
                    rounds=2, groups=8, work_degree=12,
                ).collect(),
            )
        )
        assert got == want and len(got) > 0
        # id-keyed aggregation over the bucketed table: no Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            agg = back.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
            n_ex = count_exchanges(agg)
            assert n_ex == 0, explain_str(agg, "simple")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS knn_edges_t")
