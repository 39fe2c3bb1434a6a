"""Streaming kNN-graph maintenance (streaming/knn.py): batch ≡ stream
parity (the per-batch transition is a pure function of prior state +
batch), replay absorption, crash-window (orphan-version) recovery,
compaction preserving the live edge view, and insertion quality —
new nodes link to genuinely-near corpus nodes via the beam walk."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.knn import (
    _insert_batch,
    compact_knn_graph,
    read_knn_edges,
    read_knn_vectors,
    streaming_knn_graph,
)

KNOBS = dict(k=3, work_degree=9, num_centroids=4, ef=12, hops=2,
             n_entry=6, scale=1024)


def _vec(i: int, dims: int = 8) -> list[float]:
    # two ORTHOGONAL smooth chains (the planted-cluster recipe from
    # test_knn.py): cluster c lives in its own coordinate pair with a
    # slowly-varying parameter, so within-cluster cosines are high and
    # cross-cluster cosines are ~0 — nearest neighbors are meaningful
    c = i % 2
    t = (i // 2) * 0.03
    v = [0.0] * dims
    v[4 * c] = 1.0
    v[4 * c + 1] = t
    v[4 * c + 2] = 0.5 + ((i // 2) % 5) * 0.05
    return v


def _mk_batch(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )


def _run(spark, src, store, ckpt, schema):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_knn_graph(
        stream, "vec_id", "embedding", str(store), str(ckpt), **KNOBS
    )
    q.awaitTermination(180)


def _edges(spark, store):
    return {
        (r["id"], r["nb"], r["score"], r["rank"])
        for r in read_knn_edges(spark, str(store)).collect()
    }


def test_streaming_knn_batch_stream_parity(spark, tmp_path):
    """The streamed graph equals a driver-side loop of the SAME
    per-batch transition over the same splits — the pure-function
    parity contract (stream mechanics add nothing but delivery)."""
    src, store = tmp_path / "feed", tmp_path / "g"
    b1, b2 = _mk_batch(spark, range(0, 40)), _mk_batch(spark, range(40, 60))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    streamed = _edges(spark, store)

    loop_store = tmp_path / "g_loop"
    for bid, b in enumerate([b1, b2]):
        _insert_batch(spark, str(loop_store), b, bid, **KNOBS)
    assert streamed == _edges(spark, loop_store)
    # well-formed live view: every node present, ranks 1..deg, deg <= k
    per = {}
    for i, nb, s, rk in streamed:
        assert i != nb
        per.setdefault(i, []).append((rk, nb, s))
    assert set(per) == set(range(60))
    for i, lst in per.items():
        lst.sort()
        assert [rk for rk, _, _ in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= KNOBS["k"]
    # vectors store covers the full corpus
    assert read_knn_vectors(spark, str(store)).count() == 60


def test_streaming_knn_insertion_links_are_near(spark, tmp_path):
    """Inserted nodes must link within their own planted cluster —
    the beam walk finds the neighborhood, not arbitrary nodes (the
    two chains sit far apart in cosine)."""
    src, store = tmp_path / "feed", tmp_path / "g"
    b1, b2 = _mk_batch(spark, range(0, 40)), _mk_batch(spark, range(40, 56))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    live = read_knn_edges(spark, str(store))
    new_links = live.filter(F.col("id") >= 40).collect()
    assert {r["id"] for r in new_links} == set(range(40, 56))
    same = sum(1 for r in new_links if r["id"] % 2 == r["nb"] % 2)
    assert same >= 0.8 * len(new_links)
    # touched corpus nodes may now list new arrivals — and when they
    # do, the edge is cluster-consistent too
    back = live.filter((F.col("id") < 40) & (F.col("nb") >= 40)).collect()
    assert all(r["id"] % 2 == r["nb"] % 2 for r in back)


def test_streaming_knn_replay_absorbed_and_compaction(spark, tmp_path):
    """Re-running the identical feed under a fresh checkpoint must not
    change the graph (per-batch overwrite + watermark); compaction
    folds deltas into one base preserving the live view exactly."""
    src, store = tmp_path / "feed", tmp_path / "g"
    b1, b2 = _mk_batch(spark, range(0, 30)), _mk_batch(spark, range(30, 45))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    before = _edges(spark, store)
    _run(spark, src, store, tmp_path / "ck2", b1.schema)  # full replay
    assert _edges(spark, store) == before
    compact_knn_graph(spark, str(store))
    assert _edges(spark, store) == before
    state = json.load(open(_pointer_path(str(store))))
    assert state["dir"] == "edges-v1"
    # base-only layout: exactly one batch directory remains
    dirs = os.listdir(str(store / "edges-v1"))
    assert dirs == ["batch=-1"]


def test_streaming_knn_orphan_version_swept(spark, tmp_path):
    """A compaction that wrote its new version but died before the
    pointer commit leaves the old version live; the next compaction
    sweeps the orphan and completes."""
    src, store = tmp_path / "feed", tmp_path / "g"
    b1 = _mk_batch(spark, range(0, 25))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    before = _edges(spark, store)
    orphan = store / "edges-v1"
    os.makedirs(orphan / "batch=-1")
    (orphan / "batch=-1" / "junk").write_text("torn write")
    assert _edges(spark, store) == before  # pointer still serves v0
    compact_knn_graph(spark, str(store))
    assert _edges(spark, store) == before
    assert not (orphan / "batch=-1" / "junk").exists()
    assert json.load(open(_pointer_path(str(store))))["dir"] == "edges-v1"


def test_vector_redelivery_updates_not_duplicates(spark, tmp_path):
    """An id re-delivered in a LATER batch (at-least-once across a
    checkpoint reset) must UPDATE its vector — read_knn_vectors returns
    one row per id, the highest batch winning, so the insertion walk
    never scores two copies of the same corpus node."""
    store = tmp_path / "store"
    _insert_batch(spark, str(store), _mk_batch(spark, range(10)), 0, **KNOBS)
    redelivered = spark.createDataFrame(
        [(3, _vec(23))], "vec_id long, embedding array<double>"
    )
    _insert_batch(spark, str(store), redelivered, 1, **KNOBS)
    vecs = read_knn_vectors(spark, str(store)).collect()
    assert len(vecs) == 10
    by_id = {r["id"]: r["vec"] for r in vecs}
    assert by_id[3] == _vec(23)  # the re-delivered vector won
