"""Streaming IVF index maintenance (streaming/ann.py): batch ≡ stream
parity, replay absorption, crash-window recovery (pointer-commit
semantics), refresh compaction, probe pruning."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.ann import (
    corpus_dir,
    probe_ivf_index,
    read_centroids,
    refresh_ivf_index,
    streaming_ivf_index,
)


def _vec(i: int, dims: int = 8) -> list[float]:
    # deterministic, spread-out unit-ish vectors
    return [float((i * (j + 3) + j * j) % 17 - 8) / 8.0 for j in range(dims)]


def _mk_batch(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )


def _run(spark, src, store, ckpt, schema, refresh_every):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_ivf_index(
        stream, "vec_id", "embedding", str(store), str(ckpt),
        num_centroids=4, refresh_every=refresh_every,
    )
    q.awaitTermination(120)


def _index_rows(spark, store):
    return {
        (r["id"], r["cell"])
        for r in spark.read.parquet(corpus_dir(str(store))).select("id", "cell").collect()
    }


def test_streamed_index_matches_batch_build_after_refresh(spark, tmp_path):
    """After the final refresh, the streamed index equals a one-shot
    write_ivf_corpus of the same vectors: same rows, same cells, same
    centroids."""
    from spark_ifs_spark.sources.sinks import write_ivf_corpus

    src, store = tmp_path / "feed", tmp_path / "idx"
    b1, b2 = _mk_batch(spark, range(0, 40)), _mk_batch(spark, range(40, 90))
    b1.write.parquet(str(src / "f1.parquet"))
    schema = b1.schema
    _run(spark, src, store, tmp_path / "ck", schema, refresh_every=1)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", schema, refresh_every=1)

    batch_path = tmp_path / "batch_idx"
    all_vecs = b1.unionByName(b2)
    cents_batch = write_ivf_corpus(
        all_vecs, "vec_id", "embedding", str(batch_path), num_centroids=4
    )
    assert read_centroids(str(store)) == [
        (c, [float(x) for x in v]) for c, v in cents_batch
    ]
    oneshot = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(str(batch_path)).collect()
    }
    streamed = _index_rows(spark, store)
    assert streamed == oneshot and len(streamed) == 90


def test_replay_is_absorbed(spark, tmp_path):
    """Re-running the IDENTICAL feed with a fresh checkpoint
    (at-least-once replay) must not duplicate rows — batch-directory
    overwrite + watermark absorb it. Identical feed is the supported
    cross-checkpoint case: with no new source files, every batch the
    new run forms is a subset of what the watermark already covers.
    A fresh checkpoint over a feed that ALSO has new files is
    unsupported (documented in ``_append``) — new rows could be
    grouped into an already-absorbed batch id and skipped."""
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1 = _mk_batch(spark, range(0, 30))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    n1 = len(_index_rows(spark, store))
    _run(spark, src, store, tmp_path / "ck_replay", b1.schema, refresh_every=0)
    n2 = len(_index_rows(spark, store))
    assert n1 == n2 == 30


def test_lost_pointer_update_is_recovered_idempotently(spark, tmp_path):
    """Crash window: batch data committed but the pointer update lost.
    A replay must rewrite the same batch directory verbatim — no
    duplicates, watermark restored."""
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1 = _mk_batch(spark, range(0, 25))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    # simulate the lost pointer update: roll the watermark back
    p = _pointer_path(str(store))
    state = json.load(open(p))
    state["last_batch_id"] = -1
    json.dump(state, open(p, "w"))
    _run(spark, src, store, tmp_path / "ck2", b1.schema, refresh_every=0)
    rows = _index_rows(spark, store)
    assert len(rows) == 25
    assert json.load(open(p))["last_batch_id"] == 0


def test_orphan_version_from_crashed_refresh_is_swept(spark, tmp_path):
    """Crash window: refresh wrote its new version directory but died
    before the pointer commit. The pointer still serves the old
    complete version; the next refresh sweeps the orphan and
    completes."""
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1 = _mk_batch(spark, range(0, 25))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    orphan = store / "corpus-v1"
    os.makedirs(orphan / "batch=-1")
    (orphan / "batch=-1" / "junk").write_text("torn write")
    # index still fully readable through the pointer
    assert len(_index_rows(spark, store)) == 25
    refresh_ivf_index(spark, str(store), num_centroids=4)
    assert len(_index_rows(spark, store)) == 25
    assert not (orphan / "batch=-1" / "junk").exists()
    assert json.load(open(_pointer_path(str(store))))["dir"] == "corpus-v1"


def test_probe_prunes_partitions_and_ranks(spark, tmp_path):
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1 = _mk_batch(spark, range(0, 60))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)

    out = probe_ivf_index(spark, str(store), _vec(7), k=5, probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:300]
    rows = out.collect()
    assert len(rows) == 5
    # the query vector itself is in the corpus -> must rank first
    assert rows[0]["id"] == 7 and abs(rows[0]["cos"] - 1.0) < 1e-9
    # scores descend
    assert all(rows[i]["cos"] >= rows[i + 1]["cos"] for i in range(4))


def test_refresh_is_idempotent_and_commits_atomically(spark, tmp_path):
    """Refreshing twice changes nothing (same corpus, same
    deterministic centroids, version advances); centroids and corpus
    always come from the SAME pointer commit."""
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1 = _mk_batch(spark, range(0, 25))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    refresh_ivf_index(spark, str(store), num_centroids=4)
    c1, r1 = read_centroids(str(store)), sorted(_index_rows(spark, store))
    refresh_ivf_index(spark, str(store), num_centroids=4)
    c2, r2 = read_centroids(str(store)), sorted(_index_rows(spark, store))
    assert c1 == c2 and r1 == r2
    state = json.load(open(_pointer_path(str(store))))
    assert state["version"] == 2 and state["dir"] == "corpus-v2"
    # exactly one version directory remains
    dirs = [d for d in os.listdir(store) if d.startswith("corpus-v")]
    assert dirs == ["corpus-v2"]


def test_hot_cell_append_still_prunes_and_refresh_redistributes(spark, tmp_path):
    """Skew stress: a micro-batch whose vectors ALL land in one cell.
    The append must stay per-partition (one hot directory, others
    untouched), probes must still partition-prune — both away from and
    into the hot cell — and a refresh must rewrite the full corpus into
    the canonical one-shot layout (same rows/cells as a batch build of
    the same vectors)."""
    from spark_ifs_spark.sources.sinks import write_ivf_corpus

    src, store = tmp_path / "feed", tmp_path / "idx"
    b1 = _mk_batch(spark, range(0, 40))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    # hot batch: 30 near-identical vectors (one genuine cluster)
    hot = spark.createDataFrame(
        [(1000 + i, [1.0 + 0.001 * i] + [0.001 * i] * 7) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    hot.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)

    rows = {
        r["id"]: r["cell"]
        for r in spark.read.parquet(corpus_dir(str(store))).collect()
    }
    hot_cells = {c for i, c in rows.items() if i >= 1000}
    assert len(hot_cells) == 1  # the skew is real
    hot_cell = hot_cells.pop()
    # probe INTO the hot cell: top-k comes back from the hot cluster
    got = probe_ivf_index(spark, str(store), [1.0] + [0.0] * 7, k=5, probe=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    ids = [r["id"] for r in got.collect()]
    assert len(ids) == 5 and all(i >= 1000 for i in ids)
    # probe AWAY from the hot direction with probe=1: scan stays pruned
    # and never touches the hot cell when it isn't the nearest
    away = probe_ivf_index(spark, str(store), _vec(3), k=3, probe=1)
    cents = dict(read_centroids(str(store)))
    import math

    def cos(q, v):
        nq = math.sqrt(sum(x * x for x in q)) or 1.0
        nv = math.sqrt(sum(x * x for x in v)) or 1.0
        return sum(a * b / (nq * nv) for a, b in zip(q, v))

    nearest = max(cents, key=lambda c: (cos(_vec(3), cents[c]), -c))
    if nearest != hot_cell:
        assert all(rows[r["id"]] != hot_cell for r in away.collect())
    # refresh redistributes into the canonical one-shot layout
    refresh_ivf_index(spark, str(store), num_centroids=4)
    batch_path = tmp_path / "batch_idx"
    write_ivf_corpus(
        b1.unionByName(hot), "vec_id", "embedding", str(batch_path), num_centroids=4
    )
    oneshot = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(str(batch_path)).collect()
    }
    assert _index_rows(spark, store) == oneshot and len(oneshot) == 70


def test_lost_pointer_update_is_invisible_to_probe_and_refresh(spark, tmp_path):
    """Crash window: batch 1's cells written but its pointer commit
    lost. The probe must see only the committed batch; a refresh must
    not absorb the orphan into the compacted version; and replaying
    batch 1 from the pre-crash checkpoint must then land it exactly
    once."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "idx"
    b1, b2 = _mk_batch(spark, range(0, 25)), _mk_batch(spark, range(25, 40))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema, refresh_every=0)
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0  # roll back: batch 1 "uncommitted"
    json.dump(state, open(p, "w"))

    every_cell = probe_ivf_index(spark, str(store), _vec(7), k=100, probe=4)
    ids = [r["id"] for r in every_cell.collect()]
    assert len(ids) == 25 and set(ids) == set(range(25))

    refresh_ivf_index(spark, str(store), num_centroids=4)
    _run(spark, src, store, tmp_path / "ck_crash", b1.schema, refresh_every=0)
    ids = [
        r["id"] for r in spark.read.parquet(corpus_dir(str(store))).collect()
    ]
    assert len(ids) == 40 and set(ids) == set(range(40))
