"""The pointer-commit protocol (streaming/_pointer.py) as every
maintained streaming index runs it: a path with no pointer is an
error for readers and compactions alike, a batch above the committed
watermark is invisible to the public reader, and an empty micro-batch
neither writes nor commits. Plus a source guard: the protocol's
primitives are used nowhere but in ``_pointer.py``."""

from __future__ import annotations

import json
import os

import pytest

from spark_ifs_spark.streaming import ann, decontam, knn, minhash, profile, sketch
from spark_ifs_spark.streaming._pointer import _pointer_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "id long, w string, text string, emb array<double>"
KNN = dict(k=3, work_degree=9, num_centroids=4, ef=12, hops=2, n_entry=6,
           scale=1024)


def _vec(i: int) -> list[float]:
    return [float((i * (j + 3) + j * j) % 17 - 8) / 8.0 for j in range(8)]


def _rows(spark, lo, hi):
    # ids 2m and 2m+1 share their text (near-dup pairs for minhash);
    # every batch brings new shingles, keys, values and vectors
    return spark.createDataFrame(
        [
            (i, f"k{i % 3}", " ".join(f"d{i // 2}w{j}" for j in range(6)), _vec(i))
            for i in range(lo, hi)
        ],
        SCHEMA,
    )


# name -> (start(stream, store, checkpoint), public reader, compaction)
INDEXES = {
    "cms": (
        lambda s, st, ck: sketch.streaming_cms(s, "w", st, ck, depth=3, width=32),
        sketch.read_cms,
        sketch.compact_cms,
    ),
    "rank_sketch": (
        lambda s, st, ck: sketch.streaming_rank_sketch(s, "id", "id", st, ck, k=64),
        sketch.read_rank_sketch,
        sketch.compact_rank_sketch,
    ),
    "hll": (
        lambda s, st, ck: sketch.streaming_hll(s, ["w"], "id", st, ck, p=6),
        sketch.read_hll_registers,
        sketch.compact_hll,
    ),
    "mg": (
        lambda s, st, ck: sketch.streaming_mg(s, "w", st, ck, k=16),
        sketch.read_mg,
        sketch.compact_mg,
    ),
    "kmv": (
        lambda s, st, ck: sketch.streaming_kmv(s, ["w"], "id", st, ck, k=64),
        sketch.read_kmv,
        sketch.compact_kmv,
    ),
    "profile": (
        lambda s, st, ck: profile.streaming_profile(s, "text", "w", st, ck, k=64),
        profile.read_profile,
        profile.compact_profile,
    ),
    "decontam": (
        lambda s, st, ck: decontam.streaming_decontam_index(
            s, "id", "text", st, ck, n=3
        ),
        lambda spark, st: decontam.flag_contaminated(
            spark, st, _rows(spark, 0, 40), "id", "text"
        ),
        decontam.compact_decontam_index,
    ),
    "minhash": (
        lambda s, st, ck: minhash.streaming_minhash_dedup(s, "id", "text", st, ck),
        minhash.read_pairs,
        minhash.compact_minhash_index,
    ),
    "knn": (
        lambda s, st, ck: knn.streaming_knn_graph(s, "id", "emb", st, ck, **KNN),
        knn.read_knn_edges,
        knn.compact_knn_graph,
    ),
    "ann": (
        # refresh_every=3: an empty third batch (id 2) must not refresh
        lambda s, st, ck: ann.streaming_ivf_index(
            s, "id", "emb", st, ck, num_centroids=4, refresh_every=3
        ),
        lambda spark, st: ann.probe_ivf_index(spark, st, _vec(7), k=100, probe=4),
        lambda spark, st: ann.refresh_ivf_index(spark, st, num_centroids=4),
    ),
}


def _run(spark, name, src, store, ckpt):
    stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
    q = INDEXES[name][0](stream, str(store), str(ckpt))
    q.awaitTermination(180)
    q.stop()


def _answer(spark, name, store):
    return sorted(tuple(r) for r in INDEXES[name][1](spark, str(store)).collect())


def _feed(spark, tmp_path, name, spans):
    """Stream one batch per ``(lo, hi)`` span under one checkpoint."""
    src, store = tmp_path / "feed", tmp_path / name
    for n, (lo, hi) in enumerate(spans):
        _rows(spark, lo, hi).write.parquet(str(src / f"f{n}.parquet"))
        _run(spark, name, src, store, tmp_path / "ck")
    return src, store


@pytest.mark.parametrize("name", INDEXES)
def test_uncommitted_state_is_invisible(spark, tmp_path, name):
    """No pointer: the public reader and the compaction both raise
    FileNotFoundError. A ``batch=N`` directory above the watermark (a
    batch whose pointer commit was lost) is invisible to the reader."""
    _, read, compact = INDEXES[name]
    bare = tmp_path / "no_pointer"
    bare.mkdir()
    with pytest.raises(FileNotFoundError):
        read(spark, str(bare))
    with pytest.raises(FileNotFoundError):
        compact(spark, str(bare))

    src, store = _feed(spark, tmp_path, name, [(0, 20)])
    committed = _answer(spark, name, store)
    _rows(spark, 20, 40).write.parquet(str(src / "f1.parquet"))
    _run(spark, name, src, store, tmp_path / "ck")
    assert _answer(spark, name, store) != committed  # batch 1 moves the answer
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0  # roll back: batch 1 "uncommitted"
    json.dump(state, open(p, "w"))
    assert _answer(spark, name, store) == committed


def _snapshot(spark, name, store):
    dirs = sorted(os.path.relpath(d, store) for d, _, _ in os.walk(store))
    return json.load(open(_pointer_path(str(store)))), dirs, _answer(spark, name, store)


@pytest.mark.parametrize("name", INDEXES)
def test_empty_batch_never_writes_or_commits(spark, tmp_path, name):
    """An empty micro-batch must not write an empty partial or churn
    the pointer once the index exists (for ann: nor trigger the
    refresh its batch id is due for)."""
    src, store = _feed(spark, tmp_path, name, [(0, 20), (20, 40)])
    before = _snapshot(spark, name, store)
    _rows(spark, 0, 0).write.parquet(str(src / "f_empty.parquet"))
    _run(spark, name, src, store, tmp_path / "ck")
    assert _snapshot(spark, name, store) == before


def test_pointer_primitives_live_only_in_pointer_module():
    """Source guard: the pointer read/commit and the atomic replace are
    called only by ``streaming/_pointer.py``, so no module can re-grow
    its own copy of the protocol."""
    pkg = os.path.join(REPO, "spark_ifs_spark")
    home = os.path.join(pkg, "streaming", "_pointer.py")
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == home:
                continue
            txt = open(path).read()
            offenders += [
                (os.path.relpath(path, REPO), tok)
                for tok in ("_read_state", "_commit_state", "os.replace")
                if tok in txt
            ]
    assert not offenders, f"pointer primitives outside _pointer.py: {offenders}"
