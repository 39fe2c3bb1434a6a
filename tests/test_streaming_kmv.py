"""Streaming KMV maintenance (streaming/sketch.py): exact
batch ≡ stream parity (bottom-k-of-union is the merge), replay
absorption, crash-window recovery (pointer-commit semantics),
compaction equivalence, parameter guard — the rank-sketch contract
applied to the per-key distinct sketch."""

from __future__ import annotations

import json
import os

import pytest

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.sketch import (
    compact_kmv,
    kmv_index_estimate,
    read_kmv,
    streaming_kmv,
)

K = 16


def _df(spark, lo, hi):
    rows = []
    for i in range(lo, hi):
        rows.append((i, "alpha", f"v{i}"))
        if i % 3 == 0:
            rows.append((i, "beta", f"v{i * 7}"))
    return spark.createDataFrame(rows, "row_id long, src string, v string")


def _run(spark, src, store, ckpt, schema, k=K):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_kmv(stream, ["src"], "v", str(store), str(ckpt), k=k)
    q.awaitTermination(120)
    q.stop()


def _sketch(spark, store):
    return sorted(
        (r["src"], r["h"]) for r in read_kmv(spark, str(store)).collect()
    )


def _feed_all(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "kmv"
    b1, b2 = _df(spark, 0, 60), _df(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_sketch_matches_batch_computation(spark, tmp_path):
    """EXACT row equality with the one-shot kmv_sketch over the
    concatenated stream (the KMV merge law), and the served estimates
    equal the batch estimator's."""
    from spark_ifs_spark.operators.sketches import kmv_estimate, kmv_sketch

    _, store, all_rows = _feed_all(spark, tmp_path)
    want = sorted(
        (r["src"], r["h"])
        for r in kmv_sketch(all_rows, ["src"], "v", k=K).collect()
    )
    assert _sketch(spark, store) == want
    got_est = sorted(
        map(tuple, kmv_index_estimate(spark, str(store)).collect())
    )
    want_est = sorted(
        map(
            tuple,
            kmv_estimate(
                kmv_sketch(all_rows, ["src"], "v", k=K), ["src"], k=K
            ).collect(),
        )
    )
    assert got_est == want_est


def test_replay_identical_feed_absorbed(spark, tmp_path):
    src, store, _ = _feed_all(spark, tmp_path)
    before = _sketch(spark, store)
    _run(spark, src, store, tmp_path / "ck_replay", _df(spark, 0, 1).schema)
    assert _sketch(spark, store) == before


def test_lost_pointer_update_recovered_idempotently(spark, tmp_path):
    """Crash window: batch 1's rows written but pointer commit lost —
    orphans invisible to readers; replay from the pre-crash checkpoint
    rewrites the same bytes and restores the watermark. Batch 2 brings
    FRESH distinct values whose hashes shift the bottom-k, so a pruned
    watermark is observable (the idempotent-merge lesson)."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "kmv"
    b1, b2 = _df(spark, 0, 60), _df(spark, 60, 100)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    before = _sketch(spark, store)
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0
    json.dump(state, open(p, "w"))
    assert _sketch(spark, store) != before  # batch 1 invisible
    _run(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _sketch(spark, store) == before
    assert json.load(open(p))["last_batch_id"] == 1


def test_compaction_is_answer_preserving(spark, tmp_path):
    from spark_ifs_spark.operators.sketches import kmv_sketch

    src, store, _ = _feed_all(spark, tmp_path)
    before = _sketch(spark, store)
    compact_kmv(spark, str(store))
    assert _sketch(spark, store) == before
    vdirs = [d for d in os.listdir(store) if d.startswith("kmv-v")]
    assert vdirs == ["kmv-v1"]
    # later appends keep folding onto the compacted base
    b3 = _df(spark, 100, 120)
    b3.write.parquet(str(src / "f3.parquet"))
    _run(spark, src, store, store.parent / "ck", b3.schema)
    all_rows = _df(spark, 0, 100).unionByName(b3)
    want = sorted(
        (r["src"], r["h"])
        for r in kmv_sketch(all_rows, ["src"], "v", k=K).collect()
    )
    assert _sketch(spark, store) == want


def test_parameter_mismatch_is_a_hard_error(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, store, _ = _feed_all(spark, tmp_path)
    src2 = store.parent / "feed_bad"
    _df(spark, 100, 105).write.parquet(str(src2 / "f.parquet"))
    stream = spark.readStream.schema(_df(spark, 0, 1).schema).parquet(
        str(src2) + "/*"
    )
    q = streaming_kmv(
        stream, ["src"], "v", str(store), str(tmp_path / "ck_bad"), k=K * 2
    )
    with pytest.raises(StreamingQueryException, match="was built with"):
        q.awaitTermination(120)
