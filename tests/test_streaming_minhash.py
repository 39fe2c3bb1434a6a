"""Streaming incremental MinHash dedup: batch ≡ stream parity, replay
absorption, crash-window recovery (pointer-commit semantics),
compaction, parameter guard."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.minhash import (
    compact_minhash_index,
    read_pairs,
    streaming_minhash_dedup,
)

PARAMS = dict(n=3, num_hashes=16, rows_per_band=2, threshold=0.5, seed=42)


def _text(i: int, dup_of: int | None = None) -> str:
    # per-doc-unique vocabulary: unrelated docs share ZERO shingles, a
    # near-dup differs in the last word only (1 of 18 trigram shingles)
    base = dup_of if dup_of is not None else i
    words = [f"d{base}w{j}" for j in range(20)]
    if dup_of is not None:
        words[-1] = f"alt{i}"
    return " ".join(words)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _b1(spark):
    rows = [(i, _text(i)) for i in range(8)]
    rows.append((100, _text(100, dup_of=0)))  # within-batch near-dup
    return _df(spark, rows)


def _b2(spark):
    rows = [(8, _text(8)), (9, _text(9))]
    rows += [(101, _text(101, dup_of=1)), (102, _text(102, dup_of=2))]
    return _df(spark, rows)


def _run(spark, src, store, ckpt, schema):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_minhash_dedup(
        stream, "doc_id", "text", str(store), str(ckpt), **PARAMS
    )
    q.awaitTermination(120)
    q.stop()  # deregister from the manager before the next same-ck run


def _pair_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }


def _feed_all(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1, b2 = _b1(spark), _b2(spark)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_pairs_match_batch_operator(spark, tmp_path):
    """The union of per-batch pair outputs equals the batch all-pairs
    operator on the full corpus at the same parameters — the corpus is
    never self-joined, yet nothing is missed."""
    from spark_ifs_spark.operators.dedup import minhash_lsh_pairs

    _, store, all_docs = _feed_all(spark, tmp_path)
    streamed = _pair_set(read_pairs(spark, str(store)))
    batch = _pair_set(minhash_lsh_pairs(all_docs, "doc_id", "text", **PARAMS))
    assert streamed == batch
    # the planted near-dups are all found
    found = {(a, b) for a, b, _ in streamed}
    assert {(0, 100), (1, 101), (2, 102)} <= found
    # and nothing merely coincidental: every pair is a planted one
    assert found == {(0, 100), (1, 101), (2, 102)}


def test_replay_identical_feed_absorbed(spark, tmp_path):
    """Re-running the IDENTICAL feed with a fresh checkpoint must not
    duplicate pairs or postings (same cross-checkpoint scope as
    streaming/ann.py)."""
    src, store, _ = _feed_all(spark, tmp_path)
    before = _pair_set(read_pairs(spark, str(store)))
    _run(spark, src, store, tmp_path / "ck_replay", _b1(spark).schema)
    after = _pair_set(read_pairs(spark, str(store)))
    assert before == after and len(after) == 3


def test_lost_pointer_update_recovered_idempotently(spark, tmp_path):
    """Crash window: batch 1's data directories written but BOTH the
    pointer update and the sink commit were lost (driver died inside
    foreachBatch). Restarting on the SAME checkpoint replays batch 1
    with identical rows; the rewrite is byte-idempotent and the
    watermark is restored."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "idx"
    b1, b2 = _b1(spark), _b2(spark)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    # snapshot the checkpoint as it stood BEFORE batch 1 — the state a
    # crashed driver restarts from when batch 1's sink commit was lost
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    before = _pair_set(read_pairs(spark, str(store)))
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0  # roll back: batch 1 "uncommitted"
    json.dump(state, open(p, "w"))
    # orphan batch=1 dirs are now invisible to readers
    assert len(_pair_set(read_pairs(spark, str(store)))) < len(before)
    # restart from the pre-crash checkpoint: batch 1 replays with the
    # same rows, the rewrite is byte-idempotent, watermark restored
    _run(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _pair_set(read_pairs(spark, str(store))) == before
    assert json.load(open(p))["last_batch_id"] == 1


def test_compaction_preserves_index_and_future_dedup(spark, tmp_path):
    """Compaction rewrites postings into a new version under one
    atomic pointer swing; pairs survive, later batches still dedup
    against the compacted corpus, exactly one version dir remains."""
    src, store, _ = _feed_all(spark, tmp_path)
    before = _pair_set(read_pairs(spark, str(store)))
    compact_minhash_index(spark, str(store))
    assert _pair_set(read_pairs(spark, str(store))) == before
    dirs = [d for d in os.listdir(store) if d.startswith("corpus-v")]
    assert dirs == ["corpus-v1"]
    # a new batch with a near-dup of a COMPACTED document is caught
    b3 = _df(spark, [(103, _text(103, dup_of=3))])
    b3.write.parquet(str(src / "f3.parquet"))
    _run(spark, src, store, tmp_path / "ck", b3.schema)
    found = {(a, b) for a, b, _ in _pair_set(read_pairs(spark, str(store)))}
    assert (3, 103) in found


def test_parameter_mismatch_is_a_hard_error(spark, tmp_path):
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, store, _ = _feed_all(spark, tmp_path)
    b3 = _df(spark, [(200, _text(200))])
    b3.write.parquet(str(src / "f3.parquet"))
    stream = spark.readStream.schema(b3.schema).parquet(str(src) + "/*")
    bad = dict(PARAMS)
    bad["rows_per_band"] = 4
    q = streaming_minhash_dedup(
        stream, "doc_id", "text", str(store), str(tmp_path / "ck_bad"), **bad
    )
    with pytest.raises(StreamingQueryException, match="built with"):
        q.awaitTermination(120)
