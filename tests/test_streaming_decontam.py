"""Streaming decontamination index: batch ≡ stream flag parity, late
eval batches catching previously-clean documents, replay absorption,
crash-window recovery (pointer-commit semantics), compaction, shingle
width guard."""

from __future__ import annotations

import json
import os

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.decontam import (
    compact_decontam_index,
    flag_contaminated,
    streaming_decontam_index,
)

N = 4  # shingle width under test


def _eval_text(i: int) -> str:
    return " ".join(f"e{i}w{j}" for j in range(12))


def _corpus(spark):
    """Docs 0/1 quote 4+ consecutive words of eval docs 0/10 (batch-1
    and batch-2 eval material respectively); 2..5 are clean."""
    rows = [
        (0, "intro " + " ".join(f"e0w{j}" for j in range(3, 8)) + " outro"),
        (1, " ".join(f"e10w{j}" for j in range(5, 9))),
    ]
    rows += [(i, " ".join(f"c{i}w{j}" for j in range(10))) for i in range(2, 6)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _df(spark, ids):
    return spark.createDataFrame(
        [(i, _eval_text(i)) for i in ids], "doc_id long, text string"
    )


def _run(spark, src, store, ckpt, schema):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_decontam_index(
        stream, "doc_id", "text", str(store), str(ckpt), n=N
    )
    q.awaitTermination(120)
    q.stop()


def _flags(spark, store, corpus):
    return {r["id"] for r in flag_contaminated(spark, str(store), corpus, "doc_id", "text").collect()}


def _feed_all(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "idx"
    b1, b2 = _df(spark, range(8)), _df(spark, range(10, 14))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_flags_match_batch_operator(spark, tmp_path):
    """Flags against the incrementally-built index equal the batch
    n-gram-overlap operator on the full eval union — and a late eval
    batch catches a document that was clean against the early index."""
    from spark_ifs_spark.operators.dedup import contaminated_ids

    src, store = tmp_path / "feed", tmp_path / "idx"
    corpus = _corpus(spark)
    b1, b2 = _df(spark, range(8)), _df(spark, range(10, 14))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    assert _flags(spark, store, corpus) == {0}  # doc 1 clean so far
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    got = _flags(spark, store, corpus)
    assert got == {0, 1}
    batch = {
        r["id"]
        for r in contaminated_ids(
            corpus, b1.unionByName(b2), "doc_id", "text", n=N
        ).collect()
    }
    assert got == batch


def test_replay_identical_feed_absorbed(spark, tmp_path):
    src, store, _ = _feed_all(spark, tmp_path)
    before = _flags(spark, store, _corpus(spark))
    wm = json.load(open(_pointer_path(str(store))))["last_batch_id"]
    _run(spark, src, store, tmp_path / "ck_replay", _df(spark, [0]).schema)
    assert _flags(spark, store, _corpus(spark)) == before
    assert json.load(open(_pointer_path(str(store))))["last_batch_id"] == wm


def test_lost_pointer_update_recovered_idempotently(spark, tmp_path):
    """Crash window: batch 1's digest directory written but pointer and
    sink commit lost. Rolled-back watermark hides the orphan; replaying
    from the pre-crash checkpoint rewrites identical bytes and restores
    the watermark."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "idx"
    corpus = _corpus(spark)
    b1, b2 = _df(spark, range(8)), _df(spark, range(10, 14))
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    assert _flags(spark, store, corpus) == {0, 1}
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0  # roll back: batch 1 "uncommitted"
    json.dump(state, open(p, "w"))
    assert _flags(spark, store, corpus) == {0}  # orphan invisible
    _run(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _flags(spark, store, corpus) == {0, 1}
    assert json.load(open(p))["last_batch_id"] == 1


def test_compaction_dedups_and_preserves_flags(spark, tmp_path):
    src, store, _ = _feed_all(spark, tmp_path)
    corpus = _corpus(spark)
    before = _flags(spark, store, corpus)
    compact_decontam_index(spark, str(store))
    assert _flags(spark, store, corpus) == before
    dirs = [d for d in os.listdir(store) if d.startswith("corpus-v")]
    assert dirs == ["corpus-v1"]
    # a new eval batch after compaction still extends the index
    b3 = _df(spark, [20])
    extra = spark.createDataFrame(
        [(9, " ".join(f"e20w{j}" for j in range(4)))], "doc_id long, text string"
    )
    b3.write.parquet(str(src / "f3.parquet"))
    _run(spark, src, store, tmp_path / "ck", b3.schema)
    assert _flags(spark, store, corpus.unionByName(extra)) == before | {9}


def test_shingle_width_mismatch_is_a_hard_error(spark, tmp_path):
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, store, _ = _feed_all(spark, tmp_path)
    b3 = _df(spark, [30])
    b3.write.parquet(str(src / "f3.parquet"))
    stream = spark.readStream.schema(b3.schema).parquet(str(src) + "/*")
    q = streaming_decontam_index(
        stream, "doc_id", "text", str(store), str(tmp_path / "ck_bad"), n=N + 1
    )
    with pytest.raises(StreamingQueryException, match="built with"):
        q.awaitTermination(120)
