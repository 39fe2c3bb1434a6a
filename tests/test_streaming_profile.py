"""Streaming corpus-profile maintenance: exact batch ≡ stream parity
(KMV mergeability), replay absorption, crash-window recovery
(pointer-commit semantics), compaction-equivalence, parameter guard."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import _pointer_path
from spark_ifs_spark.streaming.profile import (
    compact_profile,
    read_profile,
    streaming_profile,
)

K = 32


def _text(i: int) -> str:
    # per-doc vocabulary overlapping within a source: doc i contributes
    # words s<source>w<j> for j in a doc-dependent range, so per-source
    # distinct counts are nontrivial and exceed K for source 0
    src = i % 3
    return " ".join(f"s{src}w{(i * 7 + j) % 60}" for j in range(20))


def _df(spark, lo, hi):
    rows = [(i, _text(i), f"src{i % 3}") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _run(spark, src, store, ckpt, schema, k=K):
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = streaming_profile(stream, "text", "source", str(store), str(ckpt), k=k)
    q.awaitTermination(120)
    q.stop()


def _profile_map(spark, store):
    return {
        r["source"]: (
            r["n_docs"], r["n_chars"], r["n_tokens"], r["n_sketch"],
            r["kth_h"], r["est_vocab"],
        )
        for r in read_profile(spark, str(store)).collect()
    }


def _feed_all(spark, tmp_path, ck="ck"):
    src, store = tmp_path / "feed", tmp_path / "prof"
    b1, b2 = _df(spark, 0, 24), _df(spark, 24, 40)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / ck, b1.schema)
    return src, store, b1.unionByName(b2)


def test_streamed_profile_matches_batch_computation(spark, tmp_path):
    """EXACT equality with the one-shot batch computation on the full
    corpus — counts by additivity, vocabulary because the k smallest
    hashes of a union are contained in the union of per-batch
    k-smallest sets (KMV mergeability). Not approximate parity: the
    same integers come out."""
    from spark_ifs_spark.operators.sketches import kmv_estimate, kmv_sketch

    _, store, all_docs = _feed_all(spark, tmp_path)
    streamed = _profile_map(spark, store)
    counts = {
        r["source"]: (r["n_docs"], r["n_chars"], r["n_tokens"])
        for r in all_docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.sum(
                F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
            )
            .cast("long")
            .alias("n_tokens"),
        )
        .collect()
    }
    terms = all_docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    sk = kmv_sketch(terms, ["source"], "term", k=K).select("source", "h")
    est = {
        r["source"]: (r["n_sketch"], r["kth_h"], r["est_distinct"])
        for r in kmv_estimate(sk, ["source"], k=K).collect()
    }
    assert set(streamed) == {"src0", "src1", "src2"}
    for s, (nd, nc, nt, nsk, kth, ev) in streamed.items():
        assert (nd, nc, nt) == counts[s]
        assert (nsk, kth, ev) == est[s]
    # source 0 has > K distinct terms, so the estimator path (not the
    # exact-count branch) is actually exercised
    assert streamed["src0"][3] == K


def test_replay_identical_feed_absorbed(spark, tmp_path):
    src, store, _ = _feed_all(spark, tmp_path)
    before = _profile_map(spark, store)
    _run(spark, src, store, tmp_path / "ck_replay", _df(spark, 0, 1).schema)
    assert _profile_map(spark, store) == before


def test_lost_pointer_update_recovered_idempotently(spark, tmp_path):
    """Crash window: batch 1's partials written but pointer + sink
    commit lost. Orphans are invisible to readers; replay from the
    pre-crash checkpoint rewrites the same bytes and restores the
    watermark."""
    import shutil

    src, store = tmp_path / "feed", tmp_path / "prof"
    b1, b2 = _df(spark, 0, 24), _df(spark, 24, 40)
    b1.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    shutil.copytree(tmp_path / "ck", tmp_path / "ck_crash")
    b2.write.parquet(str(src / "f2.parquet"))
    _run(spark, src, store, tmp_path / "ck", b1.schema)
    before = _profile_map(spark, store)
    p = _pointer_path(str(store))
    state = json.load(open(p))
    assert state["last_batch_id"] == 1
    state["last_batch_id"] = 0
    json.dump(state, open(p, "w"))
    rolled = _profile_map(spark, store)
    assert rolled != before  # batch 1's contribution invisible
    _run(spark, src, store, tmp_path / "ck_crash", b1.schema)
    assert _profile_map(spark, store) == before
    assert json.load(open(p))["last_batch_id"] == 1


def test_compaction_is_answer_preserving(spark, tmp_path):
    """Folding partials into one row/sketch per source answers
    IDENTICALLY (the KMV merge is associative), exactly one version
    dir remains, and later appends keep folding correctly."""
    src, store, _ = _feed_all(spark, tmp_path)
    before = _profile_map(spark, store)
    compact_profile(spark, str(store))
    assert _profile_map(spark, store) == before
    dirs = [d for d in os.listdir(store) if d.startswith("profile-v")]
    assert dirs == ["profile-v1"]
    b3 = _df(spark, 40, 52)
    b3.write.parquet(str(src / "f3.parquet"))
    _run(spark, src, store, tmp_path / "ck", b3.schema)
    after = _profile_map(spark, store)
    assert after["src0"][0] == before["src0"][0] + 4  # 4 new src0 docs


def test_parameter_mismatch_is_a_hard_error(spark, tmp_path):
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, store, _ = _feed_all(spark, tmp_path)
    b3 = _df(spark, 60, 61)
    b3.write.parquet(str(src / "f3.parquet"))
    stream = spark.readStream.schema(b3.schema).parquet(str(src) + "/*")
    q = streaming_profile(
        stream, "text", "source", str(store), str(tmp_path / "ck_bad"), k=64
    )
    with pytest.raises(StreamingQueryException, match="built with"):
        q.awaitTermination(120)


def test_whitespace_runs_count_no_phantom_tokens(spark, tmp_path):
    """Consecutive/leading/trailing spaces split into '' elements;
    n_tokens must count only non-empty tokens (the term-relation
    convention), not raw split elements — 'a  b' is 2 tokens, not 3."""
    src, store = tmp_path / "feed", tmp_path / "prof"
    rows = [(0, "a  b", "srcA"), (1, " c ", "srcA"), (2, "   ", "srcB")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", df.schema)
    prof = _profile_map(spark, store)
    # srcA: 'a  b' -> 2 + ' c ' -> 1; srcB: all-space doc -> 0 tokens,
    # empty vocabulary (matches the term relation, which drops '')
    assert prof["srcA"][2] == 3
    nd, nc, nt, nsk, kth, ev = prof["srcB"]
    assert (nd, nc, nt) == (1, 3, 0)
    assert (nsk, kth, ev) == (0, 0, 0)


def test_null_text_is_folded_as_empty_not_dropped(spark, tmp_path):
    """A NULL-text document must not decrement token counts (the
    size(split(NULL)) == -1 trap) nor erase its source from the
    profile; it folds as an empty string."""
    src, store = tmp_path / "feed", tmp_path / "prof"
    rows = [(0, "a b c", "srcA"), (1, None, "srcB"), (2, None, "srcB")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.write.parquet(str(src / "f1.parquet"))
    _run(spark, src, store, tmp_path / "ck", df.schema)
    prof = _profile_map(spark, store)
    assert set(prof) == {"srcA", "srcB"}
    nd, nc, nt, nsk, kth, ev = prof["srcB"]
    assert nd == 2 and nc == 0
    # empty text contributes ZERO tokens (not the phantom [''] token)
    # and the empty term never enters the vocabulary sketch, so an
    # all-empty source reads back through the zero-filled left join
    assert nt == 0
    assert (nsk, kth, ev) == (0, 0, 0)
