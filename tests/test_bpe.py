"""BPE trainer: fold-merge semantics vs the reference sequential
algorithm, and in-core vs distributed path agreement."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ifs_spark.operators import unigram as unigram_mod
from spark_ifs_spark.operators.bpe import (
    _merge_incore,
    bpe_train,
    merge_pair_expr,
)


def test_merge_pair_expr_matches_sequential_reference(spark):
    cases = [
        (["a", "a", "a"], "a", "a"),        # odd run: aa + a
        (["a", "a", "a", "a"], "a", "a"),   # even run: aa + aa
        (["x", "y", "x", "y"], "x", "y"),   # back-to-back pairs
        (["b", "x", "y", "y"], "x", "y"),   # merge then trailing y
        (["x"], "x", "y"),                  # too short
        (["y", "x"], "x", "y"),             # wrong order
        (["x", "y", "y", "x", "x", "y"], "x", "y"),
    ]
    for s, x, y in cases:
        got = (
            spark.createDataFrame([(s,)], "s array<string>")
            .select(merge_pair_expr(F.col("s"), x, y).alias("m"))
            .first()["m"]
        )
        assert got == _merge_incore(s, x, y), (s, x, y, got)


def test_bpe_train_tiny_corpus(spark):
    # "ab" x3, "abc" x2 -> pair (a,b) count 5 wins round 1; round 2
    # pairs: (ab,c) count 2
    df = spark.createDataFrame(
        [("ab ab abc",), ("ab abc",)], "text string"
    )
    rows = [
        (r["rank"], r["x"], r["y"], r["n"])
        for r in bpe_train(df, "text", 2).orderBy("rank").collect()
    ]
    assert rows == [(0, "a", "b", 5), (1, "ab", "c", 2)]


def test_bpe_paths_agree(spark, sf_dir, monkeypatch):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    incore = [
        tuple(r)
        for r in bpe_train(docs, "text", 6).orderBy("rank").collect()
    ]
    monkeypatch.setattr(unigram_mod, "INCORE_VOCAB_BUDGET", 0)
    dist = [
        tuple(r)
        for r in bpe_train(docs, "text", 6).orderBy("rank").collect()
    ]
    assert incore == dist
    assert len(incore) == 6


def test_bpe_encode_counts(spark):
    # merges: (a,b)->ab then (ab,c)->abc
    df = spark.createDataFrame(
        [(1, "abc ab d"), (2, "ba abc abc")], "doc_id long, text string"
    )
    from spark_ifs_spark.operators.bpe import bpe_encode

    got = {
        r["id"]: r["n_tokens"]
        for r in bpe_encode(
            df, "doc_id", "text", [("a", "b"), ("ab", "c")]
        ).collect()
    }
    # doc1: abc->1 token, ab->1, d->1 = 3; doc2: ba->2, abc->1, abc->1 = 4
    assert got == {1: 3, 2: 4}


def test_bpe_tokenizer_pipeline_stage(spark, tmp_path):
    from spark_ifs_spark.ml import BpeTokenizer, BpeTokenizerModel

    df = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "ab abc")], "doc_id long, text string"
    )
    model = BpeTokenizer(numMerges=2, inputCol="text").fit(df)
    assert model.getMerges() == [("a", "b"), ("ab", "c")]
    got = {
        r["doc_id"]: r["tokens"] for r in model.transform(df).collect()
    }
    assert got == {1: ["ab", "ab", "abc"], 2: ["ab", "abc"]}
    # persistence round trip keeps the merge table
    path = str(tmp_path / "bpe_model")
    model.save(path)
    loaded = BpeTokenizerModel.load(path)
    assert loaded.getMerges() == model.getMerges()
    got2 = {
        r["doc_id"]: r["tokens"] for r in loaded.transform(df).collect()
    }
    assert got2 == got
