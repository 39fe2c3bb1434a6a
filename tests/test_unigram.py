"""Unigram-LM tokenizer training (operators/unigram.py)."""

from __future__ import annotations

import math

from spark_ifs_spark.operators import unigram as unigram_mod
from spark_ifs_spark.operators.unigram import (
    _em_incore,
    _viterbi,
    unigram_train,
)


def test_viterbi_prefers_higher_score_then_longer_piece():
    # "abc": pieces a,b,c (-10 each), ab (-15), abc (-25)
    sc = {"a": -10, "b": -10, "c": -10, "ab": -15, "abc": -25}
    # ab+c = -25, a+b+c = -30, abc = -25 -> tie at -25; longer LAST piece
    # wins the dp at j=3: candidates (acc,bl) = (-25,3) vs (ab+c -> (-25,1))
    assert _viterbi("abc", sc, 3) == ["abc"]
    # make the composite strictly better: ab (-5): ab+c = -15 beats abc
    sc2 = {"a": -10, "b": -10, "c": -10, "ab": -5, "abc": -25}
    assert _viterbi("abc", sc2, 3) == ["c", "ab"]  # backtrace order


def test_viterbi_repeated_piece_counts_twice():
    sc = {"a": -10, "b": -10, "ab": -5}
    assert _viterbi("abab", sc, 2) == ["ab", "ab"]


def test_em_incore_matches_hand_reference():
    """Tiny fixture, EM replayed by hand (independent arithmetic)."""
    wf = [("aaab", 10), ("ab", 5), ("b", 3)]
    out = _em_incore(
        wf, max_piece=2, min_count=8, em_rounds=1, prune_top=4, vocab_keep=10
    )
    # candidates (weighted): a:10*3+5=35? -> positions: "aaab" has a at
    # 0,1,2 (3 per occurrence * 10 = 30) + "ab" a:1*5 = 35; b: 10+5+3=18;
    # aa: 2*10=20; ab: 10+5=15; min_count=8 keeps all four.
    # total0 = 35+18+20+15 = 88
    s = {
        "a": math.floor(math.log(35 / 88) * 1e6),
        "b": math.floor(math.log(18 / 88) * 1e6),
        "aa": math.floor(math.log(20 / 88) * 1e6),
        "ab": math.floor(math.log(15 / 88) * 1e6),
    }
    # viterbi "aaab" (max_piece=2): dp via hand: the best segmentation
    # under these scores is computed by the same recurrence; just trust
    # _viterbi for the segmentation and verify the COUNTS and SCORES land
    # in the output relation exactly.
    pieces_aaab = _viterbi("aaab", s, 2)
    pieces_ab = _viterbi("ab", s, 2)
    usage: dict[str, int] = {}
    for p in pieces_aaab:
        usage[p] = usage.get(p, 0) + 10
    for p in pieces_ab:
        usage[p] = usage.get(p, 0) + 5
    usage["b"] = usage.get("b", 0) + 3
    vocab = {p: max(usage.get(p, 0), 1) for p in ("a", "b")}
    multi = sorted(
        ((p, n) for p, n in usage.items() if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:4]
    vocab.update(dict(multi))
    total = sum(vocab.values())
    want = sorted(vocab.items(), key=lambda t: (-t[1], t[0]))
    got = {(p, n, sm) for _, p, n, sm in out}
    assert got == {
        (p, n, math.floor(math.log(n / total) * 1e6)) for p, n in want
    }
    ranks = [r for r, *_ in out]
    assert ranks == list(range(1, len(out) + 1))


def test_distributed_path_matches_incore(spark, sf_dir, monkeypatch):
    """The mapInPandas E-step + DataFrame M-step path is the SAME
    integer recurrence as the collected path."""
    from spark_ifs_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = unigram_train(docs, "text", em_rounds=2)
    monkeypatch.setattr(unigram_mod, "INCORE_VOCAB_BUDGET", 0)
    b = unigram_train(docs, "text", em_rounds=2)
    rows_a = sorted(tuple(r) for r in a.collect())
    rows_b = sorted(tuple(r) for r in b.collect())
    assert rows_a == rows_b


def test_long_words_are_excluded(spark):
    df = spark.createDataFrame(
        [("short words only here",), ("a" * 20 + " tail",)], "text string"
    )
    out = unigram_train(df, "text", min_count=1, vocab_keep=100).collect()
    assert all(len(r["piece"]) <= 4 for r in out)
    assert not any("aaaaa" in r["piece"] for r in out)


def test_fertility_distributed_matches_incore(spark, sf_dir, monkeypatch):
    from spark_ifs_spark.operators.unigram import tokenizer_fertility
    from spark_ifs_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = sorted(tuple(r) for r in tokenizer_fertility(docs, "source", "text").collect())
    monkeypatch.setattr(unigram_mod, "INCORE_VOCAB_BUDGET", 0)
    b = sorted(tuple(r) for r in tokenizer_fertility(docs, "source", "text").collect())
    assert a == b and len(a) > 0


def test_doc_fingerprints_distributed_matches_incore(spark, sf_dir, monkeypatch):
    from spark_ifs_spark.operators.unigram import unigram_doc_fingerprints
    from spark_ifs_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").limit(150)
    a = sorted(tuple(r) for r in unigram_doc_fingerprints(docs, "doc_id", "text").collect())
    monkeypatch.setattr(unigram_mod, "INCORE_VOCAB_BUDGET", 0)
    b = sorted(tuple(r) for r in unigram_doc_fingerprints(docs, "doc_id", "text").collect())
    assert a == b and len(a) == 150


def test_doc_fingerprint_is_order_sensitive(spark):
    """Swapping two words changes fp but not n_tokens."""
    from spark_ifs_spark.operators.unigram import unigram_doc_fingerprints

    base = ["alpha beta gamma delta"] * 6  # enough freq for candidates
    df1 = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)], "doc_id long, text string"
    )
    df2 = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base[:-1] + ["beta alpha gamma delta"])],
        "doc_id long, text string",
    )
    r1 = {r["doc_id"]: (r["n_tokens"], r["fp"]) for r in
          unigram_doc_fingerprints(df1, "doc_id", "text", min_count=3).collect()}
    r2 = {r["doc_id"]: (r["n_tokens"], r["fp"]) for r in
          unigram_doc_fingerprints(df2, "doc_id", "text", min_count=3).collect()}
    assert r1[0] == r2[0]                      # untouched doc identical
    assert r1[5][0] == r2[5][0]                # same token count
    assert r1[5][1] != r2[5][1]                # different order -> different fp


def test_viterbi_optimal_vs_bruteforce_property():
    """Property: _viterbi returns a maximum-score segmentation (and the
    deterministic representative under the (score, longer-last-piece)
    order) for every word — checked against brute-force enumeration."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def segmentations(w, max_piece):
        if not w:
            yield []
            return
        for piece_len in range(1, min(max_piece, len(w)) + 1):
            for rest in segmentations(w[:-piece_len], max_piece):
                yield rest + [w[-piece_len:]]

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(alphabet="ab", min_size=1, max_size=8),
        st.dictionaries(
            st.text(alphabet="ab", min_size=2, max_size=3),
            st.integers(min_value=-50, max_value=-1),
            max_size=6,
        ),
    )
    def check(word, extra):
        scores = {"a": -10, "b": -12, **extra}
        got = _viterbi(word, scores, 3)
        assert "".join(reversed(got)) == word
        best = max(
            (
                sum(scores[p] for p in seg)
                for seg in segmentations(word, 3)
                if all(p in scores for p in seg)
            ),
        )
        assert sum(scores[p] for p in got) == best

    check()


def test_tokenizer_compare_distributed_matches_incore(spark, sf_dir, monkeypatch):
    from spark_ifs_spark.operators.unigram import tokenizer_compare
    from spark_ifs_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = sorted(tuple(r) for r in tokenizer_compare(docs, "source", "text").collect())
    monkeypatch.setattr(unigram_mod, "INCORE_VOCAB_BUDGET", 0)
    b = sorted(tuple(r) for r in tokenizer_compare(docs, "source", "text").collect())
    assert a == b and len(a) > 0


def test_tokenizer_compare_semantics(spark):
    """A corpus whose words BPE merges fully (few distinct, frequent
    pairs) must show BPE fertility <= character count and >= 1 token
    per word; both tokenizers agree on single-char words."""
    from spark_ifs_spark.operators.unigram import tokenizer_compare

    rows = [(i, "s" + str(i % 2), "abab abab cdcd x y") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in tokenizer_compare(docs, "source", "text").collect()}
    for r in out.values():
        assert r["n_words"] > 0
        # every word yields at least one token under either vocabulary
        assert r["uni_tokens"] >= r["n_words"]
        assert r["bpe_tokens"] >= r["n_words"]
        # fertility never exceeds characters-per-word (pieces are >= 1 char)
        assert r["uni_tokens_per_word_ppm"] <= 4_000_000
        assert r["bpe_tokens_per_word_ppm"] <= 4_000_000
    # identical text in both sources -> identical fertility
    a, b = out["s0"], out["s1"]
    assert a["uni_tokens_per_word_ppm"] == b["uni_tokens_per_word_ppm"]
    assert a["bpe_tokens_per_word_ppm"] == b["bpe_tokens_per_word_ppm"]
