from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different words entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "unrelated text about spark and query engines"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup(docs, "doc_id", ["text"]).collect()}
    assert out[0] == 2  # docs 0 and 3 collapse
    assert out[1] == 1 and out[2] == 1 and out[4] == 1
    assert 3 not in out


def test_word_shingles(spark, docs):
    sh = dedup.word_shingles(docs.filter("doc_id = 2"), "doc_id", "text", n=3).collect()
    got = {r["sh"] for r in sh}
    assert got == {
        "completely different words",
        "different words entirely",
        "words entirely here",
        "entirely here now",
    }


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 3)] == pytest.approx(1.0)  # exact dup
    assert (0, 1) in got and 0.3 <= got[(0, 1)] < 1.0
    assert (0, 2) not in got


def test_ngram_df_cap_keeps_candidates_subquadratic(spark):
    """Adversarial stop-shingle fixture: one shingle shared by 50% of a
    200-doc corpus. Uncapped, the inverted-index self-join emits
    ~100·99/2 ≈ 4950 candidate pairs from that shingle alone; with the
    DF cap the stop-shingle never reaches the join, so candidacy falls
    to only genuinely co-shingled (rare-overlap) pairs."""
    rows = []
    for i in range(200):
        if i % 2 == 0:  # 100 docs share the "common header three" shingle
            rows.append((i, f"common header three unique{i} tail{i} words{i}"))
        else:
            rows.append((i, f"distinct{i} body{i} text{i} only{i} here{i}"))
    # one true near-dup pair sharing RARE shingles must survive the cap
    rows.append((200, "alpha beta gamma delta epsilon zeta"))
    rows.append((201, "alpha beta gamma delta epsilon eta"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    uncapped = dedup.ngram_candidates(sh, max_df=None).count()
    capped = dedup.ngram_candidates(sh, max_df=10).count()
    assert uncapped >= 100 * 99 // 2  # the quadratic blowup is real
    assert capped < 200  # sub-quadratic: stop-shingle gated out

    # exactness survives the cap: the rare-shingle near-dup pair is
    # found and its Jaccard is computed over ALL shingles
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, max_df=10
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(200, 201)] == pytest.approx(3 / 5)  # |∩|=3, |∪|=5


def test_minhash_lsh_finds_exact_and_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, rows_per_band=2, threshold=0.3
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got  # identical signatures always collide
    # LSH candidates are a subset of the exact-Jaccard pairs
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.3).collect()
    }
    assert got <= exact


def test_edit_distance_pairs_blocking_is_lossless(spark):
    """Length-band blocking must find every pair within max_dist —
    including pairs straddling a bucket boundary — and nothing beyond
    the distance threshold. Brute-force python Levenshtein is the
    oracle."""
    rows = [
        (0, "abcdefghijklmnop"),         # len 16, bucket boundary cases
        (1, "abcdefghijklmnopq"),        # dist 1 to 0, len 17 (next bucket at band 16... within band)
        (2, "abcdefghijklmnopqrstuvwx"),  # dist 8 to 1
        (3, "zzzzzzzzzzzzzzzz"),          # dist 16 to 0 (all substitutions)
        (4, "completely different text here"),
        (5, "completely different text hers"),  # dist 1 to 4
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in dedup.edit_distance_pairs(
            df, "doc_id", "text", max_dist=16, len_band=16
        ).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = lev(rows[i][1], rows[j][1])
            if d <= 16 and abs(len(rows[i][1]) - len(rows[j][1])) <= 16:
                want[(rows[i][0], rows[j][0])] = d
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1  # cross-bucket pair found
    assert got[(0, 3)] == 16  # at-threshold pair kept


def test_simhash_properties(spark, docs):
    fps = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert fps[0] == fps[3]  # identical text → identical fingerprint
    ham01 = bin(fps[0] ^ fps[1]).count("1")
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated doc


def test_simhash_differential_vs_explode_form(spark, docs, sf_dir):
    """The production plan (one agg, 60 vote buffers) and the declarative
    per-bit-row plan (the oracle's shape) must produce identical
    fingerprints — on the handwritten docs AND a real corpus sample."""
    fast = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    slow = {r["id"]: r["simhash"] for r in dedup.simhash_explode(docs, "doc_id", "text").collect()}
    assert fast == slow
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    fast_c = {r["id"]: r["simhash"] for r in dedup.simhash(corpus, "doc_id", "text").collect()}
    slow_c = {r["id"]: r["simhash"] for r in dedup.simhash_explode(corpus, "doc_id", "text").collect()}
    assert fast_c == slow_c and len(fast_c) == 50


def test_simhash_near_pairs(spark, docs):
    fps = dedup.simhash(docs, "doc_id", "text")
    fps_df = fps.withColumnRenamed("id", "id")
    near = dedup.simhash_near_pairs(fps_df, max_hamming=10).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in near}
    assert got[(0, 3)] == 0


def test_span_dedup_keeps_first_occurrence_and_drops_emptied(spark):
    rows = [
        (1, "a b c d"),      # both spans first occurrences -> intact
        (2, "a b x y"),      # "a b" loses to doc 1 -> "x y" survives
        (3, "c d"),          # its only span loses to doc 1 -> doc dropped
        (4, "a b a b"),      # every span loses (incl. within-doc dup) -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.span_dedup(df, "doc_id", "text", span_words=2).collect()
    }
    assert got == {1: "a b c d", 2: "x y"}


def test_span_dedup_partial_tail_span(spark):
    # 5 words at width 2 -> spans "a b", "c d", "e"; the short tail is a
    # span of its own and dedups like any other
    rows = [(1, "a b c d e"), (2, "e"), (3, "q e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in dedup.span_dedup(df, "doc_id", "text", span_words=2).collect()
    }
    # doc 2's "e" loses to doc 1's tail span; doc 3's "q e" is a
    # DIFFERENT span (width-2) and survives
    assert got == {1: "a b c d e", 3: "q e"}


def test_minhash_lsh_pairs_against(spark, docs):
    # batch = {3, 4}; corpus = {0, 1, 2}: doc 3 is an exact dup of
    # corpus doc 0 and must surface; pairs never join corpus to itself
    new = docs.filter("doc_id >= 3")
    corpus = docs.filter("doc_id < 3")
    pairs = dedup.minhash_lsh_pairs_against(
        new, corpus, "doc_id", "text",
        n=3, num_hashes=16, rows_per_band=2, threshold=0.3,
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(3, 0)] == pytest.approx(1.0)
    assert all(a >= 3 and b < 3 for a, b in got)


def test_contamination_overlap_fraction(spark):
    # eval doc shares exactly one 3-gram window region with corpus doc 10
    rows = [
        (10, "a b c d e f"),        # corpus: shingles abc bcd cde def
        (11, "x y z w v u"),        # corpus: no overlap
        (97, "c d e q r s"),        # eval (mod-97 style id irrelevant here)
    ]
    corpus = spark.createDataFrame(rows[:2], ["doc_id", "text"])
    eval_set = spark.createDataFrame(rows[2:], ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in dedup.contamination_overlap(
            corpus, eval_set, "doc_id", "text", n=3
        ).collect()
    }
    assert out[10]["n_shingles"] == 4
    assert out[10]["n_hit"] == 1  # 'c d e'
    assert out[10]["overlap_ppm"] == 250000
    assert out[11]["n_hit"] == 0 and out[11]["overlap_ppm"] == 0


def test_contamination_overlap_short_docs_drop(spark):
    corpus = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    eval_set = spark.createDataFrame([(2, "a b c")], ["doc_id", "text"])
    assert (
        dedup.contamination_overlap(corpus, eval_set, "doc_id", "text", n=3).count()
        == 0
    )


def test_exact_dedup_normalized_collapses_case_and_punct(spark):
    rows = [
        (0, "Hello, World!"),
        (1, "hello   world"),     # same canonical form as 0
        (2, "hello world again"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["keep_id"]: r["n_dups"] for r in dedup.exact_dedup_normalized(df, "doc_id", "text").collect()}
    assert out == {0: 2, 2: 1}


def test_normalize_text_expression(spark):
    df = spark.createDataFrame([("  A--b  C!  ",)], ["t"])
    got = df.select(dedup.normalize_text(F.col("t")).alias("n")).first()["n"]
    assert got == "ab c"


def test_edit_distance_pairs_rejects_duplicate_ids(spark):
    """The signature barrier would silently collapse duplicate-id rows;
    the precondition is now enforced JVM-side at execution."""
    df = spark.createDataFrame(
        [(1, "aaaa bbbb cccc"), (1, "dddd eeee ffff"), (2, "aaaa bbbb cccd")],
        "id long, text string",
    )
    with pytest.raises(Exception, match="unique ids"):
        dedup.edit_distance_pairs(df, "id", "text", max_dist=5).collect()


def test_minhash_giant_template_cluster_capped(spark):
    """Adversarial skew: 2,000 copies of one template document put all
    copies in the same band bucket in EVERY band — uncapped, the band
    self-join would emit O(bands x k^2) candidates (16M here). With
    max_bucket the over-full buckets are dropped BEFORE the join, so
    candidate generation stays bounded while unrelated near-dup pairs
    elsewhere in the corpus are still found."""
    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(2000)]
    # a genuine near-dup pair outside the template cluster
    rows += [
        (10_000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (10_001, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
        (10_002, "completely different text about databases and streams here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket=100
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # the template cluster's 2M pairs are excluded by policy...
    assert all(not (a < 2000 and b < 2000) for a, b in pairs), len(pairs)
    # ...but the small-bucket near-dup pair is still found
    assert (10_000, 10_001) in pairs
    # and the candidate space stayed bounded (nothing k^2-shaped ran)
    assert len(pairs) < 100


def test_substring_runs_finds_cross_doc_duplicate(spark):
    """A 20-token passage shared by two docs (at different offsets, so
    non-overlapping span_dedup units would NOT align) is reported as one
    maximal run in each doc with 1-token-resolution boundaries."""
    shared = " ".join(f"s{i}" for i in range(20))
    a = "a0 a1 a2 " + shared + " a3 a4"
    b = "b0 " + shared + " b1 b2 b3 b4 b5"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["start_tok"], r["run_tokens"])
        for r in dedup.duplicate_substring_runs(
            df, "doc_id", "text", k=8, min_run_tokens=16
        ).collect()
    }
    # doc 1: shared starts at token 3; doc 2: at token 1 — exactly the
    # 20 shared tokens are covered in both
    assert out == {1: (3, 20), 2: (1, 20)}


def test_substring_runs_same_doc_repetition_counts(spark):
    """ExactSubstr counts ANY second occurrence — a doc that repeats its
    own 16-token block twice is flagged even with no other doc."""
    block = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, block + " mid " + block), (2, "x0 x1 x2 x3 x4 x5 x6 x7 x8")],
        ["doc_id", "text"],
    )
    out = dedup.duplicate_substring_runs(
        df, "doc_id", "text", k=8, min_run_tokens=16
    ).collect()
    assert {r["doc_id"] for r in out} == {1}
    assert all(r["run_tokens"] >= 16 for r in out)


def test_substring_runs_short_docs_and_no_dups(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "a b c d e f g h i j")],
        ["doc_id", "text"],
    )
    assert (
        dedup.duplicate_substring_runs(df, "doc_id", "text", k=8).count() == 0
    )


def test_substring_runs_min_run_filters_isolated_shingles(spark):
    """Two docs sharing only an 8-token shingle (8 covered tokens) fall
    below min_run_tokens=16 and are not reported."""
    sh = " ".join(f"c{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, "p q r " + sh), (2, sh + " u v w x y z")], ["doc_id", "text"]
    )
    assert (
        dedup.duplicate_substring_runs(
            df, "doc_id", "text", k=8, min_run_tokens=16
        ).count()
        == 0
    )


def test_jaccard_prefix_matches_full_inverted_index(spark):
    """Losslessness differential: the prefix-filtered join must return
    EXACTLY the pairs of the full (uncapped) inverted-index join at the
    same n/threshold — the prefix filter may prune candidates, never
    results."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, base + " tail"),                      # near-dup of 1
        (3, "completely different content words entirely here now"),
        (4, base.replace("quick", "rapid")),       # near-dup of 1
        (5, "completely different content words entirely here today"),  # near-dup of 3
        (6, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_prefix_pairs(df, "doc_id", "text", n=2, threshold=0.3).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=0.3, max_df=None
        ).collect()
    }
    assert got == want and len(got) >= 2


def test_jaccard_prefix_high_threshold_exactness(spark):
    """t = 0.9: only the truly-near-identical pair survives, and it is
    found despite the tiny prefix (|x| - ceil(0.9|x|) + 1 shingles)."""
    words = [f"w{i}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["zz"])      # differs in last token only
    c = " ".join(words[:20] + [f"x{i}" for i in range(20)])
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    out = dedup.jaccard_prefix_pairs(df, "doc_id", "text", n=2, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
    assert out[0]["jaccard"] >= 0.9


def test_jaccard_prefix_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.jaccard_prefix_pairs(df, "doc_id", "text", threshold=0.0)


# ---------------------------------------------------------------------------
# LSH parameter planners (pure math — no Spark)


def test_plan_minhash_lsh_meets_both_constraints():
    from spark_ifs_spark.functions.hashing import minhash_recall, plan_minhash_lsh

    for t, rec, mh in ((0.5, 0.95, 4096), (0.8, 0.95, 512), (0.9, 0.99, 512)):
        hashes, rows = plan_minhash_lsh(t, rec, max_hashes=mh)
        bands = hashes // rows
        assert hashes == bands * rows <= mh
        assert minhash_recall(t, bands, rows) >= rec
        assert minhash_recall(t / 2, bands, rows) <= 0.05


def test_plan_minhash_lsh_infeasible_raises():
    import pytest as _pytest

    from spark_ifs_spark.functions.hashing import plan_minhash_lsh

    # a steep curve at t=0.5 with fp<=5% at 0.25 needs ~1.1k hashes
    with _pytest.raises(ValueError, match="no .* plan"):
        plan_minhash_lsh(0.5, 0.95, max_hashes=512)


def test_plan_hyperplane_reproduces_production_demo_params():
    """The planner, given the hi-threshold demo's operating point
    (cosine 0.9, recall 0.95), lands on the same plane count the
    registered dedup_embedding_lsh_hi query uses (P=10) with a
    comparable table count — the registered parameters are the planned
    ones, not folklore."""
    from spark_ifs_spark.functions.hashing import (
        hyperplane_recall,
        plan_hyperplane_lsh,
    )

    planes, tables = plan_hyperplane_lsh(0.9, 0.95)
    assert planes == 10
    assert 10 <= tables <= 16
    assert hyperplane_recall(0.9, tables, planes) >= 0.95
    assert hyperplane_recall(0.2, tables, planes) <= 0.05


def test_plan_hyperplane_infeasible_raises():
    import pytest as _pytest

    from spark_ifs_spark.functions.hashing import plan_hyperplane_lsh

    # sign-LSH cannot discriminate 0.8 from 0.2 within 512 bits at 95%
    with _pytest.raises(ValueError, match="no .* plan"):
        plan_hyperplane_lsh(0.8, 0.95, max_bits=512)


def test_containment_pairs_basic(spark):
    rows = [
        (1, "a b c d e f g h i j"),            # 8 shingles
        (2, "a b c d e f g h i j k l m n o"),  # superset of 1
        (3, "z y x w v u t s r q"),            # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_sub"], r["id_sup"]): r["containment"]
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8, min_sub_shingles=5
        ).collect()
    }
    # doc 1's 8 shingles all appear in doc 2 → containment 1.0 forward only
    assert out == {(1, 2): 1.0}


def test_containment_is_asymmetric_vs_jaccard(spark):
    rows = [
        (1, "a b c d e f g"),                       # 5 shingles
        (2, "a b c d e f g " + " ".join(f"w{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cont = dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.9, min_sub_shingles=5
    ).collect()
    jac = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    assert [(r["id_sub"], r["id_sup"]) for r in cont] == [(1, 2)]
    assert jac == []  # Jaccard misses the quote/subset relation


def test_containment_min_sub_shingles_gate(spark):
    rows = [(1, "a b c"), (2, "a b c d e f g h")]  # doc 1: 1 shingle
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, min_sub_shingles=5
    ).collect()
    assert out == []


def test_containment_high_df_correction_exact(spark):
    """Stop shingles (DF > max_df) must still COUNT toward the
    intersection of pairs that became candidates via rare shingles —
    differential-checked against a brute-force python computation."""
    import itertools

    # a shared boilerplate phrase in every doc (its shingles exceed
    # max_df=3) + per-pair rare overlap only between docs 1 and 2
    boiler = "the quick brown fox jumps"
    rows = [
        (1, f"alpha beta gamma delta {boiler}"),
        (2, f"alpha beta gamma delta epsilon {boiler}"),
        (3, f"zeta eta theta iota {boiler}"),
        (4, f"kappa lam mu nu {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t, n=3):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    sh = {i: shingles(t) for i, t in rows}
    want = {}
    for a, b in itertools.permutations(sh, 2):
        c = len(sh[a] & sh[b]) / len(sh[a])
        if c >= 0.5 and len(sh[a]) >= 3:
            want[(a, b)] = round(c, 9)
    got = {
        (r["id_sub"], r["id_sup"]): round(r["containment"], 9)
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5,
            max_df=3, min_sub_shingles=3,
        ).collect()
    }
    # the brute-force reference sees pairs whose overlap is ONLY
    # boilerplate; the operator documents missing those (candidates
    # come from rare shingles) — so got must equal want restricted to
    # pairs with at least one rare shared shingle
    from collections import Counter

    df_count = Counter(s for v in sh.values() for s in v)
    rare_pairs = {
        (a, b)
        for a, b in want
        if any(df_count[s] <= 3 for s in sh[a] & sh[b])
    }
    assert got == {k: v for k, v in want.items() if k in rare_pairs}
    # and the correction really fired: doc1→doc2 includes boiler shingles
    assert got[(1, 2)] == want[(1, 2)] and want[(1, 2)] > 0.5


def test_substring_removal_cleans_planted_duplicate(spark):
    """A run duplicated across two docs is removed from BOTH; unique
    text survives; counts come from the kept set (overlap-safe)."""
    from spark_ifs_spark.functions.hashing import md5_int60_py
    from spark_ifs_spark.operators.dedup import substring_removal

    dup = " ".join(f"d{i}" for i in range(20))
    rows = [
        (1, "alpha beta " + dup + " gamma"),
        (2, "x y z " + dup),
        (3, "totally unique words only here right now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: (r["n_tokens"], r["n_removed"], r["clean_digest"])
           for r in substring_removal(df, "doc_id", "text", k=8, min_run_tokens=16).collect()}
    assert out[1][0] == 23 and out[1][1] == 20
    assert out[1][2] == md5_int60_py("alpha beta gamma")
    assert out[2] == (23, 20, md5_int60_py("x y z"))
    assert out[3][1] == 0
    assert out[3][2] == md5_int60_py(rows[2][1])


def test_winnowing_detection_guarantee(spark):
    """Schleimer et al. Thm: any shared token run of length
    >= window + k - 1 (here 4 + 3 - 1 = 6) yields at least one SHARED
    selected (k-gram) fingerprint hash between the two documents."""
    from spark_ifs_spark.operators.dedup import winnow_fingerprints
    from pyspark.sql import functions as F

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (0, f"one two three {shared} four five six"),
        (1, f"{shared} seven eight nine ten eleven twelve"),
        (2, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # re-derive the selected hash SETS via the same operator pieces:
    # fp_md5 digests ordered (pos,hash) so equal docs match, but the
    # guarantee is about shared HASHES — recompute per doc in python
    import hashlib

    def sel_hashes(text, k=3, w=4):
        t = text.split(" ")
        hs = [
            int(hashlib.md5(" ".join(t[j:j + k]).encode()).hexdigest()[:15], 16)
            for j in range(len(t) - k + 1)
        ]
        out = set()
        for i in range(max(len(hs) - w, 0) + 1):
            h, nj = min((hs[j], -j) for j in range(i, min(i + w, len(hs))))
            out.add(hs[-nj])
        return out

    s0, s1, s2 = (sel_hashes(t) for _, t in rows)
    assert s0 & s1, "shared 6-token run must share a fingerprint"
    assert not (s0 & s2) and not (s1 & s2)
    # and the operator agrees with the reference selection sizes
    got = {
        r["id"]: r["n_fps"]
        for r in winnow_fingerprints(df, "doc_id", "text").collect()
    }
    assert got == {0: len(s0), 1: len(s1), 2: len(s2)}


def test_winnowing_is_scan_fused(spark, sf_dir):
    from spark_ifs_spark.operators.dedup import winnow_fingerprints
    from spark_ifs_spark.plans import assert_no_exchange

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert_no_exchange(
        winnow_fingerprints(docs, "doc_id", "text"), "winnow_fingerprints"
    )


def test_staged_minhash_pairs_builds_once_and_matches(spark, sf_dir):
    """The session-staged pair relation must equal a fresh operator run,
    and the staged clusters must label each member by its min id (the
    build-once contract itself is tests/test_staging.py's)."""
    import importlib

    rd = importlib.import_module("spark_ifs_spark.registry.dedup")
    from spark_ifs_spark.registry._common import (
        JACCARD_THRESHOLD,
        MINHASH_HASHES,
        MINHASH_ROWS_PER_BAND,
        NGRAM_N,
        _read,
    )

    staged = rd._minhash_pairs(spark, sf_dir)

    direct = dedup.minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), "doc_id", "text",
        n=NGRAM_N, num_hashes=MINHASH_HASHES,
        rows_per_band=MINHASH_ROWS_PER_BAND, threshold=JACCARD_THRESHOLD,
    ).select("id_a", "id_b", "jaccard")
    got = sorted(map(tuple, staged.collect()))
    assert sorted(map(tuple, direct.collect())) == got

    clusters = rd._dup_clusters(spark, sf_dir)
    assert set(clusters.columns) == {"doc_id", "cluster"}
    # every clustered doc appears exactly once, labeled by the min id
    rows = clusters.collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    bycl: dict = {}
    for r in rows:
        bycl.setdefault(r["cluster"], []).append(r["doc_id"])
    for cl, members in bycl.items():
        assert cl == min(members)


def test_staged_emb_lsh_pairs_match_direct(spark, sf_dir):
    """The session-staged embedding-LSH pair relations (demo and
    production knobs) must equal a fresh operator run row-for-row, and
    the recall audit's detect side must equal the filtered staged
    minhash relation — the staged-vs-direct contract of
    test_staged_minhash_pairs_builds_once_and_matches extended to the
    r14 staged relations."""
    import importlib

    from spark_ifs_spark.operators import similarity
    from spark_ifs_spark.registry._common import (
        EMB_DEDUP_THRESHOLD,
        EMB_DIMS,
        EMB_LSH_PLANES,
        EMB_LSH_SEED,
        EMB_LSH_TABLES,
        JACCARD_THRESHOLD,
        MINHASH_HASHES,
        MINHASH_ROWS_PER_BAND,
        NGRAM_N,
        _read,
    )

    rd = importlib.import_module("spark_ifs_spark.registry.dedup")
    staged = rd._emb_lsh_pairs(spark, sf_dir)
    direct = similarity.cosine_lsh_pairs(
        _read(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        EMB_DIMS, threshold=EMB_DEDUP_THRESHOLD,
        num_planes=EMB_LSH_PLANES, num_tables=EMB_LSH_TABLES,
        seed=EMB_LSH_SEED,
    ).select("id_a", "id_b", "cos")
    got = sorted(map(tuple, staged.collect()))
    assert sorted(map(tuple, direct.collect())) == got

    hi = rd._emb_lsh_hi_pairs(spark, sf_dir)
    hi_direct = similarity.cosine_lsh_pairs(
        rd._aug_hi_embeddings(spark, sf_dir), "vec_id", "embedding",
        EMB_DIMS, threshold=rd.EMB_LSH_HI_THRESHOLD,
        num_planes=rd.EMB_LSH_HI_PLANES, num_tables=rd.EMB_LSH_HI_TABLES,
        seed=EMB_LSH_SEED,
    ).select("id_a", "id_b", "cos")
    assert sorted(map(tuple, hi.collect())) == sorted(
        map(tuple, hi_direct.collect())
    )

    # the recall audit's detect route: staged 0.5-verified pairs
    # filtered at 0.75 == a fresh 0.75-verified LSH run (candidates
    # depend only on band signatures, never the verify threshold)
    det_staged = sorted(
        map(
            tuple,
            rd._minhash_pairs(spark, sf_dir)
            .filter(F.col("jaccard") >= rd.PREFIX_THRESHOLD)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    det_direct = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                _read(spark, sf_dir, "documents"), "doc_id", "text",
                n=NGRAM_N, num_hashes=MINHASH_HASHES,
                rows_per_band=MINHASH_ROWS_PER_BAND,
                threshold=rd.PREFIX_THRESHOLD,
            )
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert det_staged == det_direct
    assert JACCARD_THRESHOLD <= rd.PREFIX_THRESHOLD  # filter is a subset


def test_staged_shingles_match_direct(spark, sf_dir):
    """The session-staged (id, sh) shingle relation must equal a fresh
    word_shingles run row-for-row, and its consumers (novelty, boilerplate stats, incremental dedup)
    must be unchanged by the injection — the staged-vs-direct contract
    extended to the r14 shingle staging (r13 verdict item 4)."""
    import importlib

    from spark_ifs_spark.operators import textstats
    from spark_ifs_spark.registry._common import NGRAM_N, _read

    rd = importlib.import_module("spark_ifs_spark.registry.dedup")
    staged = rd._shingles(spark, sf_dir)

    docs = _read(spark, sf_dir, "documents")
    direct = dedup.word_shingles(docs, "doc_id", "text", NGRAM_N)
    got = sorted(map(tuple, staged.collect()))
    assert sorted(map(tuple, direct.collect())) == got

    # consumer equality: injected == inline for one statistics operator
    inline = sorted(
        map(tuple, textstats.novelty_scores(docs, "doc_id", "text").collect())
    )
    injected = sorted(
        map(
            tuple,
            textstats.novelty_scores(
                docs, "doc_id", "text", sh=staged
            ).collect(),
        )
    )
    assert injected == inline
