"""Property-based tests (SURVEY §5 rebuild plan): MI invariants and the
cross-encoding agreement invariant on random seeded matrices — the
reference's own manual differential check, automated with hypothesis."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_ifs_spark.operators.scores import mi_vec
from tests.oracle_mrmr import mi as np_mi

_vals = st.integers(min_value=0, max_value=4)


@given(
    a=st.lists(_vals, min_size=2, max_size=60),
    b=st.lists(_vals, min_size=2, max_size=60),
)
@settings(max_examples=200, deadline=None)
def test_mi_vec_symmetry_nonneg(a, b):
    n = min(len(a), len(b))
    av = np.array(a[:n], dtype=float)
    bv = np.array(b[:n], dtype=float)
    m_ab = mi_vec(av, bv)
    m_ba = mi_vec(bv, av)
    assert m_ab == pytest.approx(m_ba, abs=1e-12)
    assert m_ab >= -1e-12
    assert m_ab == pytest.approx(np_mi(av, bv), abs=1e-12)


@given(a=st.lists(_vals, min_size=2, max_size=60))
@settings(max_examples=100, deadline=None)
def test_mi_self_is_entropy(a):
    av = np.array(a, dtype=float)
    _, counts = np.unique(av, return_counts=True)
    p = counts / counts.sum()
    h = -float(np.sum(p * np.log(p)))
    assert mi_vec(av, av) == pytest.approx(h, abs=1e-12)


@given(
    a=st.lists(_vals, min_size=2, max_size=60),
    b=st.lists(_vals, min_size=2, max_size=60),
    perm_seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=100, deadline=None)
def test_mi_invariant_under_relabeling(a, b, perm_seed):
    """MI depends only on the joint distribution, not category names:
    bijective relabeling of either side leaves it unchanged."""
    n = min(len(a), len(b))
    av = np.array(a[:n], dtype=float)
    bv = np.array(b[:n], dtype=float)
    rng = np.random.default_rng(perm_seed)
    mapping = rng.permutation(10).astype(float)
    relabeled = np.array([mapping[int(x)] for x in av])
    assert mi_vec(av, bv) == pytest.approx(mi_vec(relabeled, bv), abs=1e-12)


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_cross_encoding_agreement_random(spark, seed):
    """CommandLine.scala:167-169 automated: conventional and alternate
    selection agree on random seeded matrices."""
    from spark_ifs_spark.operators.select_columns import select_columns
    from spark_ifs_spark.operators.select_rows import select_rows
    from spark_ifs_spark.sources.generator import random_matrix

    mat = random_matrix(rows=120, cols=8, seed=seed)
    arr = np.array(mat, dtype=float)
    names = [f"f{j}" for j in range(7)]
    conv = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    feats = arr[:, 1:].T
    alt = spark.createDataFrame(
        [(int(j), [float(v) for v in feats[j]]) for j in range(feats.shape[0])],
        ["id", "features"],
    )
    conv_sel = select_columns(conv, "label", names, num=3)
    alt_sel = select_rows(alt, num=3, labels_row=arr[:, 0].tolist())
    assert [i for i, _ in conv_sel] == [int(i) for i, _ in alt_sel]


def test_salted_topk_property(spark):
    """Property: for random data, keys and k, the grouped top-k equals
    a plain per-key sort of the collected input exactly."""
    import random as _random

    from spark_ifs_spark.operators.topk import topk_per_key

    rng = _random.Random(123)
    for trial in range(3):
        n = rng.randint(50, 400)
        n_keys = rng.randint(1, 5)
        k = rng.randint(1, 6)
        rows = [
            (f"k{rng.randint(0, n_keys - 1)}", i, float(rng.randint(0, 20)))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["key", "rid", "v"])
        a = topk_per_key(df, ["key"], "v", k=k, tiebreak_cols=["rid"])
        by_key: dict = {}
        for key, rid, v in rows:
            by_key.setdefault(key, []).append((-v, rid))
        ra = sorted((r["key"], r["rank"], r["rid"]) for r in a.collect())
        rb = sorted(
            (key, i, rid)
            for key, kr in by_key.items()
            for i, (_, rid) in enumerate(sorted(kr)[:k], start=1)
        )
        assert ra == rb, f"trial {trial}: {n=} {n_keys=} {k=}"


@given(
    words=st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee", "f!", "G", "h i"]),
        min_size=1,
        max_size=200,
    ),
    probes=st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee", "zz"]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=10),
)
@settings(max_examples=30, deadline=None)
def test_cms_never_underestimates_property(spark, words, probes, seed):
    """CMS invariant under any stream and any probe set: min-over-rows
    estimate >= true count (collisions only ever ADD)."""
    from collections import Counter

    from spark_ifs_spark.operators import sketches

    df = spark.createDataFrame([(w,) for w in words], ["w"])
    cms = sketches.cms_build(df, "w", depth=3, width=8, seed=seed)
    est = {
        r["term"]: r["est"]
        for r in sketches.cms_estimate(
            cms, probes, depth=3, width=8, seed=seed
        ).collect()
    }
    truth = Counter(words)
    for t in probes:
        assert est[t] >= truth.get(t, 0), (t, est[t], truth.get(t, 0))


@given(s=st.text(max_size=60), seed=st.integers(min_value=0, max_value=3))
@settings(max_examples=40, deadline=None)
def test_normalize_text_idempotent(spark, s, seed):
    """normalize(normalize(x)) == normalize(x) for arbitrary input —
    the canonical-form contract normalized dedup rests on."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.dedup import normalize_text

    df = spark.createDataFrame([(s,)], "t string")
    row = df.select(
        normalize_text(F.col("t")).alias("once"),
        normalize_text(normalize_text(F.col("t"))).alias("twice"),
    ).first()
    assert row["once"] == row["twice"]
    out = row["once"]
    assert out == out.strip()
    assert "  " not in out
    assert all(c.islower() or c.isdigit() or c == " " for c in out)


@given(
    baskets=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 8)), min_size=1, max_size=60
    ),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_co_occurrence_matches_bruteforce(spark, baskets):
    from itertools import combinations

    from spark_ifs_spark.operators.affinity import co_occurrence_pairs

    df = spark.createDataFrame(baskets, "basket int, item int")
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in co_occurrence_pairs(df, "basket", "item").collect()
    }
    by_basket: dict[int, set[int]] = {}
    for b, i in baskets:
        by_basket.setdefault(b, set()).add(i)
    want: dict[tuple[int, int], int] = {}
    for items in by_basket.values():
        for a, b in combinations(sorted(items), 2):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want


@given(
    sizes=st.lists(st.integers(1, 400), min_size=1, max_size=5),
    seed=st.integers(0, 10),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_temperature_mix_matches_bruteforce(spark, sizes, seed):
    """The Spark keep decision equals the per-row Python reference:
    bucket(seed, id)^2 * n_group < n_min * B^2."""
    import hashlib

    from spark_ifs_spark.operators.sampling import SPLIT_BUCKETS, temperature_mix

    def py_md5_int60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = []
    for g, n in enumerate(sizes):
        rows += [(g * 100_000 + i, f"g{g}") for i in range(n)]
    df = spark.createDataFrame(rows, "id long, lang string")
    got = {r["id"] for r in temperature_mix(df, "id", "lang", seed=seed).collect()}
    nmin = min(sizes)
    want = set()
    for g, n in enumerate(sizes):
        for i in range(n):
            rid = g * 100_000 + i
            b = py_md5_int60(f"{seed}:{rid}") % SPLIT_BUCKETS
            if b * b * n < nmin * SPLIT_BUCKETS * SPLIT_BUCKETS:
                want.add(rid)
    assert got == want


@given(
    seed=st.integers(min_value=0, max_value=2**16),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
    num_planes=st.integers(min_value=2, max_value=6),
    num_tables=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=6, deadline=None)
def test_cosine_lsh_pairs_subset_of_exact(spark, seed, threshold, num_planes, num_tables):
    """Property: whatever the LSH parameters, cosine_lsh_pairs must be a
    SUBSET of the exact threshold pairs (precision 1 — verification is
    exact), every emitted cosine must be >= threshold and correct, and
    no pair may be emitted twice (multi-table collisions collapse)."""
    import random as _r

    import numpy as np

    from spark_ifs_spark.operators import similarity

    rng = _r.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.cosine_lsh_pairs(
        df, "vec_id", "embedding", 8, threshold=threshold,
        num_planes=num_planes, num_tables=num_tables, seed=seed,
    ).collect()
    V = {i: np.array(v) for i, v in rows}
    seen = set()
    for r in out:
        key = (r["id_a"], r["id_b"])
        assert key not in seen, f"duplicate pair {key}"
        seen.add(key)
        assert r["id_a"] < r["id_b"]
        a, b = V[r["id_a"]], V[r["id_b"]]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cos"] - expect) < 1e-9
        assert r["cos"] >= threshold - 1e-12


# --- winnowing detection guarantee (round 8) --------------------------------
# Pure-Python mirror of operators/dedup.py:_winnow_base's selection rule
# (windowed argmin over positional k-gram md5 hashes, rightmost tie), so
# hypothesis can hammer the guarantee without a Spark job per example.

def _winnow_sel_hashes(tokens, k=3, w=4):
    import hashlib

    hs = [
        int(hashlib.md5(" ".join(tokens[j:j + k]).encode()).hexdigest()[:15], 16)
        for j in range(len(tokens) - k + 1)
    ]
    out = set()
    for i in range(max(len(hs) - w, 0) + 1):
        _, nj = min((hs[j], -j) for j in range(i, min(i + w, len(hs))))
        out.add(hs[-nj])
    return out


_tok = st.integers(min_value=0, max_value=30).map(lambda i: f"t{i}")


@given(
    pre_a=st.lists(_tok, min_size=0, max_size=12),
    post_a=st.lists(_tok, min_size=0, max_size=12),
    pre_b=st.lists(_tok, min_size=0, max_size=12),
    post_b=st.lists(_tok, min_size=0, max_size=12),
    shared=st.lists(_tok, min_size=6, max_size=10),  # >= w + k - 1 = 6
)
@settings(max_examples=150, deadline=None)
def test_winnowing_guarantee_property(pre_a, post_a, pre_b, post_b, shared):
    """Schleimer et al.'s theorem, fuzzed: ANY shared token run of
    length >= window + k - 1 placed in arbitrary contexts yields at
    least one shared selected fingerprint hash."""
    a = pre_a + shared + post_a
    b = pre_b + shared + post_b
    assert _winnow_sel_hashes(a) & _winnow_sel_hashes(b)


# --- KMV sketch mergeability (round 8) ---------------------------------------

@given(
    parts=st.lists(
        st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=80),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=1, max_value=16),
)
@settings(max_examples=200, deadline=None)
def test_kmv_merge_property(parts, k):
    """The algebraic fact operators/sketches.py:kmv_sketch and
    streaming/profile.py rely on: the k smallest of a union equal the
    k smallest of the union of per-part k-smallest sets — for ANY
    partitioning and any k."""
    union = set().union(*[set(p) for p in parts])
    direct = sorted(union)[:k]
    merged_rows = set().union(*[set(sorted(set(p))[:k]) for p in parts])
    assert sorted(merged_rows)[:k] == direct


# -- sketch-family laws (round 12), driver-side kernels -----------------------


@given(
    tokens=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=300),
    k=st.integers(min_value=1, max_value=12),
    splits=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=8),
)
@settings(max_examples=300, deadline=None)
def test_mg_fold_undercount_law_any_batching(tokens, k, splits):
    """Misra-Gries undercount law under ARBITRARY batch boundaries:
    c(x) − n/(k+1) ≤ counters[x] ≤ c(x), size ≤ k after every fold —
    the guarantee mg_summary's per-partition fold and streaming_mg's
    cross-batch counter addition both stand on."""
    from collections import Counter

    from spark_ifs_spark.operators.sketches import mg_fold_counts

    counters: dict = {}
    i = 0
    folded = 0
    for w in splits:
        batch = tokens[i : i + w]
        i += w
        if not batch:
            continue
        counters = mg_fold_counts(counters, Counter(batch).items(), k)
        folded += len(batch)
        assert len(counters) <= k
        exact = Counter(tokens[:folded])
        slack = folded // (k + 1) + 1
        for t, c_low in counters.items():
            assert c_low <= exact[t]
        for t, c in exact.items():
            assert counters.get(t, 0) >= c - slack


@given(
    a=st.sets(st.integers(min_value=0, max_value=10_000), max_size=120),
    b=st.sets(st.integers(min_value=0, max_value=10_000), max_size=120),
    k=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=300, deadline=None)
def test_bottomk_merge_law(a, b, k):
    """The KMV law the rank sketch, KMV cardinality and KMV overlap all
    stand on: bottom-k of a union == bottom-k of the union of each
    side's bottom-k — exactly, for any k and any overlap."""
    bk = lambda s: set(sorted(s)[:k])
    assert bk(a | b) == bk(bk(a) | bk(b))


@given(
    vals=st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=200),
    k=st.integers(min_value=1, max_value=60),
    q=st.integers(min_value=1, max_value=100),
)
@settings(max_examples=300, deadline=None)
def test_bottomk_rank_selection_exact_when_exhaustive(vals, k, q):
    """When the population fits in k, the rank-sketch quantile rule
    (value at rank ceil(q·n/100) under sorted order) equals the
    DEFINITIONAL discrete quantile: the smallest v whose inclusive
    rank count(x ≤ v) reaches ceil(q·n/100)."""
    if len(vals) > k:
        return
    ordered = sorted(vals)
    n = len(ordered)
    target = -(-q * n // 100)
    by_rule = ordered[target - 1]
    by_definition = min(v for v in vals if sum(x <= v for x in vals) >= target)
    assert by_rule == by_definition
