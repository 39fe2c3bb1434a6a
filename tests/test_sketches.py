"""Count-Min Sketch and logistic-regression-step operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.operators import lr, sketches


@pytest.fixture(scope="module")
def tokens(spark):
    words = (["the"] * 50) + (["spark"] * 20) + (["rare"] * 2) + ["hapax"]
    return spark.createDataFrame([(w,) for w in words], ["w"])


def test_cms_never_underestimates(spark, tokens):
    cms = sketches.cms_build(tokens, "w", depth=4, width=64, seed=9)
    est = {
        r["term"]: r["est"]
        for r in sketches.cms_estimate(
            cms, ["the", "spark", "rare", "hapax", "absent"], depth=4, width=64, seed=9
        ).collect()
    }
    exact = {"the": 50, "spark": 20, "rare": 2, "hapax": 1, "absent": 0}
    for t, c in exact.items():
        assert est[t] >= c, t
    # with 73 tokens in a 4x64 grid, collisions are bounded: the absent
    # term cannot exceed the total stream size, and the heavy term
    # estimate is close to truth
    assert est["the"] <= 73
    assert est["absent"] <= 73


def test_cms_grid_is_bounded(spark, tokens):
    cms = sketches.cms_build(tokens, "w", depth=4, width=64, seed=9)
    assert cms.count() <= 4 * 64
    # every token contributes to exactly `depth` cells
    total = cms.groupBy("r").agg(F.sum("c").alias("s")).collect()
    assert all(row["s"] == 73 for row in total)


def test_cms_merge_is_cell_addition(spark):
    a = spark.createDataFrame([("x",), ("y",)], ["w"])
    b = spark.createDataFrame([("x",), ("z",)], ["w"])
    whole = spark.createDataFrame([("x",), ("y",), ("x",), ("z",)], ["w"])
    kw = dict(depth=3, width=32, seed=5)
    merged = (
        sketches.cms_build(a, "w", **kw)
        .unionByName(sketches.cms_build(b, "w", **kw))
        .groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    direct = sketches.cms_build(whole, "w", **kw)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_lr_train_separates_classes(spark):
    # y = 1 iff x1 is large; two well-separated clusters
    rows = [(i, 1.0, 2.0 + (i % 3) * 0.1, 1.0) for i in range(30)]
    rows += [(100 + i, 1.0, -2.0 - (i % 3) * 0.1, 0.0) for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "x0", "x1", "y"])
    w = lr.lr_train(df, ["x0", "x1"], "y", iters=3)
    assert w[1] > 0  # positive slope on the separating feature
    scored = {r["id"]: r["score_micro"] for r in lr.lr_score(df, ["x0", "x1"], w, "id").collect()}
    assert min(scored[i] for i in range(30)) > max(scored[100 + i] for i in range(30))


def test_lr_step_matches_numpy_replica(spark):
    import numpy as np

    rows = [(0, 1.0, 0.5, 1.0), (1, 1.0, -0.25, 0.0), (2, 1.0, 1.5, 1.0)]
    df = spark.createDataFrame(rows, ["id", "x0", "x1", "y"])
    w = lr.lr_train(df, ["x0", "x1"], "y", iters=2)

    X = np.array([[1.0, 0.5], [1.0, -0.25], [1.0, 1.5]])
    y = np.array([1.0, 0.0, 1.0])
    wm = [0, 0]
    n = 3
    for _ in range(2):
        margin = X @ (np.array(wm) / 1e6)
        p = 1.0 / (1.0 + np.exp(-margin))
        out = []
        for j in range(2):
            gj = int(np.floor((p - y) * X[:, j] * 1e6).sum())
            q = abs(gj) // (2 * n)
            out.append(wm[j] + q if gj < 0 else wm[j] - q)
        wm = out
    assert w == wm


def test_cms_estimate_on_empty_sketch_is_zero(spark):
    empty = spark.createDataFrame([], "w string")
    cms = sketches.cms_build(empty, "w", depth=3, width=16, seed=1)
    est = {
        r["term"]: r["est"]
        for r in sketches.cms_estimate(cms, ["x"], depth=3, width=16, seed=1).collect()
    }
    assert est == {"x": 0}


# --- portable HyperLogLog ---------------------------------------------------


def test_hll_estimate_within_expected_error(spark):
    from spark_ifs_spark.operators.sketches import hll_distinct

    n = 5000
    df = spark.createDataFrame(
        [("k", f"v{i}") for i in range(n)], "key string, v string"
    )
    est = hll_distinct(df, ["key"], "v", p=9).collect()[0]["est_distinct"]
    # std error ~1.04/sqrt(512) = 4.6%; 3 sigma = 14%
    assert abs(est - n) / n < 0.15, est


def test_hll_small_range_linear_counting(spark):
    from spark_ifs_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame(
        [("k", f"v{i % 20}") for i in range(400)], "key string, v string"
    )
    est = hll_distinct(df, ["key"], "v", p=9).collect()[0]["est_distinct"]
    # 20 distinct << 2.5m -> linear counting branch, near-exact
    assert abs(est - 20) < 2, est


def test_hll_merge_invariance(spark):
    """Sketching a union equals sketching the parts — the register file
    is a bucket-max, so partition/batch layout cannot change the
    estimate (the property that makes HLL incrementally mergeable)."""
    from spark_ifs_spark.operators.sketches import hll_distinct

    rows = [("k", f"v{i}") for i in range(3000)]
    whole = spark.createDataFrame(rows, "key string, v string")
    shuffled = spark.createDataFrame(rows[::-1], "key string, v string").repartition(7)
    e1 = hll_distinct(whole, ["key"], "v", p=9).collect()[0]["est_distinct"]
    e2 = hll_distinct(shuffled, ["key"], "v", p=9).collect()[0]["est_distinct"]
    assert e1 == e2


def test_hll_matches_duckdb_twin(spark):
    import duckdb

    from spark_ifs_spark.operators.sketches import hll_distinct, sql_hll_distinct

    rows = [(f"t{i % 3}", i * 7919 % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    got = {
        r["event_type"]: r["est_distinct"]
        for r in hll_distinct(df, ["event_type"], "user_id", p=9).collect()
    }
    con = duckdb.connect()
    con.register("events", __import__("pandas").DataFrame(rows, columns=["event_type", "user_id"]))
    want = {
        k: v
        for k, v in con.execute(
            sql_hll_distinct("events", ["event_type"], "user_id", p=9)
        ).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_kmv_sketch_merge_equals_direct_sketch(spark, sf_dir):
    """KMV mergeability: re-sketching the UNION of two shard sketches
    equals sketching the union of the shards directly — the property
    that lets per-shard sketches fold into corpus cardinalities."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.sketches import kmv_estimate, kmv_sketch
    from spark_ifs_spark.operators.topk import topk_per_key

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.lit("all").alias("g"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    # two shard sketches, keyed by half
    shard_sk = kmv_sketch(terms, ["half"], "term", k=64)
    merged_rows = shard_sk.select("h").distinct().withColumn("g", F.lit("all"))
    merged = topk_per_key(merged_rows, ["g"], "h", k=64, descending=False)
    direct = kmv_sketch(terms, ["g"], "term", k=64)
    m = kmv_estimate(merged, ["g"], k=64).collect()[0]
    d = kmv_estimate(direct, ["g"], k=64).collect()[0]
    assert (m["kth_h"], m["n_sketch"], m["est_distinct"]) == (
        d["kth_h"], d["n_sketch"], d["est_distinct"]
    )
    # and the estimate is sane: within 30% of the exact distinct count
    exact = terms.select("term").distinct().count()
    assert abs(m["est_distinct"] - exact) / exact < 0.30


def test_heavy_hitters_finds_planted_keys_exactly(spark):
    # 1000 tokens: 'hot' 300 (300000 ppm), 'warm' 100 (100000 ppm),
    # 600 singletons — phi at 150000 ppm keeps exactly 'hot'
    words = ["hot"] * 300 + ["warm"] * 100 + [f"u{i}" for i in range(600)]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    out = sketches.cms_heavy_hitters(df, "w", phi_ppm=150_000, depth=4, width=64, seed=9)
    rows = {r["term"]: r for r in out.collect()}
    assert set(rows) == {"hot"}
    assert rows["hot"]["n_exact"] == 300
    # CMS never undercounts, so est >= exact and over_ppm >= 0
    assert rows["hot"]["est"] >= 300
    assert rows["hot"]["over_ppm"] >= 0


def test_heavy_hitters_no_false_negatives_under_collisions(spark):
    # tiny width forces heavy collisions: the shortlist may include
    # false positives, but every true heavy hitter MUST survive (the
    # exact verify pass then reports its true count)
    words = ["a"] * 80 + ["b"] * 60 + [f"u{i}" for i in range(200)] * 2
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    out = sketches.cms_heavy_hitters(df, "w", phi_ppm=100_000, depth=2, width=4, seed=3)
    rows = {r["term"]: r["n_exact"] for r in out.collect()}
    n = len(words)
    assert rows.get("a") == 80 and rows.get("b") == 60
    # the output is EXACTLY the true heavy set (verify kills CMS FPs)
    for term, cnt in rows.items():
        assert cnt * 1_000_000 >= n * 100_000


def test_heavy_hitters_verify_pass_has_no_join(spark):
    """The verify pass detects candidates MAP-SIDE against the
    collected hot-cell map literals and hash-aggregates the survivors
    directly — no join of any kind, and no distinct over the corpus
    key space (grid collection is a separate bounded job)."""
    words = ["x"] * 10 + ["y"] * 2
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    out = sketches.cms_heavy_hitters(df, "w", phi_ppm=500_000, depth=2, width=8, seed=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # exactly one aggregate pair (partial + final) — the term count;
    # the old shape's extra vocabulary-distinct aggregate is gone
    assert plan.count("HashAggregate") == 2


def test_cms_build_rejects_degenerate_grid(spark, tokens):
    with pytest.raises(ValueError):
        sketches.cms_build(tokens, "w", depth=0, width=64)
    with pytest.raises(ValueError):
        sketches.cms_build(tokens, "w", depth=4, width=0)


# -- rank sketch (bottom-k-by-hash) -------------------------------------------


def test_rank_sketch_exhaustive_is_exact(spark):
    """k >= n keeps every row, so the sketch quantile IS the exact
    discrete quantile of the full relation."""
    rows = [(i, (i * 37) % 100) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, v long")
    sk = sketches.rank_sketch(df, "id", "v", k=500)
    assert sk.count() == 80
    got = {
        r["q_pct"]: r["v_est"]
        for r in sketches.rank_sketch_quantiles(sk, (25, 50, 100)).collect()
    }
    vals = sorted(v for _, v in rows)
    assert got[25] == vals[-(-25 * 80 // 100) - 1]
    assert got[50] == vals[-(-50 * 80 // 100) - 1]
    assert got[100] == vals[-1]


def test_rank_sketch_merge_equals_direct_sketch(spark):
    """The KMV merge law applied to rank sketches: merging two shard
    sketches equals sketching the union directly — exact equality,
    the property the streaming maintenance relies on."""
    rows = [(i, (i * 13) % 57) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v long")
    a = df.where(F.col("id") % 2 == 0)
    b = df.where(F.col("id") % 2 == 1)
    merged = sketches.rank_sketch_merge(
        sketches.rank_sketch(a, "id", "v", k=64),
        sketches.rank_sketch(b, "id", "v", k=64),
        k=64,
    )
    direct = sketches.rank_sketch(df, "id", "v", k=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    assert merged.count() == 64


def test_rank_sketch_validates_args(spark):
    df = spark.createDataFrame([(1, 2)], "id long, v long")
    with pytest.raises(ValueError, match="k must be"):
        sketches.rank_sketch(df, "id", "v", k=0)
    sk = sketches.rank_sketch(df, "id", "v", k=4)
    with pytest.raises(ValueError, match="percentages"):
        sketches.rank_sketch_quantiles(sk, (0, 50))


def test_rank_sketch_error_shrinks_with_k(spark):
    """Measured rank error of the median estimate tightens as k grows
    (the audit every estimator ships, as a property)."""
    n = 4000
    df = spark.createDataFrame(
        [(i, i) for i in range(n)], "id long, v long"
    )

    def median_rank_err(k):
        sk = sketches.rank_sketch(df, "id", "v", k=k)
        est = sketches.rank_sketch_quantiles(sk, (50,)).collect()[0]["v_est"]
        true_rank = (est + 1) / n  # v = rank in this fixture
        return abs(true_rank - 0.50)

    assert median_rank_err(1024) < 0.05
    assert median_rank_err(16) >= median_rank_err(1024)


# -- Misra-Gries summary / heavy hitters --------------------------------------


def _mg_fixture(spark, seed=0):
    # 'hot' 300, 'warm' 100, 600 distinct singletons -> n = 1000
    words = (
        ["hot"] * 300 + ["warm"] * 100 + [f"s{seed}_{i}" for i in range(600)]
    )
    return spark.createDataFrame([(w,) for w in words], ["w"])


def test_mg_summary_undercount_law_under_repartition(spark):
    """c(x) - n/(k+1) <= c_low(x) <= c(x) for every surviving key, and
    the summary stays k-bounded per partition — under several random
    partitionings (MG content is partition-dependent; the LAW is not)."""
    df = _mg_fixture(spark)
    n = df.count()
    k = 16
    exact = {r["w"]: r["cnt"] for r in df.groupBy("w").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    for parts in (1, 3, 8):
        summ = sketches.mg_summary(df.repartition(parts), "w", k=k)
        rows = summ.collect()
        assert len(rows) <= k * parts
        slack = -(-n // (k + 1))
        for r in rows:
            assert r["c_low"] <= exact[r["term"]]
        # the heavy key must survive with a counter above its bound
        got = {r["term"]: r["c_low"] for r in rows}
        assert got.get("hot", 0) >= exact["hot"] - slack
        assert got.get("warm", 0) >= exact["warm"] - slack


def test_mg_heavy_hitters_exact_set(spark):
    """phi at 15% keeps exactly 'hot' (30%); the output count is exact."""
    df = _mg_fixture(spark)
    out = sketches.mg_heavy_hitters(df, "w", phi_ppm=150_000, k=16).collect()
    assert [(r["term"], r["n_exact"]) for r in out] == [("hot", 300)]


def test_mg_heavy_hitters_agrees_with_cms_route(spark):
    """The two-estimator cross-audit: CMS (overcount shortlist) and MG
    (undercount shortlist) verify to the identical exact set."""
    df = _mg_fixture(spark, seed=1)
    via_mg = sorted(
        (r["term"], r["n_exact"])
        for r in sketches.mg_heavy_hitters(
            df, "w", phi_ppm=90_000, k=16
        ).collect()
    )
    via_cms = sorted(
        (r["term"], r["n_exact"])
        for r in sketches.cms_heavy_hitters(
            df, "w", phi_ppm=90_000, depth=4, width=64, seed=9
        ).collect()
    )
    assert via_mg == via_cms == [("hot", 300), ("warm", 100)]


def test_mg_heavy_hitters_validates_args(spark):
    df = spark.createDataFrame([("x",)], ["w"])
    with pytest.raises(ValueError, match="phi_ppm"):
        sketches.mg_heavy_hitters(df, "w", phi_ppm=0, k=16)
    with pytest.raises(ValueError, match="cannot guarantee"):
        # k+1 = 5 counters, phi = 10%: slack n/5 = 20% > threshold
        sketches.mg_heavy_hitters(df, "w", phi_ppm=100_000, k=4)
    with pytest.raises(ValueError, match="k must be"):
        sketches.mg_summary(df, "w", k=0)


# -- KMV overlap (theta-sketch set operation) ---------------------------------


def test_kmv_overlap_exhaustive_is_exact(spark):
    """When every pairwise union fits in k, the kept rows ARE the
    union and the estimate IS the exact Jaccard."""
    rows = (
        [("a", f"w{i}") for i in range(40)]          # A = w0..w39
        + [("b", f"w{i}") for i in range(20, 60)]    # B = w20..w59
        + [("c", f"w{i}") for i in range(100, 110)]  # C disjoint from A
    )
    df = spark.createDataFrame(rows, "src string, term string")
    got = {
        (r["key_a"], r["key_b"]): (r["n_kept"], r["n_both"], r["jaccard_est"])
        for r in sketches.kmv_overlap(df, "src", "term", k=512).collect()
    }
    assert got[("a", "b")] == (60, 20, round(20 / 60, 6))
    assert got[("a", "c")] == (50, 0, 0.0)
    assert got[("b", "c")] == (50, 0, 0.0)


def test_kmv_overlap_estimate_within_error(spark, sf_dir):
    """At k << union size the estimate lands within the ~2/sqrt(k)
    band of the exact Jaccard on real corpus vocabulary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    est = {
        (r["key_a"], r["key_b"]): r["jaccard_est"]
        for r in sketches.kmv_overlap(terms, "source", "term", k=128).collect()
    }
    toks = terms.distinct()
    sizes = {
        r["source"]: r["n"]
        for r in toks.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    ta = toks.select(F.col("source").alias("a"), "term")
    tb = toks.select(F.col("source").alias("b"), "term")
    inter = {
        (r["a"], r["b"]): r["n"]
        for r in ta.join(tb, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    checked = 0
    for (a, b), n_common in inter.items():
        exact = n_common / (sizes[a] + sizes[b] - n_common)
        assert abs(est[(a, b)] - exact) < 2 / (128 ** 0.5) + 1e-9, (a, b)
        checked += 1
    assert checked >= 3


def test_kmv_overlap_validates_args(spark):
    df = spark.createDataFrame([("a", "x")], "src string, term string")
    with pytest.raises(ValueError, match="k must be"):
        sketches.kmv_overlap(df, "src", "term", k=0)


def test_rank_sketch_by_key_skew_and_exactness(spark):
    """Keyed rank sketches: a small group (fits in k — sketch IS the
    group, median exact) and a large skewed group (state capped at k)
    coexist; per-key medians come from per-key sketches."""
    rows = [("small", i, i) for i in range(9)] + [
        ("big", 100 + i, (i * 7) % 1000) for i in range(800)
    ]
    df = spark.createDataFrame(rows, "src string, id long, v long")
    sk = sketches.rank_sketch_by_key(df, ["src"], "id", "v", k=64)
    sizes = {r["src"]: r["n"] for r in sk.groupBy("src").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"small": 9, "big": 64}
    est = {
        (r["src"], r["q_pct"]): r["v_est"]
        for r in sketches.rank_sketch_quantiles_by_key(
            sk, ["src"], (50,)
        ).collect()
    }
    # small group: exhaustive -> exact discrete median (rank ceil(.5*9)=5)
    assert est[("small", 50)] == sorted(range(9))[4]
    # big group: estimate is a value from the group with a sane rank
    big_vals = sorted((i * 7) % 1000 for i in range(800))
    pos = big_vals.index(est[("big", 50)])
    assert abs(pos / 800 - 0.5) < 0.25


def test_cms_heavy_hitters_tolerates_null_values(spark):
    """NULL input values hash to a NULL-bucket grid cell; the hot maps
    skip those cells (a term lookup can never match NULL) instead of
    crashing on F.lit(None), and NULLs never surface as heavy terms."""
    words = ["a"] * 40 + [None] * 40 + ["b"] * 2
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = {
        r["term"]: r["n_exact"]
        for r in sketches.cms_heavy_hitters(
            df, "w", phi_ppm=300_000, depth=2, width=8, seed=1
        ).collect()
    }
    # n_total counts NULL rows (oracle convention): thresh = ceil(82*.3)=25
    assert rows == {"a": 40}


def test_cms_heavy_hitters_guards_map_literal_size(spark):
    """A pathologically small phi over a wide grid would compile a
    multi-thousand-entry map literal per depth row; the entry-count
    guard raises instead of building an unplannable expression."""
    df = spark.range(60_000).select(F.col("id").cast("string").alias("w"))
    with pytest.raises(ValueError, match="hot-cell maps"):
        sketches.cms_heavy_hitters(df, "w", phi_ppm=1, depth=4, width=20_000, seed=1)


def test_mg_heavy_hitters_tolerates_null_values(spark):
    """The fold's value_counts drops NULLs from counters but the
    NULL-term sentinel row still counts them in n_total, matching the
    CMS route's convention."""
    words = ["a"] * 40 + [None] * 40 + ["b"] * 2
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = {
        r["term"]: r["n_exact"]
        for r in sketches.mg_heavy_hitters(df, "w", phi_ppm=300_000, k=16).collect()
    }
    assert rows == {"a": 40}
