from __future__ import annotations

import numpy as np
import pytest

from spark_ifs_spark.operators import select_columns as select_columns_mod
from spark_ifs_spark.operators.select_columns import select_columns
from spark_ifs_spark.sources.generator import engineered_fixture, random_matrix
from tests.oracle_mrmr import greedy_mrmr


def test_engineered_dependencies(spark):
    df, feats = engineered_fixture(spark)
    result = select_columns(df, "label", feats, num=4)
    idx = [i for i, _ in result]
    assert idx[0] == 0  # f0: most relevant, tie with f1 broken by index
    assert idx[1] == 2  # f2: relevant, not redundant with f0; f1 NOT second
    # full selection agrees with the independent numpy oracle
    import numpy as np

    from tests.oracle_mrmr import greedy_mrmr

    pdf = df.toPandas()
    arr = pdf[["label", *feats]].to_numpy(dtype=float)
    want = greedy_mrmr(arr[:, 1:], arr[:, 0], 4)
    assert idx == [i for i, _ in want]


def test_matches_numpy_oracle(spark):
    mat = random_matrix(rows=250, cols=13, seed=11)
    arr = np.array(mat, dtype=float)
    X, y = arr[:, 1:], arr[:, 0]
    names = [f"f{j}" for j in range(12)]
    df = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    got = select_columns(df, "label", names, num=5)
    want = greedy_mrmr(X, y, 5)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-9)


def test_batching_equivalence(spark):
    mat = random_matrix(rows=120, cols=9, seed=5)
    names = [f"f{j}" for j in range(8)]
    df = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    full = select_columns(df, "label", names, num=3, batch_size=1000)
    batched = select_columns(df, "label", names, num=3, batch_size=3)
    assert [i for i, _ in full] == [i for i, _ in batched]
    for (_, a), (_, b) in zip(full, batched):
        assert a == pytest.approx(b, rel=1e-12)


def test_num_cap_and_validation(spark):
    mat = random_matrix(rows=50, cols=4, seed=2)
    names = [f"f{j}" for j in range(3)]
    df = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    assert len(select_columns(df, "label", names, num=99)) == 3  # IFS:31 cap
    with pytest.raises(ValueError):
        select_columns(df, "label", names, num=0)


def test_fast_and_incremental_paths_agree(spark, monkeypatch):
    """The cost-based strategy choice must be semantically invisible:
    in-core numpy and incremental per-round distributed plans pick identical
    features with matching scores."""
    from spark_ifs_spark.sources.generator import random_conventional_df

    wide, names = random_conventional_df(spark, rows=400, cols=13, seed=7)
    fast = select_columns(wide, "label", names, num=6)
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    slow = select_columns(wide, "label", names, num=6)
    assert [i for i, _ in fast] == [i for i, _ in slow]
    for (_, sf), (_, ss) in zip(fast, slow):
        assert abs(sf - ss) < 1e-9


def test_incore_cardinality_guard(spark):
    """The in-core path enforces the category limit on the collected
    codes (exactly, no Spark pre-flight job); a too-wide feature raises
    the same error the distributed check_cardinality would."""
    df = spark.range(2000).selectExpr(
        "CAST(id % 2 AS DOUBLE) AS label",
        "CAST(id AS DOUBLE) AS f0",
        "CAST(id % 5 AS DOUBLE) AS f1",
    )
    with pytest.raises(ValueError, match="category limit"):
        select_columns(df, "label", ["f0", "f1"], num=1, max_categories=100)
    got = select_columns(df, "label", ["f1"], num=1, max_categories=100)
    assert len(got) == 1


def test_jmi_captures_synergy_mrmr_misses(spark):
    """The defining JMI property: with label = (f0 + f3) mod 3, neither
    f0 nor f3 is individually informative beyond noise, but their PAIR
    determines the label — after round 1 picks one of them, JMI's
    triple term I((cand, sel); y) makes the partner the runaway round-2
    winner. Also pins that the score equals the numpy triple-MI oracle."""
    import numpy as np

    from spark_ifs_spark.operators.scores import (
        JmiColumnScore,
        mi_pair_vs,
    )

    rng = np.random.default_rng(5)
    n, C = 400, 10
    X = rng.integers(0, 4, size=(n, C)).astype(float)
    y = ((X[:, 0] + X[:, 3]) % 3).astype(float)
    names = [f"f{j}" for j in range(C)]
    rows = [tuple([float(y[i])] + X[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, ["label", *names])

    sel = select_columns(df, "label", names, num=2, score=JmiColumnScore())
    first, second = sel[0][0], sel[1][0]
    assert {first, second} == {0, 3}
    expect2 = mi_pair_vs(X[:, second], X[:, first], y)
    assert abs(sel[1][1] - expect2) < 1e-9


def test_cmim_penalizes_redundant_copy(spark):
    """The defining CMIM property: a near-copy of an informative feature
    has I(copy; y | original) ~ 0, so the min-over-selected conditional
    term drives its round-2 score to ~0 and an independently informative
    feature wins instead — while plain relevance ranking would pick the
    copy second."""
    import numpy as np

    from spark_ifs_spark.operators.scores import CmimColumnScore

    rng = np.random.default_rng(17)
    n = 600
    f0 = rng.integers(0, 3, size=n).astype(float)     # strong feature
    f1 = f0.copy()                                     # exact copy
    f2 = rng.integers(0, 3, size=n).astype(float)      # independent signal
    noise = rng.integers(0, 3, size=n).astype(float)
    y = (f0 + 3.0 * f2)                                # y determined by f0 AND f2
    rows = [
        (float(y[i]), float(f0[i]), float(f1[i]), float(f2[i]), float(noise[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["label", "f0", "f1", "f2", "fn"])
    sel = select_columns(df, "label", ["f0", "f1", "f2", "fn"], num=2,
                         score=CmimColumnScore())
    picked = [f for f, _ in sel]
    assert set(picked) == {0, 2} or set(picked) == {1, 2}  # never the copy pair


def test_md5_generator_deterministic_and_distributed(spark):
    """random_conventional_md5_df: engine-portable cells, stable across
    runs and partitionings, uniform-ish levels."""
    from spark_ifs_spark.functions.hashing import md5_int60_py
    from spark_ifs_spark.sources.generator import random_conventional_md5_df

    df, names = random_conventional_md5_df(spark, rows=50, cols=4)
    assert names == ["f0", "f1", "f2"]
    rows = {r["label"]: (r["f0"], r["f1"], r["f2"]) for r in df.collect()}
    assert len(rows) <= 10  # labels are 0..9
    # spot-check the cell formula against the python twin
    got = df.orderBy("label", "f0", "f1", "f2").collect()
    want = sorted(
        tuple(md5_int60_py(f"{i}_{j}") % 10 for j in range(4)) for i in range(50)
    )
    assert [tuple(r) for r in got] == want
