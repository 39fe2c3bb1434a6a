"""Sparse-vector semantics parity (SURVEY §1.2, MutualInformation.scala:49-51,
extensions.scala:29): implicit zeros of sparse ML vectors are REAL
categorical 0.0 values. Densifying at the API edge must therefore give
results identical to an explicitly dense encoding."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml.linalg import SparseVector, Vectors

from spark_ifs_spark.ml import FeatureSelector, RowSelector
from spark_ifs_spark.operators.scores import mi_vec


def test_mi_vec_sparse_zero_cell():
    # vectors with many implicit zeros: the (0,0) cell must count
    a = np.array([0, 0, 0, 0, 1, 2], dtype=float)
    b = np.array([0, 0, 0, 0, 1, 2], dtype=float)
    # MI(x,x) = H(x); zeros dominate → H < ln(3)
    h = mi_vec(a, b)
    p = np.array([4 / 6, 1 / 6, 1 / 6])
    assert h == pytest.approx(float(-(p * np.log(p)).sum()), abs=1e-12)


def test_mi_vec_sparse_identical_to_dense_high_dim():
    """The O(nnz) nonzero-walk kernel must be BIT-identical to the dense
    kernel on high-dimension genuinely-sparse rows (1% density, n=200k):
    same category tables, same cell order, same float reduction."""
    from spark_ifs_spark.operators.scores import mi_vec_sparse

    rng = np.random.default_rng(7)
    n = 200_000
    for trial in range(5):
        nnz_a = rng.choice(n, size=n // 100, replace=False)
        nnz_b = rng.choice(n, size=n // 100, replace=False)
        a = np.zeros(n)
        b = np.zeros(n)
        a[nnz_a] = rng.choice([1.0, 2.0, 3.0, -1.0], size=nnz_a.size)
        b[nnz_b] = rng.choice([1.0, 2.0, -2.0], size=nnz_b.size)
        dense = mi_vec(a, b)
        ia = np.sort(nnz_a)
        ib = np.sort(nnz_b)
        sparse = mi_vec_sparse(n, ia, a[ia], ib, b[ib])
        assert sparse == dense, f"trial {trial}: {sparse} != {dense}"


def test_mi_vec_sparse_edge_cases():
    from spark_ifs_spark.operators.scores import mi_vec_sparse

    # empty vectors (all-implicit): MI of constants is 0
    assert mi_vec_sparse(10, [], [], [], []) == 0.0
    assert mi_vec_sparse(0, [], [], [], []) == 0.0
    # fully dense inputs through the sparse kernel
    a = np.array([1.0, 2.0, 1.0, 2.0])
    b = np.array([1.0, 1.0, 2.0, 2.0])
    idx = np.arange(4)
    assert mi_vec_sparse(4, idx, a, idx, b) == mi_vec(a, b)
    # perfectly dependent sparse pair: MI == entropy
    n = 1000
    ia = np.arange(0, n, 10)
    va = np.ones(ia.size)
    assert mi_vec_sparse(n, ia, va, ia, va) == mi_vec(
        np.isin(np.arange(n), ia).astype(float),
        np.isin(np.arange(n), ia).astype(float),
    )


def test_feature_selector_sparse_equals_dense(spark):
    rng = np.random.default_rng(17)
    n, d = 150, 8
    # mostly-zero categorical matrix (sparse-friendly)
    X = rng.choice([0, 0, 0, 1, 2], size=(n, d)).astype(float)
    y = X[:, 3].astype(int)  # feature 3 fully determines the label
    dense_rows = [(int(y[i]), Vectors.dense(X[i])) for i in range(n)]
    sparse_rows = [
        (
            int(y[i]),
            SparseVector(d, {j: X[i, j] for j in range(d) if X[i, j] != 0.0}),
        )
        for i in range(n)
    ]
    dense_df = spark.createDataFrame(dense_rows, ["label", "features"])
    sparse_df = spark.createDataFrame(sparse_rows, ["label", "features"])
    m_dense = FeatureSelector(numTopFeatures=3, outputCol="out").fit(dense_df)
    m_sparse = FeatureSelector(numTopFeatures=3, outputCol="out").fit(sparse_df)
    assert m_dense.getSelectedFeatures() == m_sparse.getSelectedFeatures()
    assert m_dense.getSelectedFeatures()[0] == 3


def test_row_selector_sparse_equals_dense(spark):
    rng = np.random.default_rng(23)
    n_feat, n_inst = 6, 80
    M = rng.choice([0, 0, 1, 2], size=(n_feat, n_inst)).astype(float)
    labels = M[2].tolist()  # feature-row 2 matches the label exactly
    dense = spark.createDataFrame(
        [(j, Vectors.dense(M[j])) for j in range(n_feat)], ["id", "features"]
    )
    sparse = spark.createDataFrame(
        [
            (j, SparseVector(n_inst, {i: M[j, i] for i in range(n_inst) if M[j, i] != 0.0}))
            for j in range(n_feat)
        ],
        ["id", "features"],
    )
    m_d = RowSelector(numTopRows=2, labelVector=labels, outputCol="k").fit(dense)
    m_s = RowSelector(numTopRows=2, labelVector=labels, outputCol="k").fit(sparse)
    assert m_d.getSelectedRows() == m_s.getSelectedRows()
    assert m_d.getSelectedRows()[0] == 2


def test_select_rows_sparse_equals_dense_distributed(spark, monkeypatch):
    """The sparse-native distributed path (select_rows_sparse past the
    in-core gate) must produce EXACTLY the dense path's selections and
    scores: mi_vec_sparse == mi_vec bit-for-bit, same recurrence, same
    lowest-id tie-break."""
    from spark_ifs_spark.operators import select_columns as select_columns_mod
    from spark_ifs_spark.operators.select_rows import select_rows, select_rows_sparse

    rng = np.random.default_rng(41)
    n_feat, n_inst = 12, 300
    M = np.zeros((n_feat, n_inst))
    for j in range(n_feat):
        nz = rng.choice(n_inst, size=n_inst // 10, replace=False)
        M[j, nz] = rng.choice([1.0, 2.0, 3.0], size=nz.size)
    labels = M[5].tolist()

    dense = spark.createDataFrame(
        [(j, M[j].tolist()) for j in range(n_feat)], "id long, features array<double>"
    )
    sparse = spark.createDataFrame(
        [
            (
                j,
                n_inst,
                np.flatnonzero(M[j]).tolist(),
                M[j][np.flatnonzero(M[j])].tolist(),
            )
            for j in range(n_feat)
        ],
        "id long, n int, indices array<int>, values array<double>",
    )
    for budget in (0, 10**9):  # distributed and in-core sparse paths
        monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", budget)
        got = select_rows_sparse(sparse, 4, labels)
        want = select_rows(dense, 4, labels)
        assert [i for i, _ in got] == [i for i, _ in want]
        for (_, a), (_, b) in zip(got, want):
            assert a == b, (budget, a, b)
    assert got[0][0] == 5.0  # label row itself wins round 1


def test_features_as_sparse_normalizes_all_layouts(spark):
    """Dense VectorUDT, sparse VectorUDT (incl. an explicit stored zero),
    and array<double> input all normalize to the same strictly-nonzero
    sorted triplet."""
    from spark_ifs_spark.ml._schema import features_as_sparse

    dense_v = spark.createDataFrame(
        [(0, Vectors.dense([0.0, 2.0, 0.0, 3.0]))], ["id", "f"]
    )
    sparse_v = spark.createDataFrame(
        [(0, SparseVector(4, {1: 2.0, 2: 0.0, 3: 3.0}))], ["id", "f"]
    )
    arr = spark.createDataFrame([(0, [0.0, 2.0, 0.0, 3.0])], "id long, f array<double>")
    for df in (dense_v, sparse_v, arr):
        n_c, i_c, v_c = features_as_sparse(df, "f")
        r = df.select(n_c.alias("n"), i_c.alias("i"), v_c.alias("v")).first()
        assert (r["n"], list(r["i"]), list(r["v"])) == (4, [1, 3], [2.0, 3.0])


def test_row_selector_routes_sparse_path(spark, monkeypatch):
    """A genuinely sparse VectorUDT input must take the O(nnz) path."""
    import spark_ifs_spark.ml.row_selector as rs_mod

    calls = {"sparse": 0}
    orig = rs_mod.select_rows_sparse

    def spy(*a, **k):
        calls["sparse"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(rs_mod, "select_rows_sparse", spy)
    rng = np.random.default_rng(3)
    n_feat, n_inst = 5, 60
    M = np.zeros((n_feat, n_inst))
    for j in range(n_feat):
        nz = rng.choice(n_inst, size=6, replace=False)
        M[j, nz] = 1.0
    df = spark.createDataFrame(
        [
            (j, SparseVector(n_inst, {int(i): M[j, i] for i in np.flatnonzero(M[j])}))
            for j in range(n_feat)
        ],
        ["id", "features"],
    )
    m = RowSelector(numTopRows=2, labelVector=M[1].tolist(), outputCol="k").fit(df)
    assert calls["sparse"] == 1
    assert m.getSelectedRows()[0] == 1
