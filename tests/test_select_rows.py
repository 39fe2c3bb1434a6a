from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_ifs_spark.operators import select_columns as select_columns_mod
from spark_ifs_spark.operators.melt import transpose_to_alternate
from spark_ifs_spark.operators.scores import MrmrRowScore, RowScore, mi_vec
from spark_ifs_spark.operators.select_columns import select_columns
from spark_ifs_spark.operators.select_rows import select_rows, select_rows_sparse
from spark_ifs_spark.sources.generator import random_matrix
from tests.oracle_mrmr import greedy_mrmr


def _alternate_df(spark, mat):
    """Build (id, features) alternate encoding + label row from a matrix."""
    arr = np.array(mat, dtype=float)
    labels = arr[:, 0].tolist()
    feats = arr[:, 1:].T  # feature j -> instance vector
    rows = [(int(j), [float(v) for v in feats[j]]) for j in range(feats.shape[0])]
    df = spark.createDataFrame(rows, ["id", "features"])
    return df, labels


def test_matches_numpy_oracle(spark):
    mat = random_matrix(rows=200, cols=11, seed=21)
    df, labels = _alternate_df(spark, mat)
    got = select_rows(df, num=4, labels_row=labels)
    arr = np.array(mat, dtype=float)
    want = greedy_mrmr(arr[:, 1:], arr[:, 0], 4)
    assert [int(i) for i, _ in got] == [i for i, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-9)


def test_cross_encoding_agreement(spark):
    """The reference's own differential check (CommandLine.scala:167-169):
    conventional and alternate selection must agree."""
    mat = random_matrix(rows=150, cols=10, seed=33)
    names = [f"f{j}" for j in range(9)]
    conv = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    alt, labels = _alternate_df(spark, mat)
    conv_sel = select_columns(conv, "label", names, num=4)
    alt_sel = select_rows(alt, num=4, labels_row=labels)
    assert [i for i, _ in conv_sel] == [int(i) for i, _ in alt_sel]
    for (_, a), (_, b) in zip(conv_sel, alt_sel):
        assert a == pytest.approx(b, rel=1e-9)


def test_transpose_roundtrip_agreement(spark):
    """transpose_to_alternate feeds select_rows ≡ select_columns."""
    mat = random_matrix(rows=80, cols=7, seed=9)
    names = [f"f{j}" for j in range(6)]
    conv = spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(mat)], ["iid", "label", *names]
    )
    alt = transpose_to_alternate(conv, names, order_col="iid")
    labels = [float(r[0]) for r in mat]
    conv_sel = select_columns(conv, "label", names, num=3)
    alt_sel = select_rows(alt, num=3, labels_row=labels)
    assert [i for i, _ in conv_sel] == [int(i) for i, _ in alt_sel]


def test_duplicate_ids_error(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (1, [1.0, 0.0])], ["id", "features"]
    )
    with pytest.raises(ValueError, match="duplicate"):
        select_rows(df, num=1, labels_row=[0.0, 1.0])


def test_empty_labels_error(spark):
    df = spark.createDataFrame([(1, [0.0])], ["id", "features"])
    with pytest.raises(ValueError, match="non-empty"):
        select_rows(df, num=1, labels_row=[])


def test_num_cap(spark):
    mat = random_matrix(rows=60, cols=5, seed=4)
    df, labels = _alternate_df(spark, mat)
    assert len(select_rows(df, num=50, labels_row=labels)) == 4  # IFS:156 cap


def test_generic_row_score_plugin(spark):
    """Non-incremental plug-in path agrees with the default on mRMR."""

    class MyMrmr(RowScore):
        higher_is_better = True

        def score(self, feature, label_row, selected):
            rel = mi_vec(feature, label_row)
            if not selected:
                return rel
            return rel - sum(mi_vec(feature, s) for s in selected) / len(selected)

    mat = random_matrix(rows=100, cols=7, seed=13)
    df, labels = _alternate_df(spark, mat)
    default = select_rows(df, num=3, labels_row=labels, score=MrmrRowScore())
    plugin = select_rows(df, num=3, labels_row=labels, score=MyMrmr())
    assert [i for i, _ in default] == [i for i, _ in plugin]


def test_incore_and_distributed_paths_agree(spark, monkeypatch):
    """The in-core escape hatch must be semantically invisible vs the
    distributed per-round plan (both score orders and values)."""
    mat = random_matrix(rows=60, cols=9, seed=11)
    alt, labels = _alternate_df(spark, mat)
    incore = select_rows(alt, num=4, labels_row=labels)
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    dist = select_rows(alt, num=4, labels_row=labels)
    assert [int(i) for i, _ in incore] == [int(i) for i, _ in dist]
    for (_, a), (_, b) in zip(incore, dist):
        assert a == b


def test_cross_encoding_agreement_miq(spark, monkeypatch):
    """Cross-encoding differential invariant holds for the MIQ plug-in
    too, through both the in-core and distributed paths."""
    from spark_ifs_spark.operators.scores import MiqColumnScore, MiqRowScore

    mat = random_matrix(rows=120, cols=8, seed=5)
    names = [f"f{j}" for j in range(7)]
    conv = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    alt, labels = _alternate_df(spark, mat)
    conv_sel = select_columns(conv, "label", names, num=3, score=MiqColumnScore())
    alt_sel = select_rows(alt, num=3, labels_row=labels, score=MiqRowScore())
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    alt_dist = select_rows(alt, num=3, labels_row=labels, score=MiqRowScore())
    assert [i for i, _ in conv_sel] == [int(i) for i, _ in alt_sel]
    assert [int(i) for i, _ in alt_sel] == [int(i) for i, _ in alt_dist]
    for (_, a), (_, b) in zip(conv_sel, alt_sel):
        assert a == pytest.approx(b, rel=1e-9)


def test_snapshot_every_identical_selections_and_cleanup(spark, tmp_path, monkeypatch):
    """snapshot_every's parquet lineage truncation must not change ONE
    selection or score, and default (tempdir) snapshots must be removed
    when the loop returns."""
    import glob

    mat = random_matrix(rows=120, cols=9, seed=33)
    df, labels = _alternate_df(spark, mat)
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    plain = select_rows(df, num=5, labels_row=labels)
    snap = select_rows(df, num=5, labels_row=labels, snapshot_every=2)
    assert snap == plain
    assert glob.glob("/tmp/spark_ifs_sel_*") == []
    # explicit work_dir: snapshots are the caller's to keep
    kept = select_rows(
        df, num=5, labels_row=labels,
        snapshot_every=2, work_dir=str(tmp_path / "snaps"),
    )
    assert kept == plain
    assert (tmp_path / "snaps").exists()


def test_snapshot_truncates_lineage(spark):
    """After a snapshot the loop state's physical plan must be a parquet
    scan (+ the persisted InMemoryRelation), not the r-round UDF chain —
    the bounded-recovery property the knob exists for."""
    from spark_ifs_spark.operators.select_rows import _snapshot_state
    import tempfile, shutil

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(10)], ["id", "features"]
    )
    deep = df
    for _ in range(3):
        deep = deep.withColumn("features", F.transform("features", lambda x: x + 1))
    base = tempfile.mkdtemp(prefix="spark_ifs_sel_test_")
    try:
        snapped = _snapshot_state(deep.persist(), f"{base}/r1")
        plan = snapped._jdf.queryExecution().optimizedPlan().toString()
        assert "transform" not in plan
        snapped.unpersist()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cross_encoding_agreement_jmi(spark, monkeypatch):
    """Cross-encoding differential invariant holds for the JMI plug-in —
    the triple statistic I((cand, s); label) must agree between the
    conventional encoding (in-core AND distributed triple-count plans)
    and the alternate encoding's pandas-UDF pair-code path."""
    from spark_ifs_spark.operators.scores import JmiColumnScore, JmiRowScore

    mat = random_matrix(rows=120, cols=8, seed=9)
    names = [f"f{j}" for j in range(7)]
    conv = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    alt, labels = _alternate_df(spark, mat)
    conv_sel = select_columns(conv, "label", names, num=3, score=JmiColumnScore())
    alt_sel = select_rows(alt, num=3, labels_row=labels, score=JmiRowScore())
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    conv_dist = select_columns(conv, "label", names, num=3, score=JmiColumnScore())
    assert [i for i, _ in conv_sel] == [i for i, _ in conv_dist]
    assert [i for i, _ in conv_sel] == [int(i) for i, _ in alt_sel]
    for (_, a), (_, b) in zip(conv_sel, conv_dist):
        assert a == pytest.approx(b, rel=1e-9)
    for (_, a), (_, b) in zip(conv_sel, alt_sel):
        assert a == pytest.approx(b, rel=1e-9)


def test_cross_encoding_agreement_cmim(spark, monkeypatch):
    """Cross-encoding differential invariant holds for the CMIM plug-in:
    the conditional statistic I(cand; label | s) must agree between the
    conventional encoding (both strategies) and the alternate encoding."""
    from spark_ifs_spark.operators.scores import CmimColumnScore, CmimRowScore

    mat = random_matrix(rows=120, cols=8, seed=13)
    names = [f"f{j}" for j in range(7)]
    conv = spark.createDataFrame([tuple(map(float, r)) for r in mat], ["label", *names])
    alt, labels = _alternate_df(spark, mat)
    conv_sel = select_columns(conv, "label", names, num=3, score=CmimColumnScore())
    alt_sel = select_rows(alt, num=3, labels_row=labels, score=CmimRowScore())
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    conv_dist = select_columns(conv, "label", names, num=3, score=CmimColumnScore())
    assert [i for i, _ in conv_sel] == [i for i, _ in conv_dist]
    assert [i for i, _ in conv_sel] == [int(i) for i, _ in alt_sel]
    for (_, a), (_, b) in zip(conv_sel, conv_dist):
        assert a == pytest.approx(b, rel=1e-9)
    for (_, a), (_, b) in zip(conv_sel, alt_sel):
        assert a == pytest.approx(b, rel=1e-9)


def _planted(n_inst=240, seed=3):
    """Feature-major matrix with planted structure, mostly zeros so the
    sparse layout stores ~half the cells: f0 is the label with 20%
    noise, f1 a 10%-flipped copy of f0 (relevant but redundant), f2
    carries the label's ``== 2`` bit (relevant, complementary to f0),
    f3..f9 are sparse noise."""
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 3, n_inst).astype(float)
    f0 = np.where(rng.random(n_inst) < 0.8, y, 0.0)
    f1 = np.where(rng.random(n_inst) < 0.9, f0, rng.integers(0, 3, n_inst))
    f2 = np.where(rng.random(n_inst) < 0.9, (y == 2) * 1.0, 0.0)
    noise = rng.choice([0.0, 0.0, 0.0, 1.0, 2.0], size=(7, n_inst))
    return np.vstack([f0, f1, f2, noise]), y


def test_every_strategy_selects_identically(spark, monkeypatch):
    """Both sides of the in-core gate, both encodings and both row
    layouts run one greedy recurrence: the conventional in-core path
    and the alternate dense and sparse paths, in-core and distributed,
    select the same ids with ``==`` scores; the conventional
    distributed plan sums its MI terms in Spark's order, so it matches
    to 1e-9."""
    X, y = _planted()
    n_feat, n_inst = X.shape
    names = [f"f{j}" for j in range(n_feat)]
    conv = spark.createDataFrame(
        [(float(y[i]), *map(float, X[:, i])) for i in range(n_inst)], ["label", *names]
    )
    dense = spark.createDataFrame(
        [(j, X[j].tolist()) for j in range(n_feat)], "id long, features array<double>"
    )
    sparse = spark.createDataFrame(
        [
            (j, n_inst, np.flatnonzero(X[j]).tolist(), X[j][np.flatnonzero(X[j])].tolist())
            for j in range(n_feat)
        ],
        "id long, n int, indices array<int>, values array<double>",
    )
    labels = y.tolist()

    def run(budget):
        monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", budget)
        return (
            select_columns(conv, "label", names, num=5),
            select_rows(dense, 5, labels),
            select_rows_sparse(sparse, 5, labels),
        )

    conv_in, dense_in, sparse_in = run(10**9)
    conv_dist, dense_dist, sparse_dist = run(0)
    ids = [i for i, _ in conv_in]
    assert ids[:2] == [0, 2]  # the planted signal; the redundant copy f1 waits
    for got in (dense_in, sparse_in, dense_dist, sparse_dist):
        assert got == conv_in
    assert [i for i, _ in conv_dist] == ids
    for (_, a), (_, b) in zip(conv_dist, conv_in):
        assert abs(a - b) < 1e-9


def test_distributed_round_shape_is_pinned(spark, monkeypatch):
    """Past the gate, each extra greedy round of ``select_rows`` and
    ``select_rows_sparse`` costs the same fixed number of Spark jobs:
    one winner aggregate plus one materializing count, five jobs with
    adaptive execution on. The benchmark's gate guard tells the
    strategies apart by job count, so the round shape is a contract."""
    monkeypatch.setattr(select_columns_mod, "INCORE_CELL_BUDGET", 0)
    X, y = _planted(n_inst=60)
    dense = spark.createDataFrame(
        [(j, X[j].tolist()) for j in range(X.shape[0])], "id long, features array<double>"
    )
    sparse = spark.createDataFrame(
        [
            (j, X.shape[1], np.flatnonzero(X[j]).tolist(), X[j][np.flatnonzero(X[j])].tolist())
            for j in range(X.shape[0])
        ],
        "id long, n int, indices array<int>, values array<double>",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(select, df, k):
        group = f"round_shape_{select.__name__}_{k}"
        sc.setJobGroup(group, group)
        try:
            select(df, k, y.tolist())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    per_round = {
        select.__name__: jobs(select, df, 4) - jobs(select, df, 3)
        for select, df in ((select_rows, dense), (select_rows_sparse, sparse))
    }
    assert per_round == {"select_rows": 5, "select_rows_sparse": 5}
