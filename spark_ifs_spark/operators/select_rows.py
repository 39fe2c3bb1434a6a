"""Greedy forward mRMR selection, alternate encoding (features = rows).

Functional parity with ``IterativeFeatureSelection.selectRows``
(``/root/reference/src/main/scala/ifs/ml/feature/IterativeFeatureSelection.scala:151-185``):
each DataFrame row is one feature's full instance-vector; the instance
labels arrive as a driver-side array and are broadcast once (``IFS:158``).

Three selection loops serve every input, picked by the in-core gate
(``select_columns.INCORE_CELL_BUDGET``) and the score:

1. **In-core, any score** — at or under the gate the rows are collected
   once and ``select_columns``' ``_greedy_recurrence`` runs on the
   driver with a per-layout MI provider: dense rows are factorized once
   and share ``_greedy_codes`` with the conventional in-core path,
   sparse rows use :func:`mi_vec_sparse`. Exact :class:`MrmrRowScore`
   runs as ``MrmrColumnScore`` arithmetic — bit-identical, since its
   running ``red_sum += mi`` and ``sum(reds)`` add the same terms in the
   same order. Generic :class:`RowScore` plug-ins are the recurrence's
   scoring hook, their terms being the winners' vectors.
2. **Distributed mRMR, dense and sparse** (:func:`_select_rows_state`) —
   one loop over a persisted ``(id, vectors…, relevance, red_sum)``
   state, parametrized by the vector columns and the MI kernel:

   - **One aggregate per round, not three actions.** The reference runs
     ``takeOrdered`` + a winner-fetch ``count`` + ``first``
     (``IFS:172-178``); :func:`_argbest` folds the winner's vectors into
     a ``max(struct(score, -id, vectors…))`` hash aggregate — no sort,
     no range-partitioner sampling pass. One ``count()`` materializes
     the next state.
   - **Incremental redundancy.** The reference re-broadcasts ALL
     selected vectors and recomputes every MI(cand, s) each round
     (``IFS:163,167``); ``red_sum`` adds only MI(cand, newest winner):
     O(1) broadcasts and MI evaluations per candidate per round, not
     O(k).
   - **Relevance once and persisted state.** MI(cand, label) is computed
     once (the reference recomputes it every round, ``RowWiseScore.scala:55``)
     and the loop input is cached (the reference recomputes its lineage
     for every action, §3.2).
3. **Distributed plug-ins** (:func:`_select_rows_generic`) — a generic
   :class:`RowScore` re-scores every candidate against the full selected
   set each round (its redundancy need not be incremental).

MI per candidate runs in an Arrow-batched pandas UDF (numpy ``bincount``
contingency — one Python call per ~10k-row batch, not per row). This is
the one place the engine leaves the JVM, and it is the textbook case for
it: per-row vector math over wide arrays that Catalyst cannot vectorize.
Duplicate-id detection: pre-flight count-vs-distinct check (the reference
errors lazily at winner-fetch, ``IFS:176``).
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from spark_ifs_spark.operators import select_columns as _columns
from spark_ifs_spark.operators.scores import (
    MrmrColumnScore,
    MrmrRowScore,
    RowScore,
    mi_vec,
    mi_vec_sparse,
)
from spark_ifs_spark.operators.select_columns import (
    _greedy_codes,
    _greedy_recurrence,
    _greedy_scored,
)

#: loop-state vector columns and their numpy dtypes, per row layout
_DENSE = {"features": np.float64}
_SPARSE = {"indices": np.int64, "values": np.float64}


def _snapshot_state(state: DataFrame, path: str) -> DataFrame:
    """Parquet round-trip lineage truncation for the selection loop (the
    ``graph.py`` connected-components pattern): without it, round ``r``'s
    recovery lineage spans all ``r`` prior rounds' UDF stages, so on a
    real cluster one lost executor late in a k=100 run recomputes the
    whole chain. After the swap the state's lineage is one parquet scan.
    The caller unpersists the old state; the snapshot files live until
    the loop's ``finally`` removes the work dir (selections are plain
    Python by then — nothing lazy escapes)."""
    state.write.mode("overwrite").parquet(path)
    fresh = state.sparkSession.read.parquet(path).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    state.unpersist()
    return fresh


def _argbest(scored: DataFrame, higher: bool, cols: Sequence[str] = ("features",)):
    """Collect the single best ``(id, score, [cols…])`` row as one
    partial+final hash aggregate (no sort, no sampling pass).

    Struct comparison is lexicographic, so ``max(struct(score, -id, …))``
    maximizes score with ties going to the LOWEST id (deterministic —
    documented deviation from the reference's driver-hash-order ties);
    ``min(struct(score, id, …))`` is the minimizing mirror. The vector
    ``cols`` ride along in the struct and are never compared because ids
    are unique.
    """
    if higher:
        key = (-F.col("id")).alias("nid")
        agg = F.max
    else:
        key = F.col("id")
        agg = F.min
    packed = agg(F.struct(F.col("score"), key, *[F.col(c) for c in cols]))
    w = scored.agg(packed.alias("w")).select("w.*").first()
    win_id = -float(w["nid"]) if higher else float(w["id"])
    return win_id, float(w["score"]), [w[c] for c in cols]


def _mi_udf(kernel, other: Sequence[np.ndarray]):
    """pandas UDF computing ``kernel(*row_vectors, *other)`` per row —
    MI of each candidate (first) against one broadcast vector (the label
    or the newest winner) in the same layout."""

    def _mi(*cols: pd.Series) -> pd.Series:
        return pd.Series([kernel(*row, *other) for row in zip(*cols)], dtype=np.float64)

    return F.pandas_udf(_mi, DoubleType())


def _mi_dense(v, other: np.ndarray) -> float:
    return mi_vec(np.asarray(v, dtype=np.float64), other)


def select_rows(
    df: DataFrame,
    num: int,
    labels_row: Sequence[float],
    id_col: str = "id",
    features_col: str = "features",
    score: RowScore | None = None,
    snapshot_every: int | None = None,
    work_dir: str | None = None,
) -> list[tuple[float, float]]:
    """Greedily select ``min(num, df.count())`` feature rows.

    Returns ``[(feature_id, score)]`` in selection order. ``feature_id`` is
    surfaced as float for parity with the reference, which smuggles the id
    through ``LabeledPoint.label: Double`` (``IFS:149,160``).

    Cost-based strategy mirror of ``select_columns``: when the whole
    matrix is ``≤ INCORE_CELL_BUDGET`` cells (tens of MB — small-side
    regime) it is collected once and the shared greedy recurrence runs
    on numpy; past the budget the per-round distributed plan runs
    (module docstring).

    ``snapshot_every=N`` bounds recovery cost for deep (large-k) runs:
    every N rounds the distributed loop state takes a parquet round-trip
    (:func:`_snapshot_state`), so a lost executor replays at most N
    rounds of lineage instead of all of them. Rounds between snapshots
    keep the plain round shape. Snapshots land in ``work_dir`` (a
    temp dir by default, removed when the loop returns).
    """
    if num <= 0:
        raise ValueError("num must be > 0")
    if len(labels_row) == 0:
        raise ValueError("labels_row must be non-empty")
    score = score or MrmrRowScore()
    label_arr = np.asarray(labels_row, dtype=np.float64)

    base = df.select(
        F.col(id_col).cast("double").alias("id"),
        F.col(features_col).alias("features"),
    )
    n_rows, n_distinct = base.agg(
        F.count("id").alias("n"), F.count_distinct("id").alias("d")
    ).first()
    if n_rows != n_distinct:
        raise ValueError("duplicate feature ids in alternate-encoding input")
    num = min(num, int(n_rows))
    # exact type, not isinstance: a subclass overriding score() must NOT
    # be silently replaced by the hard-coded incremental mRMR recurrence
    incremental = type(score) is MrmrRowScore

    if int(n_rows) * len(labels_row) <= _columns.INCORE_CELL_BUDGET:
        return _select_rows_incore(base, num, label_arr, score, incremental)
    if not incremental:
        return _select_rows_generic(base, num, label_arr, score)
    return _select_rows_state(
        base, num, _DENSE, _mi_dense, [label_arr], snapshot_every, work_dir
    )


def select_rows_sparse(
    df: DataFrame,
    num: int,
    labels_row: Sequence[float],
    id_col: str = "id",
    n_col: str = "n",
    indices_col: str = "indices",
    values_col: str = "values",
    snapshot_every: int | None = None,
    work_dir: str | None = None,
) -> list[tuple[float, float]]:
    """:func:`select_rows` for SPARSE feature rows — identical selections
    (same :func:`mi_vec_sparse` ≡ :func:`mi_vec` math, same lowest-id
    tie-break, same recurrence), but vectors stay in (sorted-indices,
    nonzero-values) form end-to-end: never densified in the DataFrame,
    in Arrow transfer, or in the kernel. Each redundancy round moves and
    scores O(nnz) per candidate instead of O(n) — at a 1% density, 100×
    less shuffle/broadcast volume than the dense path.

    Input columns: ``id_col`` (unique), ``n_col`` (common vector length),
    ``indices_col``/``values_col`` (ascending indices, nonzero values —
    see :func:`~spark_ifs_spark.ml._schema.features_as_sparse`).
    mRMR-only (:class:`MrmrRowScore`): generic :class:`RowScore` plug-ins
    receive dense arrays by contract, so they go through
    :func:`select_rows`.

    The in-core gate is :func:`select_rows`' but budgets on STORED cells
    (``sum(nnz)``), the actual memory footprint of the sparse matrix.
    """
    if num <= 0:
        raise ValueError("num must be > 0")
    if len(labels_row) == 0:
        raise ValueError("labels_row must be non-empty")
    label_arr = np.asarray(labels_row, dtype=np.float64)
    lab_idx = np.flatnonzero(label_arr)
    lab_val = label_arr[lab_idx]

    base = df.select(
        F.col(id_col).cast("double").alias("id"),
        F.col(n_col).cast("int").alias("n"),
        F.col(indices_col).alias("indices"),
        F.col(values_col).alias("values"),
    )
    agg = base.agg(
        F.count("id").alias("rows"),
        F.count_distinct("id").alias("d"),
        F.count_distinct("n").alias("dn"),
        F.min("n").alias("n"),
        F.sum(F.size("values")).alias("nnz"),
    ).first()
    if agg["rows"] != agg["d"]:
        raise ValueError("duplicate feature ids in alternate-encoding input")
    if agg["dn"] != 1:
        raise ValueError("feature rows disagree on vector length n")
    n = int(agg["n"])
    if n != len(labels_row):
        raise ValueError(
            f"labels_row length {len(labels_row)} != feature vector length {n}"
        )
    num = min(num, int(agg["rows"]))

    def kernel(i, v, other_idx, other_val) -> float:
        return mi_vec_sparse(n, i, v, other_idx, other_val)

    if int(agg["nnz"]) <= _columns.INCORE_CELL_BUDGET:
        ids, rows = _collect_sorted(base, _SPARSE)
        relevance = {c: kernel(*rows[c], lab_idx, lab_val) for c in range(len(rows))}
        mi_newest = lambda remaining, newest: {  # noqa: E731
            c: kernel(*rows[c], *rows[newest]) for c in remaining
        }
        sel = _greedy_scored(
            list(range(len(rows))), num, MrmrColumnScore(), relevance, mi_newest
        )
        return [(ids[c], s) for c, s in sel]

    return _select_rows_state(
        base, num, _SPARSE, kernel, [lab_idx, lab_val], snapshot_every, work_dir
    )


def _collect_sorted(base: DataFrame, cols: dict) -> tuple[list[float], list[list]]:
    """Collect the feature rows in ascending id order — ids, and per row
    its vector columns as numpy arrays. Candidate position = id rank, so
    the recurrence's lowest-index tie-break is the lowest-id one."""
    got = sorted(base.select("id", *cols).collect(), key=lambda r: r["id"])
    return [float(r["id"]) for r in got], [
        [np.asarray(r[c], dtype=t) for c, t in cols.items()] for r in got
    ]


def _select_rows_incore(
    base: DataFrame,
    num: int,
    label_arr: np.ndarray,
    score: RowScore,
    incremental: bool,
) -> list[tuple[float, float]]:
    """In-core strategy for dense rows: collect the (budget-gated) rows
    once and run the shared greedy recurrence. Exact :class:`MrmrRowScore`
    runs as ``MrmrColumnScore`` over factorized-once codes (the
    conventional in-core kernel); any other :class:`RowScore` is the
    scoring hook itself, called with the winners' vectors in selection
    order — the same ``score.score`` calls as the distributed plug-in
    loop."""
    from spark_ifs_spark.operators.scores import factorize

    ids, rows = _collect_sorted(base, _DENSE)
    vecs = [v for (v,) in rows]
    if incremental:
        for v in vecs:
            if v.shape != label_arr.shape:
                raise ValueError(f"vector length mismatch: {v.shape} vs {label_arr.shape}")
        codes = [factorize(v) for v in vecs]
        sel = _greedy_codes(
            factorize(label_arr), codes, label_arr.size, num, MrmrColumnScore()
        )
    else:
        sel = _greedy_recurrence(
            list(range(len(vecs))),
            num,
            score.higher_is_better,
            lambda c, winners: score.score(vecs[c], label_arr, winners),
            lambda remaining, newest: dict.fromkeys(remaining, vecs[newest]),
        )
    return [(ids[c], s) for c, s in sel]


def _select_rows_state(
    base: DataFrame,
    num: int,
    cols: dict,
    kernel,
    label_vec: list[np.ndarray],
    snapshot_every: int | None,
    work_dir: str | None,
) -> list[tuple[float, float]]:
    """The distributed incremental mRMR loop for dense AND sparse rows.

    ``cols`` names the state's vector columns (with their numpy dtypes)
    and ``kernel(*candidate_vectors, *other_vectors)`` is the MI in that
    layout; ``label_vec`` is the label in the same layout. The state is
    ``(id, cols…, relevance, red_sum)``: relevance fixed, ``red_sum``
    growing by MI(cand, newest winner) each round. Per round: one
    :func:`_argbest` aggregate that also fetches the winner's vectors,
    then one ``count()`` materializing the next state, and every
    ``snapshot_every`` rounds a parquet round-trip."""
    vec_cols = [F.col(c) for c in cols]
    state = base.withColumn(
        "relevance", _mi_udf(kernel, label_vec)(*vec_cols)
    ).withColumn("red_sum", F.lit(0.0))
    state = state.persist(StorageLevel.MEMORY_AND_DISK)

    selected: list[tuple[float, float]] = []
    snap_base = None
    try:
        for rnd in range(num):
            k = len(selected)
            score_col = F.col("relevance") - (
                F.col("red_sum") / F.lit(k) if k > 0 else F.lit(0.0)
            )
            win_id, win_score, win_vals = _argbest(
                state.withColumn("score", score_col), True, list(cols)
            )
            selected.append((win_id, win_score))
            if rnd == num - 1:
                break
            win_vec = [np.asarray(w, dtype=t) for w, t in zip(win_vals, cols.values())]
            new_state = (
                state.filter(F.col("id") != win_id)
                .withColumn(
                    "red_sum",
                    F.col("red_sum") + _mi_udf(kernel, win_vec)(*vec_cols),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            new_state.count()  # materialize before dropping the parent
            state.unpersist()
            state = new_state
            if snapshot_every and (rnd + 1) % snapshot_every == 0:
                if snap_base is None:
                    snap_base = work_dir or tempfile.mkdtemp(prefix="spark_ifs_sel_")
                state = _snapshot_state(state, f"{snap_base}/r{rnd + 1}")
        return selected
    finally:
        state.unpersist()
        if snap_base is not None and work_dir is None:
            shutil.rmtree(snap_base, ignore_errors=True)


def _select_rows_generic(
    base: DataFrame, num: int, label_arr: np.ndarray, score: RowScore
) -> list[tuple[float, float]]:
    """Non-incremental path for arbitrary :class:`RowScore` plug-ins:
    mirrors the reference shape (re-score all candidates against the full
    selected set each round) but still one job per round."""
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        selected: list[tuple[float, float]] = []
        sel_vecs: list[np.ndarray] = []
        for _ in range(num):
            sel_snapshot = [v.copy() for v in sel_vecs]
            lab = label_arr

            def _score(batch: pd.Series) -> pd.Series:
                return batch.map(
                    lambda v: score.score(np.asarray(v, dtype=np.float64), lab, sel_snapshot)
                )

            score_udf = F.pandas_udf(_score, DoubleType())
            sel_ids = [s[0] for s in selected]
            scored = base.filter(
                ~F.col("id").isin(sel_ids) if sel_ids else F.lit(True)
            ).withColumn("score", score_udf(F.col("features")))
            win_id, win_score, (win_features,) = _argbest(scored, score.higher_is_better)
            selected.append((win_id, win_score))
            sel_vecs.append(np.asarray(win_features, dtype=np.float64))
        return selected
    finally:
        base.unpersist()
