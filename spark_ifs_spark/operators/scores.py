"""Pluggable scoring functions (the reference's extension point).

Mirrors ``ColumnWiseScore``/``RowWiseScore``
(``/root/reference/src/main/scala/ifs/ml/stats/ColumnWiseScore.scala:9-23``,
``RowWiseScore.scala:10-26``): a score plus an ordering direction. The
column-wise score consumes *aggregated MI terms* rather than contingency
matrices — in this engine contingency tables never leave Spark, so the
plug-in surface is "combine relevance and redundancy", which is the part
of the reference trait that actually varies.

Row-wise scores run inside Arrow-batched pandas UDFs, so implementations
must be picklable and operate on numpy arrays.

mRMR semantics (``ColumnWiseScore.scala:41-52``, ``RowWiseScore.scala:47-64``):
``score = MI(cand, label) − (1/|S|)·Σ_{s∈S} MI(cand, s)``; with an empty
selected set the score is the relevance alone (``ColumnWiseScore.scala:51``).
Higher is better (descending ordering, ``:32``).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

import numpy as np


def mi_vec(a: np.ndarray, b: np.ndarray) -> float:
    """MI of two same-length categorical value vectors (natural log).

    numpy counterpart of the reference's vector-vs-vector MI
    (``MutualInformation.scala:19-54``). The reference special-cases
    sparse vectors by counting the implicit-zero cell separately
    (``:49-51``); on dense arrays (all our inputs — sparse ML vectors are
    densified at the API edge, where implicit zeros are real ``0.0``
    values per ``extensions.scala:29``) plain exact counting is
    semantically identical.
    """
    if a.shape != b.shape:
        raise ValueError(f"vector length mismatch: {a.shape} vs {b.shape}")
    n = a.shape[0]
    if n == 0:
        return 0.0
    ai, _ = factorize(a)
    bi, nb = factorize(b)
    return mi_codes(ai, bi, nb, n)


def factorize(v: np.ndarray) -> tuple[np.ndarray, int]:
    """Dense category codes (0..k-1, sorted-value order) + cardinality.
    Split out so the in-core greedy loop factorizes each column ONCE
    instead of re-sorting it inside every pairwise MI call — the greedy
    makes (k+1)·C MI evaluations over the same C columns, so the two
    `np.unique` sorts per call were the dominant in-core cost."""
    _, inv = np.unique(v, return_inverse=True)
    return inv, (int(inv.max()) + 1 if inv.size else 0)


def mi_codes(ai: np.ndarray, bi: np.ndarray, nb: int, n: int) -> float:
    """MI from pre-factorized code vectors — the arithmetic tail of
    :func:`mi_vec`, bit-identical (same joint table, same cell order).

    Preconditions (asserted): ``ai`` and ``bi`` are parallel code
    vectors of the same length, ``n`` is their common row count, and
    ``nb`` bounds the codes in ``bi`` — dividing by a wrong
    caller-supplied ``n`` would be silently wrong MI, not an error.
    """
    assert ai.shape == bi.shape, f"code vectors differ: {ai.shape} vs {bi.shape}"
    assert n == ai.size, f"n={n} does not match {ai.size} rows"
    assert bi.size == 0 or int(bi.max()) < nb, (
        f"nb={nb} does not bound codes in bi (max {int(bi.max())}); "
        "a too-small nb collides joint-table cells into silently wrong MI"
    )
    if n == 0:  # same empty-input answer as mi_vec
        return 0.0
    pa = np.bincount(ai).astype(np.float64) / n
    pb = np.bincount(bi, minlength=nb).astype(np.float64) / n
    outer = np.outer(pa, pb).ravel()
    full = np.bincount(ai * nb + bi, minlength=pa.size * nb).astype(np.float64) / n
    mask = full > 0
    return float(np.sum(full[mask] * np.log(full[mask] / outer[mask])))


def mi_vec_sparse(
    n: int,
    idx_a: np.ndarray,
    val_a: np.ndarray,
    idx_b: np.ndarray,
    val_b: np.ndarray,
) -> float:
    """MI of two length-``n`` categorical vectors given in SPARSE
    (sorted-indices, values) form — the reference's nonzero-walk counting
    (``MutualInformation.scala:30-52``): joint counts come from walking
    only the stored entries, and the implicit ``(0, 0)`` cell is
    ``n − |nz_a ∪ nz_b|`` by complement. ``O(nnz)`` time and memory —
    never materializes a dense array, so genuinely sparse high-dimension
    feature rows (the alternate encoding at scale) stay sparse.

    Bit-identical to :func:`mi_vec` on the densified pair: both build
    the same category-major joint table and reduce it in the same cell
    order (pinned by ``test_sparse_vectors.py``).
    """
    idx_a = np.asarray(idx_a, dtype=np.int64)
    idx_b = np.asarray(idx_b, dtype=np.int64)
    val_a = np.asarray(val_a, dtype=np.float64)
    val_b = np.asarray(val_b, dtype=np.float64)
    if n == 0:
        return 0.0
    # explicit positions: both-stored, a-only, b-only
    _, ia, ib = np.intersect1d(idx_a, idx_b, assume_unique=True, return_indices=True)
    a_only = np.ones(idx_a.size, dtype=bool)
    a_only[ia] = False
    b_only = np.ones(idx_b.size, dtype=bool)
    b_only[ib] = False
    pairs_a = np.concatenate([val_a[ia], val_a[a_only], np.zeros(int(b_only.sum()))])
    pairs_b = np.concatenate([val_b[ib], np.zeros(int(a_only.sum())), val_b[b_only]])
    w = np.ones(pairs_a.size, dtype=np.float64)
    n_zero = n - pairs_a.size  # positions implicit in BOTH vectors
    if n_zero:
        pairs_a = np.append(pairs_a, 0.0)
        pairs_b = np.append(pairs_b, 0.0)
        w = np.append(w, float(n_zero))
    cats_a, ai = np.unique(pairs_a, return_inverse=True)
    cats_b, bi = np.unique(pairs_b, return_inverse=True)
    nb = cats_b.size
    joint = np.zeros(cats_a.size * nb, dtype=np.float64)
    np.add.at(joint, ai * nb + bi, w)
    pa = joint.reshape(cats_a.size, nb).sum(axis=1) / n
    pb = joint.reshape(cats_a.size, nb).sum(axis=0) / n
    outer = np.outer(pa, pb).ravel()
    full = joint / n
    mask = full > 0
    return float(np.sum(full[mask] * np.log(full[mask] / outer[mask])))


class ColumnScore(ABC):
    """Combine per-candidate relevance and redundancy MI into a score."""

    #: Direction of the argmax (reference: ``Ordering[Double]``).
    higher_is_better: bool = True

    #: Which per-round statistic the engine supplies as ``redundancies``:
    #: ``"pair_mi"`` = MI(cand, s) — the mRMR family's pairwise term;
    #: ``"joint_label_mi"`` = I((cand, s); label) — the JMI family's
    #: triple term (a different sufficient statistic: the engine counts
    #: (cand_val, sel_val, label_val) triples instead of pairs);
    #: ``"conditional_label_mi"`` = I(cand; label | s) — the CMIM
    #: family's conditional term, derived by the engine as
    #: I((cand, s); label) − I(s; label) from the same triple counts
    #: (the chain rule; relevance of s is already driver-held).
    redundancy_stat: str = "pair_mi"

    @abstractmethod
    def score(self, relevance: float, redundancies: list[float]) -> float:
        """``relevance`` = MI(cand, label); ``redundancies`` = one term
        per already-selected feature s (empty on round 1) — MI(cand, s)
        or I((cand, s); label) per :attr:`redundancy_stat`."""


class MrmrColumnScore(ColumnScore):
    """mRMR: relevance − mean(redundancy) (``ColumnWiseScore.scala:41-52``)."""

    higher_is_better = True

    def score(self, relevance: float, redundancies: list[float]) -> float:
        if not redundancies:
            return relevance
        return relevance - sum(redundancies) / len(redundancies)


class MiqColumnScore(ColumnScore):
    """MIQ (mutual-information quotient): relevance ÷ mean(redundancy) —
    the quotient variant of mRMR from the original mRMR paper (Peng et
    al. 2005; the reference implements only the difference form MID).
    Round 1 is relevance alone; the divisor is floored at 1e-12 so fully
    independent candidates (zero redundancy) don't divide by zero."""

    higher_is_better = True

    def score(self, relevance: float, redundancies: list[float]) -> float:
        if not redundancies:
            return relevance
        return relevance / max(sum(redundancies) / len(redundancies), 1e-12)


class JmiColumnScore(ColumnScore):
    """JMI (Joint Mutual Information, Yang & Moody 1999; Brown et al.
    2012 survey form): ``J(X_j) = Σ_{s∈S} I((X_j, X_s); Y)`` — round 1
    falls back to the relevance MI(X_j; Y) (the standard JMI
    initialization). Unlike the mRMR family this cannot be computed from
    pairwise MI: each term needs the TRIPLE joint distribution
    (candidate, selected, label), which the engine supplies when
    ``redundancy_stat = "joint_label_mi"``."""

    higher_is_better = True
    redundancy_stat = "joint_label_mi"

    def score(self, relevance: float, redundancies: list[float]) -> float:
        if not redundancies:
            return relevance
        return sum(redundancies)


class CmimColumnScore(ColumnScore):
    """CMIM (Conditional Mutual Information Maximization, Fleuret 2004):
    ``J(X_j) = min_{s∈S} I(X_j; Y | X_s)`` — keep the candidate whose
    label information survives conditioning on its WORST already-selected
    feature (a pessimistic dual to JMI's optimistic sum). Round 1 is the
    relevance. The engine derives each conditional term from the same
    triple counts as JMI via the chain rule
    ``I(X_j; Y | X_s) = I((X_j, X_s); Y) − I(X_s; Y)``."""

    higher_is_better = True
    redundancy_stat = "conditional_label_mi"

    def score(self, relevance: float, redundancies: list[float]) -> float:
        if not redundancies:
            return relevance
        return min(redundancies)


def mi_pair_vs(a: np.ndarray, b: np.ndarray, y: np.ndarray) -> float:
    """``I((a, b); y)`` — MI between the PAIR variable (a, b) and y,
    computed by combining the two factorized code vectors into one pair
    code and reusing :func:`mi_codes` (same joint table and cell-order
    semantics as every other MI in this package)."""
    ai, _ = factorize(a)
    bi, kb = factorize(b)
    yi, ky = factorize(y)
    return mi_codes(ai * kb + bi, yi, ky, a.shape[0])


class RowScore(ABC):
    """Score one candidate feature-row against the label row + selected rows."""

    higher_is_better: bool = True

    @abstractmethod
    def score(
        self,
        feature: np.ndarray,
        label_row: np.ndarray,
        selected: list[np.ndarray],
    ) -> float: ...


class MrmrRowScore(RowScore):
    """Row-wise mRMR (``RowWiseScore.scala:47-64``)."""

    higher_is_better = True

    def score(
        self,
        feature: np.ndarray,
        label_row: np.ndarray,
        selected: list[np.ndarray],
    ) -> float:
        relevance = mi_vec(feature, label_row)
        if not selected:
            return relevance
        red = sum(mi_vec(feature, s) for s in selected) / len(selected)
        return relevance - red


class MiqRowScore(RowScore):
    """Row-wise MIQ — must select identically to :class:`MiqColumnScore`
    on the transposed encoding (the cross-encoding differential
    invariant, extended to the plug-in surface)."""

    higher_is_better = True

    def score(
        self,
        feature: np.ndarray,
        label_row: np.ndarray,
        selected: list[np.ndarray],
    ) -> float:
        relevance = mi_vec(feature, label_row)
        if not selected:
            return relevance
        red = sum(mi_vec(feature, s) for s in selected) / len(selected)
        return relevance / max(red, 1e-12)


class JmiRowScore(RowScore):
    """Row-wise JMI — must select identically to :class:`JmiColumnScore`
    on the transposed encoding (the cross-encoding differential
    invariant, extended to the triple-statistic plug-in): each selected
    row contributes ``I((feature, s); label_row)`` via
    :func:`mi_pair_vs`."""

    higher_is_better = True

    def score(
        self,
        feature: np.ndarray,
        label_row: np.ndarray,
        selected: list[np.ndarray],
    ) -> float:
        if not selected:
            return mi_vec(feature, label_row)
        return sum(mi_pair_vs(feature, s, label_row) for s in selected)


class CmimRowScore(RowScore):
    """Row-wise CMIM — must select identically to :class:`CmimColumnScore`
    on the transposed encoding: each selected row contributes
    ``I((feature, s); label) − I(s; label)`` and the minimum wins."""

    higher_is_better = True

    def score(
        self,
        feature: np.ndarray,
        label_row: np.ndarray,
        selected: list[np.ndarray],
    ) -> float:
        if not selected:
            return mi_vec(feature, label_row)
        return min(
            mi_pair_vs(feature, s, label_row) - mi_vec(s, label_row)
            for s in selected
        )
