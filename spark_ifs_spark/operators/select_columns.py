"""Greedy forward mRMR selection, conventional encoding (instances = rows).

Functional parity with ``IterativeFeatureSelection.selectColumns``
(``/root/reference/src/main/scala/ifs/ml/feature/IterativeFeatureSelection.scala:24-43``),
re-architected for Catalyst + incremental state:

- **Marginals once** (:func:`column_marginals`): within every contingency
  pair a column's marginal equals its global value counts, so ALL
  marginals for ALL rounds are one melt + one aggregation up front
  (the reference rebuilds them per round per matrix, ``IFS:99-134``).
- **Relevance once**: MI(cand, label) never changes; round 1 computes it
  for every candidate in one pass and the driver keeps it (≤ numCols
  floats).
- **Incremental redundancy**: round r adds only MI(cand, winner_{r-1})
  — one explode + one bounded hash aggregate per round (the reference
  recomputes candidate × ALL selected pairs each round, ``IFS:88-94``).
- Per round, only ≤ numCols ``(cand, mi)`` rows cross to the driver
  (the reference collects the full pair-count map, ``IFS:97``).

The per-round job:

    wide df (persisted, pruned to label + live features)
      → explode(candidates × other)                    map-side, no shuffle
      → groupBy(cand, cand_val, other_val).count()     ← the only real
        shuffle; partial agg + codegen from Catalyst; key space bounded by
        the 10k-cardinality guard, NOT by row count
      → broadcast-join precomputed marginals → sum terms per cand
      → collect ≤ numCols rows; argmax on the driver

Tie-break: deterministic lowest-index-wins. The reference's tie order is
nondeterministic driver-hash order (``IFS:37`` stable sort over a hash-map
grouping at ``:104``) — documented deviation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.functions.mi import (
    LABEL_COL_ID,
    MAX_CATEGORIES,
    check_cardinality,
    mi_from_joint_counts,
)
from spark_ifs_spark.operators.scores import ColumnScore, MrmrColumnScore

#: The selectors' in-core gate, in matrix cells: ``select_columns``
#: (rows × (C+1)), ``select_rows`` (rows × instances) and
#: ``select_rows_sparse`` (stored nonzeros) collect the matrix and run
#: the greedy recurrence on the driver at or under it (~40 MB of
#: doubles — the small-side regime where per-round jobs are pure
#: overhead), and run the per-round distributed plan past it. All three
#: read it at call time, so rebinding this one name moves every gate.
INCORE_CELL_BUDGET = 5_000_000


def column_marginals(
    df: DataFrame, label_col: str, feature_cols: Sequence[str]
) -> DataFrame:
    """Per-column value counts ``(col, value, cnt)`` with the label as col
    −1 — computed ONCE before the greedy loop.

    Key scale insight: within every (candidate, other) contingency pair,
    the marginal of a column's value equals its *global* value count
    (every row contributes exactly one cell per pair). So the per-round
    MI needs only joint counts + a broadcast join against this
    (cardinality-bounded, ≤ cols × 10k rows) relation — no window
    functions, no per-round marginal scans.
    """
    from spark_ifs_spark.operators.melt import melt_wide

    long = melt_wide(
        df,
        [label_col, *feature_cols],
        col_ids=[LABEL_COL_ID, *range(len(feature_cols))],
    )
    return long.groupBy("col", "value").agg(F.count(F.lit(1)).alias("cnt"))


def mi_vs_column(
    df: DataFrame,
    feature_cols: Sequence[str],
    candidates: Sequence[int],
    other_id: int,
    other_col: str,
    marginals: DataFrame,
    n_rows: int,
) -> DataFrame:
    """``(cand, mi)`` — MI of every candidate column against ONE other
    column (the label or the newest winner), in a single pass.

    The melt is ``posexplode`` of a primitive double array (position =
    index into ``candidates``), not an array of structs: primitive
    array construction stays in codegen and carries no per-tuple object,
    ~2× cheaper per row at explode widths of 50+. Positions are mapped
    back to candidate ids only on the (cardinality-bounded) aggregated
    relation."""
    cand_vals = F.array(*[F.col(feature_cols[c]).cast("double") for c in candidates])
    tuples = df.select(
        F.posexplode(cand_vals).alias("pos", "cand_val"),
        F.col(other_col).cast("double").alias("other_val"),
    )
    cand_ids = F.array(*[F.lit(int(c)) for c in candidates])
    joint = (
        tuples.groupBy("pos", "cand_val", "other_val")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.element_at(cand_ids, F.col("pos") + 1).alias("cand"),
            "cand_val",
            "other_val",
            "cnt",
        )
    )
    ma = F.broadcast(
        marginals.select(
            F.col("col").alias("cand"), F.col("value").alias("cand_val"), F.col("cnt").alias("ca")
        )
    )
    mb = F.broadcast(
        marginals.filter(F.col("col") == other_id).select(
            F.col("value").alias("other_val"), F.col("cnt").alias("cb")
        )
    )
    n = float(n_rows)
    c = F.col("cnt").cast("double")
    # marginal product in double: long×long would overflow at ~1e12 rows
    term = (c / F.lit(n)) * F.log(
        c * F.lit(n) / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    )
    return (
        joint.join(ma, ["cand", "cand_val"])
        .join(mb, ["other_val"])
        .groupBy("cand")
        .agg(F.sum(term).alias("mi"))
    )


def joint_label_mi_vs_column(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    candidates: Sequence[int],
    other_col: str,
    marginals: DataFrame,
    n_rows: int,
) -> DataFrame:
    """``(cand, mi)`` — ``I((cand, other); label)`` for every candidate
    against ONE other column, in a single pass (the JMI family's triple
    statistic). Same plan shape as :func:`mi_vs_column` — one primitive
    posexplode + one hash aggregate — but the aggregate counts
    (cand_val, other_val, label_val) TRIPLES; its key space is bounded by
    card(cand) × card(other) × card(label) (all under the 10k guard), not
    by row count. The pair marginal is derived FROM the triple counts
    (one more bounded aggregate — it is pair-specific, so the global
    marginals shortcut does not apply); the label marginal broadcasts
    from the precomputed global marginals."""
    cand_vals = F.array(*[F.col(feature_cols[c]).cast("double") for c in candidates])
    tuples = df.select(
        F.posexplode(cand_vals).alias("pos", "cand_val"),
        F.col(other_col).cast("double").alias("other_val"),
        F.col(label_col).cast("double").alias("lab_val"),
    )
    cand_ids = F.array(*[F.lit(int(c)) for c in candidates])
    joint = tuples.groupBy("pos", "cand_val", "other_val", "lab_val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # pair marginal re-aggregates the (bounded) joint relation; the big
    # explode's Exchange is shared between the two branches (Spark
    # ReusedExchange — the raw tuples are NOT scanned twice)
    pair_m = joint.groupBy("pos", "cand_val", "other_val").agg(
        F.sum("cnt").alias("cab")
    )
    lab_m = F.broadcast(
        marginals.filter(F.col("col") == LABEL_COL_ID).select(
            F.col("value").alias("lab_val"), F.col("cnt").alias("cy")
        )
    )
    n = float(n_rows)
    c = F.col("cnt").cast("double")
    term = (c / F.lit(n)) * F.log(
        c * F.lit(n) / (F.col("cab").cast("double") * F.col("cy").cast("double"))
    )
    return (
        joint.join(pair_m, ["pos", "cand_val", "other_val"])
        .join(lab_m, ["lab_val"])
        .groupBy("pos")
        .agg(F.sum(term).alias("mi"))
        .select(F.element_at(cand_ids, F.col("pos") + 1).alias("cand"), "mi")
    )


def all_pairs_mi(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
) -> DataFrame:
    """``(a, b, mi)`` for every unordered column pair (a<b by id) plus
    every (label=-1, col) pair — ALL MI terms any greedy run can need,
    in one explode + one hash aggregate.

    Tuple volume is ``rows × (C(C−1)/2 + C)`` — size the input's
    partitioning for the exploded volume, not the row count. Registered
    as the ``mi_matrix`` query; ``select_columns`` itself never needs
    the full matrix (greedy touches ≤ (k+1)·C of the C²/2 pairs)."""
    C = len(feature_cols)
    pairs = [(LABEL_COL_ID, j) for j in range(C)] + [
        (i, j) for i in range(C) for j in range(i + 1, C)
    ]

    def _val(cid: int) -> str:
        col = label_col if cid == LABEL_COL_ID else feature_cols[cid]
        # escape embedded backticks the way F.col does, so any legal
        # column name round-trips through the SQL-string spelling
        return f"CAST(`{col.replace('`', '``')}` AS DOUBLE)"

    # Built as ONE SQL string, not nested Column calls: the Column-API
    # spelling issued a py4j round-trip per struct field — ~6·(C²/2+C)
    # driver-blocking calls (seconds of pure construction overhead at
    # C=16) for the IDENTICAL expression tree.  Integer literals and
    # CAST(col AS DOUBLE) parse to the same typed expressions as
    # F.lit(int) / F.col(...).cast("double").
    structs = ",".join(
        f"struct({a} AS a, {_val(a)} AS a_val, {b} AS b, {_val(b)} AS b_val)"
        for a, b in pairs
    )
    tuples = df.select(
        F.expr(f"explode(array({structs}))").alias("_p")
    ).select("_p.a", "_p.a_val", "_p.b", "_p.b_val")
    joint = tuples.groupBy("a", "b", "a_val", "b_val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return mi_from_joint_counts(joint, group_cols=["a", "b"])


def _greedy_incore(
    wide: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    num: int,
    score: ColumnScore,
    max_categories: int = MAX_CATEGORIES,
) -> list[tuple[int, float]]:
    """In-core strategy: Arrow-collect the (budget-gated, few-MB) matrix,
    factorize every column once and run :func:`_greedy_codes` on the
    driver — (k+1)·C MI evaluations total, zero per-round Spark jobs.

    Cardinality-guard asymmetry (intentional, documented): this path
    counts distinct values EXACTLY from the factorized codes and raises
    at ``k > max_categories``; the distributed path pre-flights with
    ``approx_count_distinct`` and only raises above ~1.2× the limit (an
    approximate count cannot enforce an exact boundary). A column in
    the 1.0–1.2× band therefore fails in-core but passes distributed —
    the exact check is the one closer to the reference's streamed guard
    (``MutualInformation.scala``), so the stricter behavior applies
    where it is computable for free. NaN basis differs the same way:
    ``np.unique`` counts NaN (Spark NULL → NaN under ``toPandas``) as
    one category here, while ``approx_count_distinct`` ignores NULLs —
    a null-bearing column at the limit trips only this guard. MI
    semantics on nulls are identical on both paths; only the guard's
    counting basis differs."""
    import numpy as np

    from spark_ifs_spark.operators.scores import factorize

    pdf = wide.select(
        F.col(label_col).cast("double"),
        *[F.col(c).cast("double") for c in feature_cols],
    ).toPandas()
    lab_codes = factorize(pdf.iloc[:, 0].to_numpy(dtype=np.float64))
    codes = [
        factorize(pdf.iloc[:, i + 1].to_numpy(dtype=np.float64))
        for i in range(len(feature_cols))
    ]
    # exact cardinality guard from the codes (the distributed path's
    # approximate Spark-side pre-flight, done here for free)
    for name, (_, k) in zip(
        [label_col] + list(feature_cols), [lab_codes] + codes
    ):
        if k > max_categories:
            raise ValueError(
                f"column {name!r} has {k} distinct values, exceeding the "
                f"{max_categories} category limit"
            )
    return _greedy_codes(lab_codes, codes, len(pdf), num, score)


def _greedy_codes(
    lab_codes: tuple,
    codes: list[tuple],
    n: int,
    num: int,
    score: ColumnScore,
) -> list[tuple[int, float]]:
    """The in-core greedy run of both encodings: the recurrence over
    ``(codes, cardinality)`` pairs (one per feature, from
    :func:`~spark_ifs_spark.operators.scores.factorize`) with MI via
    :func:`~spark_ifs_spark.operators.scores.mi_codes` — the
    pre-factorized arithmetic tail of ``mi_vec`` (same natural-log,
    skip-empty-cell semantics, candidate first), so every in-core path
    stays bit-identical to the executor-side ``mi_vec`` math.
    Factorizing once instead of inside every pairwise MI call matters:
    ``mi_vec``'s two ``np.unique`` sorts were ~80% of in-core time at
    10k×50 k=10. Returns ``[(feature_position, score)]``."""
    from spark_ifs_spark.operators.scores import mi_codes

    all_idx = list(range(len(codes)))
    relevance = {
        c: mi_codes(codes[c][0], lab_codes[0], lab_codes[1], n)
        for c in all_idx
    }
    if score.redundancy_stat in ("joint_label_mi", "conditional_label_mi"):
        # JMI/CMIM families: the round term is I((cand, newest); label) —
        # pair codes combine the two factorized columns, then the same
        # mi_codes tail runs against the label; the conditional variant
        # subtracts I(newest; label) per the chain rule (relevance is
        # already computed for every column)
        sub_rel = score.redundancy_stat == "conditional_label_mi"
        mi_newest = lambda remaining, newest: {  # noqa: E731
            c: mi_codes(
                codes[c][0] * codes[newest][1] + codes[newest][0],
                lab_codes[0],
                lab_codes[1],
                n,
            )
            - (relevance[newest] if sub_rel else 0.0)
            for c in remaining
        }
    else:
        mi_newest = lambda remaining, newest: {  # noqa: E731
            c: mi_codes(codes[c][0], codes[newest][0], codes[newest][1], n)
            for c in remaining
        }
    return _greedy_scored(all_idx, num, score, relevance, mi_newest)


def _better(a: tuple[int, float], b: tuple[int, float], higher: bool) -> bool:
    """True if b beats a (ties → lower index)."""
    if b[1] == a[1]:
        return b[0] < a[0]
    return b[1] > a[1] if higher else b[1] < a[1]


def _greedy_recurrence(
    all_idx: list[int],
    num: int,
    higher: bool,
    score_of,
    mi_newest,
) -> list[tuple[int, float]]:
    """THE greedy forward recurrence — the only driver-side argmax loop,
    shared by every in-core strategy of both encodings and by the
    conventional distributed plan: per-round terms appended only vs the
    newest winner, lowest-index tie-break.

    ``mi_newest(remaining, newest)`` supplies each remaining candidate's
    term for the newest winner — a numpy closure in-core, a distributed
    aggregation in the per-round plan. ``score_of(c, terms)`` is the
    scoring hook: it rates candidate ``c`` from its terms (one per
    winner so far, in selection order). Strategy choice supplies only
    these two hooks, so it can never drift the selection semantics."""
    terms: dict[int, list] = {c: [] for c in all_idx}
    selected: list[tuple[int, float]] = []
    sel_set: set[int] = set()
    for rnd in range(num):
        if rnd > 0:
            newest = selected[-1][0]
            remaining = [c for c in all_idx if c not in sel_set]
            for c, v in mi_newest(remaining, newest).items():
                terms[c].append(v)
        best: tuple[int, float] | None = None
        for c in all_idx:
            if c in sel_set:
                continue
            s = score_of(c, terms[c])
            if best is None or _better(best, (c, s), higher):
                best = (c, s)
        assert best is not None
        selected.append(best)
        sel_set.add(best[0])
    return selected


def _greedy_scored(
    all_idx: list[int],
    num: int,
    score: ColumnScore,
    relevance: dict[int, float],
    mi_newest,
) -> list[tuple[int, float]]:
    """:func:`_greedy_recurrence` with a :class:`ColumnScore` as the
    scoring hook: relevance fixed, the terms are its redundancies."""
    return _greedy_recurrence(
        all_idx,
        num,
        score.higher_is_better,
        lambda c, reds: score.score(relevance.get(c, 0.0), reds),
        mi_newest,
    )


def select_columns(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
    num: int,
    score: ColumnScore | None = None,
    batch_size: int = 1000,
    max_categories: int = MAX_CATEGORIES,
) -> list[tuple[int, float]]:
    """Greedily select ``min(num, len(feature_cols))`` features.

    Returns ``[(feature_index, score)]`` in selection order (parity with
    ``IFS:22,42``; the ``min`` cap is ``IFS:31``).

    ``batch_size`` caps how many candidate columns one aggregation job
    explodes (the reference's O1 batching knob, ``IFS:58-63``) — with the
    long-format groupBy it bounds per-job shuffle width, not driver memory.

    **Cost-based physical strategy.** The greedy loop is k+1 sequential
    Spark jobs; when the WHOLE matrix is small (``rows × (C+1) ≤
    INCORE_CELL_BUDGET`` cells ≈ tens of MB — the broadcast-join-style
    small-side regime) distributed execution is pure scheduling
    overhead, so the matrix is Arrow-collected once and the identical
    greedy recurrence runs on numpy (:func:`_greedy_incore`). Past the
    budget — the 100 TB regime — the incremental per-round distributed
    plan below runs, in which no per-row data ever reaches the driver.
    """
    if num <= 0:
        raise ValueError("num must be > 0")
    score = score or MrmrColumnScore()
    feature_cols = list(feature_cols)
    num = min(num, len(feature_cols))
    all_idx = list(range(len(feature_cols)))

    needed = [label_col] + feature_cols
    wide = df.select(*needed).persist(StorageLevel.MEMORY_AND_DISK)
    marginals: DataFrame | None = None
    try:
        n_rows = wide.count()

        C = len(feature_cols)
        if n_rows * (C + 1) <= INCORE_CELL_BUDGET:
            # gate BEFORE the loop-tuned re-partitioning below: the
            # in-core path runs one toPandas, so the coalesce's extra
            # materialization pass would be pure waste. The cardinality
            # guard runs on the collected codes inside _greedy_incore —
            # exact and free there (profiled: the Spark-side
            # approx_count_distinct pre-flight was ~70% of in-core
            # wall-clock at 10k×50), while the distributed path below
            # keeps the scan-cheap approximate pre-flight.
            return _greedy_incore(
                wide, label_col, feature_cols, num, score, max_categories
            )

        # Right-size the loop input for the EXPLODED per-round volume
        # (each round emits ~rows × C tuples): target ~2M tuples per
        # partition so a 1M×50 round spreads over ~25 tasks instead of
        # riding the raw-row-count partitioning, while a 10k-row fixture
        # still coalesces to 1 task (the greedy loop multiplies per-task
        # scheduling overhead by k).
        cur_parts = wide.rdd.getNumPartitions()
        target = max(1, min(cur_parts, -(-(n_rows * max(C, 1)) // 2_000_000)))
        if target < cur_parts // 2 or cur_parts > target * 2:
            compact = wide.coalesce(target).persist(StorageLevel.MEMORY_AND_DISK)
            compact.count()
            wide.unpersist()
            wide = compact
        check_cardinality(wide, needed, max_categories)

        marginals = column_marginals(wide, label_col, feature_cols).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        marginals.count()  # materialize once; reused every round

        def _mi_all(cands: list[int], other_id: int, other_col: str) -> dict[int, float]:
            out: dict[int, float] = {}
            for start in range(0, len(cands), batch_size):
                batch = cands[start : start + batch_size]
                for r in mi_vs_column(
                    wide, feature_cols, batch, other_id, other_col, marginals, n_rows
                ).collect():
                    out[int(r["cand"])] = float(r["mi"])
            return out

        def _tri_mi_all(cands: list[int], other_col: str) -> dict[int, float]:
            out: dict[int, float] = {}
            for start in range(0, len(cands), batch_size):
                batch = cands[start : start + batch_size]
                for r in joint_label_mi_vs_column(
                    wide, label_col, feature_cols, batch, other_col, marginals, n_rows
                ).collect():
                    out[int(r["cand"])] = float(r["mi"])
            return out

        relevance = _mi_all(all_idx, LABEL_COL_ID, label_col)
        if score.redundancy_stat in ("joint_label_mi", "conditional_label_mi"):
            sub_rel = score.redundancy_stat == "conditional_label_mi"

            def mi_newest(remaining: list[int], newest: int) -> dict[int, float]:
                tri = _tri_mi_all(remaining, feature_cols[newest])
                if sub_rel:  # chain rule: I(c; Y | s) = I((c,s); Y) − I(s; Y)
                    return {c: v - relevance[newest] for c, v in tri.items()}
                return tri
        else:
            mi_newest = lambda remaining, newest: _mi_all(  # noqa: E731
                remaining, newest, feature_cols[newest]
            )
        return _greedy_scored(all_idx, num, score, relevance, mi_newest)
    finally:
        if marginals is not None:
            marginals.unpersist()
        wide.unpersist()
