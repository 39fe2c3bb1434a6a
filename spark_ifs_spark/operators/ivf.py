"""IVF cell assignment: the one module that scores vectors against
centroids.

Every IVF consumer asks "which cell does this vector belong to":
probing (``similarity.cosine_topk_ivf``, ``topk_ivfpq``,
``streaming/ann.py``), writing (``sources.sinks.write_ivf_corpus``),
Lloyd training (``similarity.ivf_centroids_kmeans``, the ``kmeans_*``
statistics), cell-gated curation (``semantic_dedup``,
``hard_negatives``) and the kNN-graph seeds (``knn._cell_seed``). One
partition-local index primitive answers for all of them (the REPOSE
posture; FAISS-style IVF):

- **Seed centroids**: the vectors of the ``num_centroids`` smallest ids
  — no Lloyd fitting, bit-reproducible across engines and oracles.
- **One scoring hook, two instances.** ``FLOAT`` scores
  ``dot(v, c/‖c‖)`` over doubles (the row norm cancels out of the cosine
  argmax). ``INT`` scores an exact int64 ``dot(v, c)`` divided by
  ``√ssq_c`` over caller-quantized ``array<bigint>`` vectors: every
  engine computes the identical double, so even exact ties break as in
  DuckDB — the contract that keeps ``knn`` and ``kmeans_train_stats_q8``
  bit-identical to their oracles, and the reason the two stay separate.
  A zero centroid divides by 1.0 and scores +0.0 in both.
- **One ladder** by centroid count: the literal-SQL argmax
  (:func:`cell_expr`) up to ``EXPR_MAX_CENTROIDS``, the broadcast-numpy
  GEMM (:func:`assign_np`) below ``TWO_LEVEL_MIN_CENTROIDS``, the
  two-level coarse quantizer (:func:`two_level_cells`) from it. No
  corpus shuffle on the flat rungs.
- **One tie rule**: score DESC, then cid ASC — the struct max over
  ``(score, -cid)``, first-occurrence argmax or stable argsort over
  cid-ascending columns, and a cid-ascending ``topk_per_key``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from spark_ifs_spark.operators.topk import topk_per_key

#: the literal-SQL argmax serves up to this many centroids; past it the
#: literal tree is janino-compile-bound and the numpy GEMM takes over.
#: Every gate SF (16 cells) stays on the literal rung the oracles mirror.
EXPR_MAX_CENTROIDS = 64

#: from this many centroids the nc-sized DRIVER COLLECT is itself the
#: scale problem (corpus-scaled nc = n/128 makes the collected and
#: broadcast list linear in the corpus — tens of GB at 100 TB), so the
#: ladder goes two-level. Every gate SF stays far below it.
TWO_LEVEL_MIN_CENTROIDS = 1024

#: coarse cells probed per point on the two-level rung. Probing every
#: coarse cell IS the flat argmax (complete candidate set, pytest-pinned);
#: 8 recovers it on every measured fixture. A cell-quality knob, not a
#: correctness one: a point landing in its 2nd-best cell still dedups,
#: mines or seeds within a near-best cell.
TWO_LEVEL_PROBES = 8


@dataclass(frozen=True)
class Scoring:
    """How a vector scores against one centroid. ``unit``: the centroid
    is divided by its norm once, on the driver or per fine centroid, and
    the score is the plain dot (FLOAT); otherwise the score is the exact
    dot divided by the centroid norm (INT). Every rung reads the same
    weights and divisors: INT scores are the same doubles on every rung;
    FLOAT ones differ only by the numpy GEMM's summation order."""

    py: type  # element type of a collected centroid
    vec_tmpl: str  # SQL of the scored vector; ``{c}`` is the column
    lit: str  # SQL literal suffix of one weight
    zero: str  # SQL zero that starts the dot fold
    unit: bool

    def vec(self, col: str) -> Column:
        return F.expr(self.vec_tmpl.format(c=col))

    def weights(self, cvec: Sequence) -> tuple[list, float]:
        """``(weights, divisor)`` of one collected centroid."""
        c = [self.py(x) for x in cvec]
        norm = math.sqrt(sum(x * x for x in c)) or 1.0
        return ([x / norm for x in c], 1.0) if self.unit else (c, norm)

    def norm_sql(self, v: str) -> str:
        """:meth:`weights`' norm as SQL over a vector column: the same
        left fold and the same correctly-rounded sqrt."""
        ssq = f"aggregate({v}, {self.zero}, (acc, x) -> acc + x * x)"
        return f"coalesce(nullif(sqrt(CAST({ssq} AS DOUBLE)), 0.0D), 1.0D)"

    def score_sql(self, v: str, w: str, den: str) -> str:
        dot = (
            f"aggregate(zip_with({v}, {w}, (x, y) -> x * y), "
            f"{self.zero}, (acc, x) -> acc + x)"
        )
        return dot if self.unit else f"CAST({dot} AS DOUBLE) / {den}"


FLOAT = Scoring(float, "transform(`{c}`, x -> CAST(x AS DOUBLE))", "D", "0.0D", True)
INT = Scoring(int, "`{c}`", "L", "0L", False)


def seed_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int = 16,
    scoring: Scoring = FLOAT,
) -> list[tuple[int, list]]:
    """Deterministic seed centroids: the vectors of the
    ``num_centroids`` smallest ids. Production IVF would k-means these
    (:func:`~spark_ifs_spark.operators.similarity.ivf_centroids_kmeans`);
    every downstream plan shape is identical either way."""
    src = df.select(F.col(id_col).alias("id"), scoring.vec(vec_col).alias("v"))
    return [
        (int(r["id"]), [scoring.py(x) for x in r["v"]])
        for r in src.orderBy("id").limit(num_centroids).collect()
    ]


def scaled_num_centroids(
    n: int, target_cell_size: int = 128, floor: int = 16
) -> int:
    """Corpus-scaled centroid count: ``max(floor, n // target_cell_size)``.

    Production SemDeDup keeps the *cell size* (not the cell count)
    roughly constant as the corpus grows, so in-cell pair compute stays
    ``n × target_cell_size`` — linear — instead of ``n²/k`` with a
    fixed ``k`` (which is quadratic in n). At gate scale (≤ 2k vectors)
    this returns the floor, so seeded-centroid oracles are unchanged;
    at 500k vectors it returns ~3.9k cells.
    """
    return max(int(floor), int(n) // int(target_cell_size))


def cell_expr(
    cents: Sequence[tuple[int, Sequence]], vec_col: str, scoring: Scoring = FLOAT
) -> Column:
    """The literal rung: argmax over the centroid scores as ONE SQL
    string, ties to the smallest cid (struct max over ``(score, -cid)``).

    A pure per-row projection — no shuffle, no join — so the cell column
    doubles as the write partition key (``write_ivf_corpus``). Built as
    one string, not nested Column calls: the Column spelling issued a
    py4j round-trip per centroid-coordinate literal (k × d calls, ~0.8 s
    of driver time per 16 × 64 expression); ``repr`` round-trips every
    double exactly."""
    v = scoring.vec_tmpl.format(c=vec_col)
    structs = []
    for cid, cvec in cents:
        w, den = scoring.weights(cvec)
        arr = "array(" + ",".join(repr(x) + scoring.lit for x in w) + ")"
        score = scoring.score_sql(v, arr, repr(den) + "D")
        structs.append(f"struct({score} AS dot, {-cid} AS ncid)")
    return -F.expr(f"array_max(array({','.join(structs)}))")["ncid"]


def _map_scores(df, cents, vec_col, scoring, emit, schema) -> DataFrame:
    """Arrow ``mapInPandas`` over ``df`` with each batch's score matrix
    against the broadcast cid-ascending centroids: ``emit(pdf, cids, S)``.

    ``S = (V @ W.T) / den`` divides exactly as the literal rung does (a
    reciprocal multiply would round differently). For INT the GEMM is
    exact: integer-valued float64 products and sums stay below 2^53."""
    import numpy as np

    ordered = sorted((int(cid), *scoring.weights(cv)) for cid, cv in cents)
    bc = df.sparkSession.sparkContext.broadcast(
        (
            np.array([r[0] for r in ordered], dtype=np.int64),
            np.array([r[1] for r in ordered], dtype=np.float64),
            np.array([r[2] for r in ordered], dtype=np.float64),
        )
    )

    def run(batches):
        cids, W, den = bc.value
        for pdf in batches:
            if len(pdf):
                V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                yield emit(pdf, cids, (V @ W.T) / den)

    return df.mapInPandas(run, schema)


def assign_np(
    df: DataFrame,
    cents: Sequence[tuple[int, Sequence]],
    vec_col: str,
    scoring: Scoring = FLOAT,
) -> DataFrame:
    """The numpy rung: ``df`` plus ``cell long``, one BLAS GEMM per Arrow
    batch against the broadcast ``k × d`` weights. O(1) plan size and
    still a pure per-row projection; the first-occurrence argmax over
    cid-ascending columns is the cid-ASC tie rule."""
    import numpy as np

    schema = StructType([*df.schema.fields, StructField("cell", LongType())])
    return _map_scores(
        df, cents, vec_col, scoring,
        lambda pdf, cids, S: pdf.assign(cell=cids[np.argmax(S, axis=1)]),
        schema,
    )


def two_level_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int,
    scoring: Scoring = FLOAT,
    probes: int | None = None,
) -> DataFrame:
    """The two-level rung: ``(id, cell, v)`` without ever collecting the
    fine centroids. (1) the ``⌈√nc⌉`` smallest-id vectors become the
    coarse quantizer — the only driver collect; (2) the nc fine
    centroids (a distributed ``limit(nc)`` relation) take their top-1
    coarse cell on the numpy rung; (3) each point probes its
    top-``probes`` coarse cells; (4) the point scores only the fine
    centroids in probed cells — the same weights, the same fold and the
    same division as the flat rungs — and keeps the (score DESC, cid ASC)
    best.

    Per-point work drops from nc to ~probes·√nc scorings and the driver
    and broadcast footprint from nc to √nc vectors. With ``probes``
    covering every coarse cell the candidate set is complete and the
    result EQUALS the flat argmax; at fewer probes it is the standard
    IVF coarse-quantizer approximation. Probe ranking is a stable
    argsort over cid-ascending columns: score DESC, cid ASC."""
    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(id_col).alias("id"), scoring.vec(vec_col).alias("v")
    ).localCheckpoint(eager=True)
    coarse = seed_centroids(
        src, "id", "v", math.isqrt(max(int(num_centroids) - 1, 0)) + 1, scoring
    )
    # read at call time so callers and tests can steer the module knob
    p = min(TWO_LEVEL_PROBES if probes is None else int(probes), len(coarse))

    def top(pdf, cids, S):
        best = np.argsort(-S, axis=1, kind="stable")[:, :p]
        return pd.DataFrame(
            {"id": np.repeat(pdf["id"].to_numpy(), p), "coarse": cids[best].ravel()}
        )

    probed = _map_scores(src, coarse, "v", scoring, top, "id long, coarse long")
    fines = assign_np(src.orderBy("id").limit(int(num_centroids)), coarse, "v", scoring)
    fw, fden = (
        (F.expr("transform(v, x -> x / _n)"), F.lit(1.0))
        if scoring.unit
        else (F.col("v"), F.col("_n"))
    )
    f2c = fines.withColumn("_n", F.expr(scoring.norm_sql("v"))).select(
        F.col("id").alias("fid"),
        F.col("cell").alias("coarse"),
        fw.alias("fw"),
        fden.alias("fden"),
    )
    scored = (
        probed.join(f2c, "coarse")
        .join(src, "id")
        .select("id", "fid", F.expr(scoring.score_sql("v", "fw", "fden")).alias("score"))
    )
    best = topk_per_key(scored, ["id"], "score", k=1, tiebreak_cols=["fid"])
    return best.join(src, "id").select("id", F.col("fid").alias("cell"), "v")


def with_cells(
    df: DataFrame,
    cents: Sequence[tuple[int, Sequence]],
    vec_col: str,
    scoring: Scoring = FLOAT,
) -> DataFrame:
    """``df`` plus ``cell`` for a collected centroid list: the literal
    rung up to ``EXPR_MAX_CENTROIDS`` centroids, the numpy rung beyond."""
    if len(cents) <= EXPR_MAX_CENTROIDS:
        return df.withColumn("cell", cell_expr(cents, vec_col, scoring))
    return assign_np(df, cents, vec_col, scoring)


def tagged_cells(
    df: DataFrame,
    cents: Sequence[tuple[int, Sequence]],
    id_col: str,
    vec_col: str,
    scoring: Scoring = FLOAT,
) -> DataFrame:
    """``(id, cell, v)`` with ``v`` the scored vector, via
    :func:`with_cells`."""
    src = df.select(F.col(id_col).alias("id"), scoring.vec(vec_col).alias("v"))
    return with_cells(src, cents, "v", scoring).select("id", "cell", "v")


def scaled_tagged_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_centroids: int,
    scoring: Scoring = FLOAT,
    probes: int | None = None,
) -> DataFrame:
    """``(id, cell, v)`` from a centroid COUNT — the whole ladder: seed
    centroids and :func:`tagged_cells` below ``TWO_LEVEL_MIN_CENTROIDS``,
    :func:`two_level_cells` from it, so the centroid collect stays
    bounded at any corpus size."""
    if num_centroids >= TWO_LEVEL_MIN_CENTROIDS:
        return two_level_cells(df, id_col, vec_col, num_centroids, scoring, probes)
    cents = seed_centroids(df, id_col, vec_col, num_centroids, scoring)
    return tagged_cells(df, cents, id_col, vec_col, scoring)


def rank_probes(
    cents: Sequence[tuple[int, Sequence[float]]],
    query: Sequence[float],
    n_probe: int,
) -> list[int]:
    """The ids of the ``n_probe`` centroids nearest ``query`` by cosine
    ``dot/(‖c‖·‖q‖)``, cid ASC ties — the driver-side probe ranking the
    oracles' ``qprobe`` CTEs mirror. A zero norm counts as 1.0, so a
    zero centroid or query scores 0 instead of dividing by zero."""
    qn = math.sqrt(sum(x * x for x in query)) or 1.0

    def cos(cvec: Sequence[float]) -> float:
        cn = math.sqrt(sum(x * x for x in cvec)) or 1.0
        return sum(a * b for a, b in zip(cvec, query)) / (cn * qn)

    ranked = sorted(cents, key=lambda c: (-cos(c[1]), c[0]))
    return [int(cid) for cid, _ in ranked[:n_probe]]
