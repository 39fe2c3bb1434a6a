"""Skew-safe grouped top-k.

``row_number() OVER (PARTITION BY key ORDER BY …)`` naively sends EVERY
row of a hot key through one task — the classic skew collapse at 100 TB
(one `event_type` being 50% of traffic means one straggler task holding
50% of the data). Catalyst's ``InsertWindowGroupLimit`` rule (Spark 3.5+)
removes it for the ``row_number() … <= k`` shape :func:`topk_per_key`
builds, planning it as

    Sort → WindowGroupLimit Partial → Exchange(key) → Sort
         → WindowGroupLimit Final → Window → Filter

1. the PARTIAL limit keeps each map partition's top-k per key, before
   anything shuffles — a hot key's rows are cut to k on every task that
   holds them;
2. the one exchange moves at most ``k × map partitions`` rows per key;
   the FINAL limit and the window rank that bounded remainder.

That is a partition-local top-k followed by a global merge. The result
equals the plain window's, since a key's global top-k is contained in
the union of its per-partition top-ks. The rule applies when
``k ≤ spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default);
past it the plan falls back to the unlimited window. A global top-k (no
key) is ``orderBy(...).limit(k)`` — Spark's TakeOrdered — not a
constant-key window.

Ordering must be total (pass ``tiebreak_cols``) — this is what makes the
result, and the DuckDB oracle comparison, deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(order_col: str, descending: bool, tiebreak_cols: Sequence[str]) -> list[Column]:
    lead = F.col(order_col).desc() if descending else F.col(order_col).asc()
    return [lead, *[F.col(c).asc() for c in tiebreak_cols]]


def topk_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    k: int,
    tiebreak_cols: Sequence[str] = (),
    descending: bool = True,
) -> DataFrame:
    """Top-``k`` rows per key under a total order; returns the input
    columns plus ``rank`` (1-based).

    Skew bound: when ``k ≤ spark.sql.optimizer.windowGroupLimitThreshold``,
    at most ``k × map partitions`` rows per key reach the final sort,
    however the input skews (module docstring)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_col, descending, tiebreak_cols))
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def compact_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """One row per key: the row with the greatest ``(order_col,
    tiebreak_cols...)`` — CDC/changelog compaction ("current state of
    every entity from its event feed"), the first step of turning an
    append-only event lake into a snapshot table.

    Plan: ``max(struct(order, tiebreaks, payload))`` — ONE hash
    aggregate with map-side partial combine, so a hot key reduces
    locally on every input partition before a single shuffled row per
    (partition, key) moves. Compare the window formulation
    (``row_number() OVER (PARTITION BY key ORDER BY ...)``): that sorts
    and shuffles every version of every key to one task — the classic
    compaction skew-killer when one entity has 10^8 updates. The
    struct comparison is lexicographic by field order, so ties resolve
    by the tiebreak columns and the result is deterministic whenever
    (order, tiebreaks) is unique per key.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    payload = [c for c in df.columns if c not in keys]
    ordered = F.struct(
        F.col(order_col).alias("_o"),
        *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tiebreak_cols)],
        F.struct(*[F.col(c) for c in payload]).alias("_p"),
    )
    return (
        df.groupBy(*keys)
        .agg(F.max(ordered).alias("_best"))
        .select(*keys, *[F.col(f"_best._p.{c}").alias(c) for c in payload])
    )
