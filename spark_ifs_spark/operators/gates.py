"""The one probe of the engine's in-core gates that fetch rows.

A gate whose in-core side needs the rows themselves (the edge, vocab and
vector budgets) decides its side and fetches those rows in ONE job: a
full ``count()`` would compute a possibly expensive upstream relation
twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row


def collect_within(df: DataFrame, budget: int) -> list[Row] | None:
    """The rows of ``df`` when there are at most ``budget`` of them, else
    None — one ``limit(budget + 1).collect()``. A budget of 0 keeps only
    an empty input in-core."""
    head = df.limit(budget + 1).collect()
    return head if len(head) <= budget else None
