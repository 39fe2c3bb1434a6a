"""URL canonicalization and host-level dedup — the RefinedWeb/FineWeb
corpus stage that runs BEFORE content dedup: collapse retrieval noise
(scheme, ``www.``, query strings, fragments, trailing slashes, case)
into one canonical URL per page, drop blocklisted hosts, and cap the
number of documents any single host may contribute.

Scale notes (100 TB):
- Canonicalization is a chain of anchored ``regexp_replace`` column
  expressions fused into the scan — no UDF, no shuffle, RE2-portable
  patterns (no backrefs/lookaround) so the same regexes run on any
  engine this corpus is later audited with.
- The ONE shuffle of the URL-exact dedup groups by the canonical URL
  string (tens of bytes); document bodies never move (the
  ``exact_dedup_normalized`` digest-key pattern,
  ``operators/dedup.py``).
- The blocklist is a broadcast left-anti join: real blocklists are
  millions of hosts — far too big for an ``isin`` literal, trivially
  broadcastable as a table.
- The per-host cap reuses :func:`~spark_ifs_spark.operators.sampling.
  cap_per_key` (the grouped top-k: each map partition keeps at most
  ``cap`` rows per host before the shuffle), so a single giant host
  (the blogspot.com problem) cannot pin one reducer.

Reference parity note: the reference engine (jacopocav/spark-ifs) has
no URL surface; this module is part of the training-data-pipeline
extension family.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: anchored, RE2-portable canonicalization patterns, applied in order
#: on the LOWERCASED url: fragment first (everything after ``#``),
#: then query (after ``?``), then scheme, then a leading ``www.``,
#: then any trailing slashes. Order matters: the scheme pattern
#: assumes fragments/queries (which may contain ``://``) are gone.
URL_CANON_STEPS: tuple[tuple[str, str], ...] = (
    (r"#.*$", ""),
    (r"\?.*$", ""),
    (r"^[a-z][a-z0-9+.-]*://", ""),
    (r"^www\.", ""),
    (r"/+$", ""),
)


def canonical_url(url: Column | str) -> Column:
    """Canonical form of ``url``: lowercase, no scheme / ``www.`` /
    query / fragment / trailing slash. Pure column expression — fuses
    into the scan."""
    c = F.lower(F.col(url) if isinstance(url, str) else url)
    for pat, repl in URL_CANON_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return c


def url_host(canon: Column | str) -> Column:
    """Host component of an already-canonical URL (prefix up to the
    first ``/``)."""
    c = F.col(canon) if isinstance(canon, str) else canon
    return F.regexp_extract(c, r"^([^/]*)", 1)


def sql_canonical_url(expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` over SQL expression
    ``expr`` — same patterns, same order (RE2 both sides)."""
    out = f"lower({expr})"
    for pat, repl in URL_CANON_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{repl}')"
    return out


def url_dedup(
    df: DataFrame,
    id_col: str,
    url_col: str,
    host_cap: int,
    blocked_hosts: Sequence[str],
) -> DataFrame:
    """URL-exact dedup + host blocklist + per-host document cap.

    Returns one row per kept document:
    ``(doc_id, url, host, n_dups, rank)`` where ``url`` is the
    canonical URL (winner = lowest id among its duplicates), ``n_dups``
    the collapsed group size, and ``rank`` the document's 1-based
    position within its host under ascending-id order (``<= host_cap``).

    Stage order is block → URL-dedup → cap: blocking first avoids
    shuffling rows that are dropped anyway, and the winner id is
    unaffected because the host is a function of the canonical URL.
    """
    from spark_ifs_spark.operators.sampling import cap_per_key

    spark = SparkSession.getActiveSession() or df.sparkSession
    canon = df.select(
        F.col(id_col).alias("_id"), canonical_url(url_col).alias("url")
    ).withColumn("host", url_host("url"))

    blocked = spark.createDataFrame(
        [(h,) for h in blocked_hosts], "host string"
    )
    allowed = canon.join(F.broadcast(blocked), on="host", how="left_anti")

    keep = allowed.groupBy("url").agg(
        F.min("_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
        F.min("host").alias("host"),  # host is a function of url
    )
    capped = cap_per_key(
        keep,
        key_cols=["host"],
        order_col="doc_id",
        cap=host_cap,
        descending=False,
    )
    return capped.select("doc_id", "url", "host", "n_dups", "rank")
