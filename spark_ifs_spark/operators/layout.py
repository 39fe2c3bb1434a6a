"""Data-layout operators: space-filling-curve (Z-order) clustering and
the min/max file-pruning audit that justifies it.

At 100 TB the cheapest scan is the one that never happens: columnar
files carry per-file min/max statistics, and a reader (Spark's parquet
scan, Delta/Iceberg data skipping) prunes any file whose [min, max]
envelope misses the predicate. A LINEAR layout (data written in one
dimension's order) prunes that dimension perfectly and the others not
at all; interleaving the bits of two dimensions into a Z-ORDER key
(Morton code — the technique behind ``OPTIMIZE ZORDER BY`` in Delta
and ``sort_order`` clustering in Iceberg) gives every file a tight
envelope in BOTH dimensions, collapsing the scan set of a 2-D
predicate from O(span) of files to O(perimeter).

:func:`zorder_scan_audit` measures exactly that, with pure integer
arithmetic (bucket normalization, bit interleave via div/mod sums) so
the DuckDB oracle is value-exact. The layout assignment is a pure
map-side projection — files are fixed-width Z-ranges (top bits of the
key), NOT a global sort, so writing this layout needs no total-order
shuffle; a production writer would range-partition on z with the same
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-dimension bucket resolution (bits)
ZBITS = 16
#: files = top ``FILE_BITS`` bits of the layout key → 2^FILE_BITS files
FILE_BITS = 6


def interleave_sql(bx: str, by: str, div: str, bits: int = ZBITS) -> str:
    """Dialect-shared Morton interleave of two ``bits``-bit integers:
    ``Σ_i ((bx div 2^i) % 2)·4^i + ((by div 2^i) % 2)·2·4^i``. The only
    dialect difference is the integer-division operator (Spark ``DIV``,
    DuckDB ``//``); every constant is a Python-emitted literal."""
    terms = []
    for i in range(bits):
        d = 1 << i
        p = 1 << (2 * i)
        terms.append(f"((({bx}) {div} {d}) % 2) * {p}")
        terms.append(f"((({by}) {div} {d}) % 2) * {p * 2}")
    return "(" + " + ".join(terms) + ")"


def bucketize_sql(x: str, mn: str, mx: str, div: str, bits: int = ZBITS) -> str:
    """Min/max normalization of ``x`` to ``[0, 2^bits − 1]`` buckets,
    integer-exact: ``((x − mn) · (2^bits − 1)) div (mx − mn)``."""
    top = (1 << bits) - 1
    return (
        f"CASE WHEN ({mx}) > ({mn}) "
        f"THEN ((({x}) - ({mn})) * {top}) {div} (({mx}) - ({mn})) "
        f"ELSE 0 END"
    )


def zorder_scan_audit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    bits: int = ZBITS,
    file_bits: int = FILE_BITS,
) -> DataFrame:
    """``(layout, n_files, files_scanned, rows_total, rows_scanned,
    rows_matched, scan_ppm)`` — one row for the ``zorder`` layout (files
    = fixed-width ranges of the Morton key) and one for the ``linear``
    layout (files = ranges of the y dimension alone, i.e. data written
    in time order). A file is "scanned" iff its per-file min/max
    envelope intersects the rectangular predicate ``x ∈ x_range ∧ y ∈
    y_range`` (ranges in normalized bucket space) — precisely the
    data-skipping decision a parquet/Delta/Iceberg reader makes from
    footer statistics. ``scan_ppm`` = rows in scanned files per million
    total rows: the fraction of the corpus the predicate actually
    costs under each layout.

    Plan: one min/max aggregate (broadcast back as scalars), a pure
    map-side integer projection computing both layout keys, ONE
    grouped aggregate over (layout, file) — ≤ 2^(file_bits+1) groups —
    and a files-bounded final fold. Document bodies never shuffle;
    only (layout, file) partial aggregates do.
    """
    mm = df.agg(
        F.min(x_col).cast("long").alias("_mnx"),
        F.max(x_col).cast("long").alias("_mxx"),
        F.min(y_col).cast("long").alias("_mny"),
        F.max(y_col).cast("long").alias("_mxy"),
    )
    with_mm = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).crossJoin(F.broadcast(mm))
    bx = bucketize_sql("x", "_mnx", "_mxx", "DIV", bits)
    by = bucketize_sql("y", "_mny", "_mxy", "DIV", bits)
    b = with_mm.select(
        F.expr(bx).alias("gx"), F.expr(by).alias("gy")
    )
    z = interleave_sql("gx", "gy", "DIV", bits)
    zshift = 1 << (2 * bits - file_bits)
    lshift = 1 << (bits - file_bits)
    (x1, x2), (y1, y2) = x_range, y_range
    matched = (
        (F.col("gx") >= x1) & (F.col("gx") <= x2)
        & (F.col("gy") >= y1) & (F.col("gy") <= y2)
    ).cast("long")
    keyed = b.select(
        "gx",
        "gy",
        matched.alias("m"),
        F.expr(f"({z}) DIV {zshift}").alias("zfile"),
        F.expr(f"gy DIV {lshift}").alias("lfile"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"), F.col("zfile").alias("file")),
                F.struct(F.lit("linear").alias("layout"), F.col("lfile").alias("file")),
            )
        ).alias("lf"),
        "gx", "gy", "m",
    )
    files = keyed.groupBy(
        F.col("lf.layout").alias("layout"), F.col("lf.file").alias("file")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("m").alias("n_matched"),
        F.min("gx").alias("mnx"), F.max("gx").alias("mxx"),
        F.min("gy").alias("mny"), F.max("gy").alias("mxy"),
    )
    scanned = (
        (F.col("mxx") >= x1) & (F.col("mnx") <= x2)
        & (F.col("mxy") >= y1) & (F.col("mny") <= y2)
    ).cast("long")
    out = files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum(scanned).cast("int").alias("files_scanned"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.col("n_rows") * scanned).alias("rows_scanned"),
        F.sum("n_matched").alias("rows_matched"),
    )
    return out.withColumn(
        "scan_ppm",
        F.expr("(rows_scanned * 1000000) DIV rows_total"),
    )


def skew_salt_plan(df: DataFrame, key_col: str, cap: int) -> DataFrame:
    """``(key, cnt, salt_factor, share_ppm)`` — the static salting plan
    a skewed shuffle join runs from: every key whose row count exceeds
    ``cap`` (the per-task row budget) is HEAVY and gets ``salt_factor
    = ceil(cnt / cap)`` — the build side replicates each heavy key
    ``salt_factor`` times and the probe side scatters uniformly over
    the replicas, bounding every post-salt task at ≤ ``cap`` rows of
    the hot key. This is the static (pre-computed, engine-agnostic)
    cousin of AQE's runtime skew-join split — the form a pipeline
    persists next to the data so EVERY downstream join of the relation
    (including non-Spark readers) salts identically — a queryable
    plan for the joins Catalyst cannot bound by itself (a grouped top-k
    needs none: its partial window-group limit cuts a hot key on every
    map partition, see ``topk.topk_per_key``).

    ONE map-combined count aggregate over the input (the combine
    absorbs the skew being measured — hot keys partial-aggregate
    map-side, so the shuffle carries one row per (key, mapper)); the
    ≤|keys|-row count relation is localCheckpoint'ed so the heavy-key
    filter and the 1-row total broadcast both read the materialized
    counts instead of re-scanning the input (at cluster scale:
    ``checkpoint()``/cache — the input is touched exactly once either
    way). Output is the heavy-key set only,
    |output| ≤ n_rows/cap by construction. Integer arithmetic
    throughout (``ceil`` as ``(cnt + cap − 1) DIV cap``, share as
    ``floor(cnt·10⁶/total)``), engine-exact.

    No counterpart in the reference (single-node, no shuffle to
    plan); extension operator."""
    if cap <= 0:
        raise ValueError(f"cap must be >= 1, got {cap}")
    counts = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt").alias("_total"))
    return (
        counts.filter(F.col("cnt") > cap)
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "cnt",
            F.expr(f"(cnt + {cap} - 1) DIV {cap}").alias("salt_factor"),
            F.expr("CAST(cnt * 1000000 DIV _total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
    )
