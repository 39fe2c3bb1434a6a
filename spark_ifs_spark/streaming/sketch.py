"""Streaming sketch maintenance — the maintained-index family over
unbounded streams, each a :class:`~spark_ifs_spark.streaming._pointer.
PointerIndex` (the pointer-commit contract, stated once in
``streaming/_pointer.py``):

- :func:`streaming_cms` — Count-Min grid (frequency, OVERcounts);
  state ``depth × width`` cells, merge = cell addition, parity =
  exact equality.
- :func:`streaming_rank_sketch` — bottom-k-by-hash rank sketch
  (quantiles); state k rows, merge = KMV bottom-k, parity = exact
  equality.
- :func:`streaming_hll` — portable HLL register files (distinct
  counts); state keys × 2^p cells, merge = bucket-max (idempotent:
  even double-counted rows are harmless), parity = exact equality.
- :func:`streaming_mg` — Misra-Gries counters (frequency,
  UNDERcounts); state ≤ k·P counters, merge = counter addition,
  parity = the undercount LAW (MG is not a pure function of the
  multiset; stated honestly, pinned by pytest).
- :func:`streaming_kmv` — per-key K-Minimum-Values distinct sketches;
  state keys·k rows, merge = bottom-k of the hash-distinct union,
  parity = exact equality.

Why these are the cleanest possible maintained indexes: each sketch is
mergeable by its own partial aggregate (``operators/sketches.py`` —
the partial aggregate already IS the merge), so the APPEND step never
reads accumulated state at all: each micro-batch writes only its own
sketch-bounded partial into ``<rel>/batch=<id>``, and the READ step
folds the committed partials. The estimate for any probe over a 100 TB
stream is maintained by touching only the arriving rows, with reads
over (batches × sketch size) rows — which the ``compact_*`` functions
periodically fold back to one ``batch=-1`` base (the merge IS the
compaction).

Batch ≡ stream parity, replay, crash windows and compaction are pinned
in ``tests/test_streaming_sketch.py`` and ``tests/test_streaming_kmv.py``.
No oracle entry — streaming-only surface (the package convention).

No counterpart in the reference; extension operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ifs_spark.streaming._pointer import PointerIndex


def _cms(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "cms-v", "cms")


def _rks(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "rks-v", "rank sketch")


def _hll(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "hll-v", "hll")


def _mg(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "mg-v", "mg summary")


def _kmv(index_path: str) -> PointerIndex:
    return PointerIndex(index_path, "kmv-v", "kmv")


def _base(df: DataFrame, vdir: str, rel: str) -> None:
    """Write ``df`` as the compacted ``batch=-1`` base of ``rel``."""
    df.write.mode("overwrite").parquet(os.path.join(vdir, rel, "batch=-1"))


def _partial(index: PointerIndex, rel: str, build):
    """The append step shared by the family: write ``build(batch)`` as
    the batch's own partial of ``rel`` in the live version."""

    def write(batch: DataFrame, batch_id: int, state: dict) -> None:
        build(batch).write.mode("overwrite").parquet(
            os.path.join(index.path, state["dir"], rel, f"batch={batch_id}")
        )

    return write


def streaming_cms(
    stream: DataFrame,
    col: str,
    index_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 101,
):
    """Maintain a Count-Min grid over a string-key stream. Append-only:
    each batch writes its own ``depth × width``-bounded grid partial;
    nothing reads the accumulated state. Returns the StreamingQuery."""
    from spark_ifs_spark.operators.sketches import cms_build

    index = _cms(index_path)
    return index.sink(
        stream, checkpoint, {"depth": depth, "width": width, "seed": seed},
        _partial(
            index, "cells",
            lambda b: cms_build(b, col, depth=depth, width=width, seed=seed),
        ),
    )


def read_cms(spark: SparkSession, index_path: str) -> DataFrame:
    """``(r, bucket, c)`` — the live grid, summed from one consistent
    (version, watermark) snapshot of the committed batch partials.
    Bounded by ``depth × width`` cells regardless of stream size."""
    return (
        _cms(index_path).committed(spark, "cells")
        .groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
    )


def cms_index_estimate(
    spark: SparkSession, index_path: str, terms: list[str]
) -> DataFrame:
    """``(term, est)`` — point estimates for a probe list against the
    maintained grid, with the grid's own committed hash parameters (so
    a caller cannot probe with mismatched arithmetic)."""
    from spark_ifs_spark.operators.sketches import cms_estimate

    p = _cms(index_path).state()["params"]
    return cms_estimate(
        read_cms(spark, index_path), terms,
        depth=p["depth"], width=p["width"], seed=p["seed"],
    )


def compact_cms(spark: SparkSession, index_path: str) -> None:
    """Fold the committed batch partials into a single ``batch=-1``
    base inside a NEW version directory — cell addition IS the
    compaction, so the folded grid is exactly the pre-compaction
    read."""
    live = read_cms(spark, index_path)
    _cms(index_path).swap(lambda vdir: _base(live, vdir, "cells"))


def streaming_rank_sketch(
    stream: DataFrame,
    key_col: str,
    val_col: str,
    index_path: str,
    checkpoint: str,
    k: int = 512,
):
    """Maintain a bottom-k-by-hash rank sketch
    (:func:`~spark_ifs_spark.operators.sketches.rank_sketch`) over a
    keyed value stream — quantile estimation whose maintained state is
    ``k`` rows regardless of stream size. Append-only like the CMS:
    each micro-batch writes its OWN k-bounded bottom-k partial (the
    batch's sketch), never reading accumulated state; the KMV merge
    law — the k smallest hashes of a union are contained in the union
    of each part's k smallest — makes the read-side fold EXACTLY the
    one-shot sketch of the concatenated stream, so batch ≡ stream
    parity is equality (pinned in ``tests/test_streaming_sketch.py``).
    Returns the StreamingQuery."""
    from spark_ifs_spark.operators.sketches import rank_sketch

    index = _rks(index_path)
    return index.sink(
        stream, checkpoint, {"k": k},
        _partial(index, "rows", lambda b: rank_sketch(b, key_col, val_col, k=k)),
    )


def read_rank_sketch(spark: SparkSession, index_path: str) -> DataFrame:
    """``(h, v)`` — the live rank sketch: bottom-k over one consistent
    (version, watermark) snapshot of the committed k-bounded partials.
    The fold window runs over ≤ batches·k rows (``compact_rank_sketch``
    folds that back to k), never the stream."""
    from spark_ifs_spark.operators.topk import topk_per_key

    index = _rks(index_path)
    state = index.state()
    rows = index.committed(spark, "rows", state=state).select(
        F.lit(0).alias("_g"), "h", "v"
    )
    return topk_per_key(
        rows, ["_g"], "h", k=state["params"]["k"], descending=False
    ).select("h", "v")


def compact_rank_sketch(spark: SparkSession, index_path: str) -> None:
    """Fold the committed partials into a single ``batch=-1`` base in a
    NEW version directory — the KMV merge is exact, so the folded
    sketch equals the pre-compaction read."""
    live = read_rank_sketch(spark, index_path)
    _rks(index_path).swap(lambda vdir: _base(live, vdir, "rows"))


def streaming_hll(
    stream: DataFrame,
    key_cols: list[str],
    value_col: str,
    index_path: str,
    checkpoint: str,
    p: int = 9,
):
    """Maintain per-key portable-HLL register files over a keyed value
    stream — incremental distinct counting whose maintained state is
    ``keys × 2^p`` register cells: each micro-batch writes its OWN
    register-file partial (:func:`~spark_ifs_spark.operators.sketches.
    hll_registers`), never reading accumulated state; registers merge
    by bucket-MAX (associative, commutative, idempotent), so the
    read-side fold is EXACTLY the one-shot register file of the
    concatenated stream — batch ≡ stream parity is equality, like the
    CMS grid and the rank sketch (idempotence even makes double-counted
    rows harmless, the property neither of those has). Returns the
    StreamingQuery."""
    from spark_ifs_spark.operators.sketches import hll_registers

    index = _hll(index_path)
    return index.sink(
        stream, checkpoint, {"p": p, "keys": list(key_cols), "value": value_col},
        _partial(
            index, "regs",
            lambda b: hll_registers(b, list(key_cols), value_col, p=p),
        ),
    )


def read_hll_registers(spark: SparkSession, index_path: str) -> DataFrame:
    """``(key…, _b, _M)`` — the live register file: bucket-max over one
    consistent (version, watermark) snapshot of the committed partials.
    Bounded by keys × 2^p cells (× batch fan-in until ``compact_hll``)."""
    index = _hll(index_path)
    state = index.state()
    return (
        index.committed(spark, "regs", state=state)
        .groupBy(*state["params"]["keys"], "_b")
        .agg(F.max("_M").alias("_M"))
    )


def hll_index_estimate(spark: SparkSession, index_path: str) -> DataFrame:
    """``(key…, est_distinct)`` served straight from the maintained
    register file, with the index's own committed p."""
    from spark_ifs_spark.operators.sketches import hll_estimate

    params = _hll(index_path).state()["params"]
    return hll_estimate(
        read_hll_registers(spark, index_path), params["keys"], p=params["p"]
    )


def compact_hll(spark: SparkSession, index_path: str) -> None:
    """Fold the committed partials into a single ``batch=-1`` base in a
    NEW version directory — bucket-max IS the compaction, so the folded
    register file equals the pre-compaction read."""
    live = read_hll_registers(spark, index_path)
    _hll(index_path).swap(lambda vdir: _base(live, vdir, "regs"))


def streaming_mg(
    stream: DataFrame,
    col: str,
    index_path: str,
    checkpoint: str,
    k: int = 64,
):
    """Maintain a Misra-Gries frequency summary over a key stream —
    the UNDERcount member of the maintained-sketch family (CMS
    overcounts, the rank sketch samples): each micro-batch writes its
    own k·P-bounded MG summary partial
    (:func:`~spark_ifs_spark.operators.sketches.mg_summary`) plus its
    row count; the read side folds partials by counter ADDITION (the
    mergeable-summaries law). Stream length accumulates in the pointer
    (``n_rows``), so heavy-hitter shortlists come straight off the
    index with the exact slack bound.

    Parity contract, stated honestly: unlike the CMS grid and the rank
    sketch, an MG summary is NOT a pure function of the multiset —
    its sub-bound content depends on partition/batch boundaries — so
    batch ≡ stream parity here is the LAW, not row equality: the
    folded read obeys ``c(x) − n/(k+1) ≤ c_low(x) ≤ c(x)`` for the
    concatenated stream (per-batch deficits ≤ n_b/(k+1) telescope),
    pinned by the undercount-law pytest. Returns the StreamingQuery."""
    from spark_ifs_spark.operators.sketches import mg_summary

    index = _mg(index_path)

    def _append(batch: DataFrame, batch_id: int, state: dict) -> None:
        rows = batch.select(F.col(col)).localCheckpoint(eager=True)
        mg_summary(rows, col, k=k).write.mode("overwrite").parquet(
            os.path.join(index.path, state["dir"], "counters", f"batch={batch_id}")
        )
        # replay rewrites the same bytes AND must not double-count n:
        # n_rows advances only with the watermark, in the same commit
        state["n_rows"] = state.get("n_rows", 0) + rows.count()

    return index.sink(stream, checkpoint, {"k": k}, _append)


def read_mg(spark: SparkSession, index_path: str) -> DataFrame:
    """``(term, c_low)`` — the live folded summary: counter addition
    over one consistent (version, watermark) snapshot of the committed
    partials. Bounded by batches·k·P rows (``compact_mg`` folds that
    back to k)."""
    return (
        _mg(index_path).committed(spark, "counters")
        .groupBy("term")
        .agg(F.sum("c_low").alias("c_low"))
    )


def mg_index_candidates(
    spark: SparkSession, index_path: str, phi_ppm: int
) -> DataFrame:
    """``(term, c_low)`` — the heavy-hitter SHORTLIST served straight
    from the maintained summary: keys whose folded counter clears
    ``thresh − ceil(n/(k+1))``, with n and k from the pointer itself.
    No false negatives (the MG undercount law); callers exact-verify
    against their key relation, as :func:`~spark_ifs_spark.operators.
    sketches.mg_heavy_hitters` does in batch. Requires
    ``k+1 > 1e6/phi_ppm`` (else the slack swallows the threshold)."""
    if not 1 <= phi_ppm <= 1_000_000:
        raise ValueError(f"phi_ppm must be in [1, 1e6], got {phi_ppm}")
    state = _mg(index_path).state()
    k = state["params"]["k"]
    if (k + 1) * phi_ppm <= 1_000_000:
        raise ValueError(
            f"k+1 = {k + 1} counters cannot guarantee φ = {phi_ppm} ppm"
        )
    n = state["n_rows"]
    thresh = -(-n * phi_ppm // 1_000_000)
    slack = -(-n // (k + 1))
    return read_mg(spark, index_path).filter(
        F.col("c_low") >= F.lit(max(thresh - slack, 1))
    )


def compact_mg(spark: SparkSession, index_path: str) -> None:
    """Fold the committed partials into a single ``batch=-1`` base of
    ≤ k counters in a NEW version directory: counter addition then the
    canonical compress (subtract the (k+1)-th largest, drop
    non-positives). NOT value-preserving — compression spends more of
    the deficit budget — but LAW-preserving: the total deficit stays
    ≤ n/(k+1) (the mergeable-summaries theorem), which is the only
    property readers rely on. ``n_rows`` carries over unchanged."""
    index = _mg(index_path)
    k = index.state()["params"]["k"]
    live = read_mg(spark, index_path).collect()  # ≤ batches·k·P rows
    counters = {r["term"]: r["c_low"] for r in live}
    if len(counters) > k:
        pivot = sorted(counters.values(), reverse=True)[k]
        counters = {t: c - pivot for t, c in counters.items() if c > pivot}
    folded = spark.createDataFrame(
        [(t, int(c)) for t, c in sorted(counters.items())],
        "term string, c_low long",
    )
    index.swap(lambda vdir: _base(folded, vdir, "counters"))


def rank_sketch_index_quantiles(
    spark: SparkSession, index_path: str, qs_pct
) -> DataFrame:
    """``(q_pct, v_est, n_sketch)`` — quantile estimates served
    straight from the maintained sketch (k-bounded work, no stream
    access), with the index's own committed k."""
    from spark_ifs_spark.operators.sketches import rank_sketch_quantiles

    return rank_sketch_quantiles(read_rank_sketch(spark, index_path), qs_pct)


def cms_index_heavy_cells(
    spark: SparkSession, index_path: str, phi_ppm: int
) -> DataFrame:
    """``(r, bucket, c, n_total)`` — the maintained grid's hot cells at
    threshold ``phi_ppm``: the shortlist stage of
    :func:`~spark_ifs_spark.operators.sketches.cms_heavy_hitters`
    served straight from the index, no corpus access at all. The
    stream length is recovered FROM the grid — every update increments
    exactly one cell per depth row, so each row's cell sum is the
    total count (row 0 is used); the threshold is the same
    decimal-ceil arithmetic as the batch operator, overflow-safe past
    int64. Because CMS never undercounts, a candidate key is heavy
    only if ALL its cells are hot — callers verify the shortlist
    against their key relation exactly as the batch two-pass does."""
    if not 1 <= phi_ppm <= 1_000_000:
        raise ValueError(f"phi_ppm must be in [1, 1e6], got {phi_ppm}")
    grid = read_cms(spark, index_path)
    total = (
        grid.where(F.col("r") == 0)
        .agg(F.sum("c").alias("n_total"))
        .select(
            "n_total",
            F.expr(
                f"CAST((CAST(n_total AS DECIMAL(38,0)) * {phi_ppm} + 999999)"
                " DIV 1000000 AS BIGINT)"
            ).alias("thresh"),
        )
    )
    return (
        grid.crossJoin(F.broadcast(total))
        .filter(F.col("c") >= F.col("thresh"))
        .select("r", "bucket", "c", "n_total")
    )


def streaming_kmv(
    stream: DataFrame,
    key_cols: list[str],
    value_col: str,
    index_path: str,
    checkpoint: str,
    k: int = 128,
):
    """Maintain per-key K-Minimum-Values distinct sketches
    (:func:`~spark_ifs_spark.operators.sketches.kmv_sketch`) over a
    keyed value stream. Each micro-batch writes its OWN
    k-bounded-per-key partial (the batch's sketch), never reading
    accumulated state; the KMV merge law — the k smallest distinct
    hashes of a union are contained in the union of each part's k
    smallest — makes the read-side fold EXACTLY the one-shot sketch of
    the concatenated stream, so batch ≡ stream parity is row equality
    (like the rank sketch; the hash-distinct additionally makes
    replayed VALUES harmless — only a replayed BATCH needs the
    watermark guard). Returns the StreamingQuery."""
    from spark_ifs_spark.operators.sketches import kmv_sketch

    index = _kmv(index_path)
    return index.sink(
        stream, checkpoint, {"k": k, "keys": list(key_cols), "value": value_col},
        _partial(
            index, "rows",
            lambda b: kmv_sketch(b, list(key_cols), value_col, k=k).select(
                *key_cols, "h"
            ),
        ),
    )


def read_kmv(spark: SparkSession, index_path: str) -> DataFrame:
    """``(key…, h)`` — the live per-key sketch: hash-distinct then
    bottom-k over one consistent (version, watermark) snapshot of the
    committed partials. The fold runs over ≤ batches·keys·k rows
    (``compact_kmv`` folds that back to keys·k), never the stream."""
    from spark_ifs_spark.operators.topk import salted_topk_per_key

    index = _kmv(index_path)
    state = index.state()
    keys = state["params"]["keys"]
    rows = (
        index.committed(spark, "rows", state=state)
        .select(*keys, "h")
        .distinct()  # the same hash may survive in several partials
    )
    return salted_topk_per_key(
        rows, keys, "h", k=state["params"]["k"], descending=False
    ).select(*keys, "h")


def kmv_index_estimate(spark: SparkSession, index_path: str) -> DataFrame:
    """``(key…, n_sketch, kth_h, est_distinct)`` served straight from
    the maintained sketch with the index's own committed k — the KMV
    mirror of :func:`hll_index_estimate`."""
    from spark_ifs_spark.operators.sketches import kmv_estimate

    params = _kmv(index_path).state()["params"]
    return kmv_estimate(
        read_kmv(spark, index_path), params["keys"], k=params["k"]
    )


def compact_kmv(spark: SparkSession, index_path: str) -> None:
    """Fold the committed partials into a single ``batch=-1`` base in a
    NEW version directory — the KMV merge is exact, so the folded
    sketch equals the pre-compaction read."""
    live = read_kmv(spark, index_path)
    _kmv(index_path).swap(lambda vdir: _base(live, vdir, "rows"))
