"""Deterministic sampling / splitting for training-data pipelines.

Not present in the reference (an IFS library); first-class extensions
per the north star. Both operators are pure map-side or bounded-window
plans:

- **split_assign**: hash-based train/val/test assignment. The split of
  a row is a pure function of ``(seed, id)`` via the engine-portable
  md5 scheme (``functions/hashing.py``), so it is reproducible across
  runs, engines, cluster sizes, and input orderings — the property a
  100 TB pipeline needs so that re-runs and backfills land every
  document in the same split. Zero shuffles: the label is a projection
  fused into the scan.
- **cap_per_key**: per-group quota sampling (e.g. "at most N documents
  per domain" — the standard pretraining-mix dedup against domination
  by one crawl host). Delegates to the grouped top-k
  (:func:`~spark_ifs_spark.operators.topk.topk_per_key`), whose partial
  window-group limit caps each map partition at ``cap`` rows per key
  before the shuffle: a hot domain with 10^9 docs never funnels through
  one task, and at most ``cap × map partitions`` rows per key reach the
  final ranking.
- **weighted_mix**: source-weighted mixture sampling against per-source
  size budgets — one bounded aggregate + a scan-fused deterministic
  keep decision in exact integer arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_ifs_spark.functions.hashing import md5_int60, sql_md5_int60
from spark_ifs_spark.operators.topk import topk_per_key

#: resolution of the hash-bucket space the split thresholds cut
SPLIT_BUCKETS = 10_000


def _split_bucket(id_col: Column, seed: int) -> Column:
    """Deterministic bucket in [0, SPLIT_BUCKETS) from (seed, id)."""
    return md5_int60(F.concat(F.lit(f"{seed}:"), id_col.cast("string"))) % F.lit(
        SPLIT_BUCKETS
    )


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """``[(name, exclusive_upper_bucket)]`` cumulative cut points.

    Weights must be positive and sum to 1 (±1e-9). Iteration order of
    the dict defines the bucket layout, so pass the same dict order on
    both engines (the registry embeds the same cut points in SQL).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    cuts: list[tuple[str, int]] = []
    acc = 0.0
    for name, w in weights.items():
        acc += w
        cuts.append((name, round(acc * SPLIT_BUCKETS)))
    # guard against float accumulation leaving the last cut short
    cuts[-1] = (cuts[-1][0], SPLIT_BUCKETS)
    return cuts


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 42,
    output_col: str = "split",
) -> DataFrame:
    """Adds ``output_col`` with a deterministic split label per row.

    ``bucket = md5_int60(seed || ':' || id) mod 10000``; the label is
    the first cut point the bucket falls under. Changing ``seed``
    reshuffles membership; changing nothing keeps every id stable.
    """
    bucket = _split_bucket(F.col(id_col), seed)
    cuts = split_thresholds(weights)
    expr: Column | None = None
    for name, ub in cuts:
        cond = bucket < F.lit(ub)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(output_col, expr)


def weighted_mix(
    df: DataFrame,
    id_col: str,
    key_col: str,
    size_col: str,
    targets: dict[str, int],
    seed: int = 42,
) -> DataFrame:
    """Downsample each ``key_col`` group to ≈ ``targets[key]`` total
    ``size_col`` units — the source-weighted mixture step of a
    pretraining pipeline ("this corpus: 30% web, 20% code, …" expressed
    as per-source token budgets).

    A row is kept iff its deterministic hash bucket clears the group's
    keep rate: ``total <= target`` (keep all) or
    ``bucket * total < target * SPLIT_BUCKETS``. The comparison is pure
    64-bit integer arithmetic — no float rounding to drift between
    engines — exact while ``total * 10^4 < 2^63``, i.e. per-group size
    sums up to ~9×10^14 (a ~900 TB corpus counted in chars). Keys
    absent from ``targets`` are dropped: the mixture spec defines the
    output corpus.

    Plan: one cardinality-bounded aggregate (one row per key — domains,
    not documents) broadcast-joined back; the corpus relation itself is
    never shuffled, and the keep decision is a scan-fused projection.
    Reproducible across runs, engines, and cluster sizes like
    :func:`split_assign` (same ``(seed, id)`` hash).
    """
    totals = df.groupBy(key_col).agg(
        F.sum(F.col(size_col).cast("long")).alias("_total")
    )
    tgt = df.sparkSession.createDataFrame(
        [(k, int(v)) for k, v in targets.items()],
        f"{key_col} string, _target long",
    )
    rates = totals.join(F.broadcast(tgt), key_col)
    bucket = _split_bucket(F.col(id_col), seed)
    return (
        df.join(F.broadcast(rates), key_col)
        .where(
            (F.col("_total") <= F.col("_target"))
            | (bucket * F.col("_total") < F.col("_target") * F.lit(SPLIT_BUCKETS))
        )
        .drop("_total", "_target")
    )


def sql_split_bucket(id_expr: str, seed: int) -> str:
    """DuckDB text of the identical bucket computation."""
    keyed = f"concat('{seed}:', CAST({id_expr} AS VARCHAR))"
    return f"({sql_md5_int60(keyed)} % {SPLIT_BUCKETS})"


def sql_split_case(id_expr: str, weights: dict[str, float], seed: int) -> str:
    """DuckDB CASE expression mirroring :func:`split_assign`."""
    b = sql_split_bucket(id_expr, seed)
    arms = " ".join(
        f"WHEN {b} < {ub} THEN '{name}'" for name, ub in split_thresholds(weights)
    )
    return f"CASE {arms} END"


def cap_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    cap: int,
    tiebreak_cols: Sequence[str] = (),
    descending: bool = True,
) -> DataFrame:
    """Keep at most ``cap`` rows per key under a total order.

    Quota-sampling framing of grouped top-k: "best ``cap`` documents
    per domain" (order by quality desc, id asc). Inherits the
    skew-safety of :func:`~spark_ifs_spark.operators.topk.topk_per_key`
    — see module docstring. Returns the input columns plus ``rank``
    (1-based within key).
    """
    if cap <= 0:
        raise ValueError("cap must be > 0")
    return topk_per_key(
        df,
        key_cols=key_cols,
        order_col=order_col,
        k=cap,
        tiebreak_cols=tiebreak_cols,
        descending=descending,
    )


def sample_exact_n(
    df: DataFrame,
    id_col: str,
    n: int,
    seed: int = 42,
) -> DataFrame:
    """Exactly ``n`` rows, uniformly at random, DETERMINISTIC across
    runs, engines, cluster sizes, and input orderings — the eval-subset
    / human-review draw. ``df.sample()`` can't do this (fraction-based,
    partition-dependent); ``orderBy(rand()).limit(n)`` is neither
    deterministic nor engine-portable.

    The draw order is the md5 hash of ``(seed, id)`` (ties, i.e. hash
    collisions, break by id) — a random permutation under the
    random-oracle view of md5, so the first ``n`` of it are a uniform
    sample. New corpus versions mostly preserve membership: a document's
    rank never changes, so the sample only shifts where insertions
    displace the tail — the stability property backfills want.

    Plan: ``TakeOrdered(n)`` — each task keeps its local top-``n`` by
    hash and the driver merges per-partition heads; no global sort, no
    full shuffle, driver traffic is partitions × n rows. Keep ``n`` at
    human-review scale (the same contract as any top-k); for
    percent-scale draws use :func:`split_assign`, which is a projection.
    """
    if n <= 0:
        raise ValueError("n must be > 0")
    h = md5_int60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    return (
        df.withColumn("_h", h)
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .limit(n)
        .drop("_h")
    )


def weighted_sample_n(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    seed: int = 42,
) -> DataFrame:
    """Exactly ``n`` rows drawn WITHOUT replacement with probability
    proportional to ``weight_col`` — deterministic across runs, engines,
    cluster sizes, and input orderings (the weighted counterpart of
    :func:`sample_exact_n`).

    Algorithm A-ES (Efraimidis–Spirakis): each row draws a uniform
    ``u`` from the md5 hash of ``(seed, id)`` and ranks by
    ``u^(1/w)`` — equivalently ``ln(u)/w``, which is what we order by
    (descending; ties, i.e. md5 collisions, break by id). The top-``n``
    of that order IS a weighted sample without replacement.

    Weights must be strictly positive — a zero weight divides to −inf
    and sinks the row, which is the correct limit but asserts nothing;
    negative weights are a caller bug.

    Plan: same as :func:`sample_exact_n` — the rank key is a scan-fused
    projection and the cut is ``TakeOrdered(n)``; no global sort, no
    shuffle of the corpus. Nothing floating leaves the operator (the
    key is dropped), so engine-identical selection needs only identical
    double arithmetic on the way in, which (h+1)/(2^60+1), ``ln``, and
    one division give.
    """
    if n <= 0:
        raise ValueError("n must be > 0")
    h = md5_int60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**60 + 1))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.withColumn("_k", key)
        .orderBy(F.col("_k").desc(), F.col(id_col).asc())
        .limit(n)
        .drop("_k")
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Temperature-resampled mixture at α = 0.5: downsample each
    ``key_col`` group so kept counts are ∝ ``n_key^α`` — the standard
    multilingual rebalancing (mT5/XLM-R's temperature sampling) that
    lifts low-resource languages without fully flattening the mix.

    Derivation: with group sizes ``n_l``, target shares ``q_l ∝ n_l^α``
    and downsample-only keep rates ``r_l = (n_min/n_l)^(1-α)`` (the
    smallest group keeps everything, larger groups shed toward their
    flattened share). At α = ½ this is ``r_l = sqrt(n_min/n_l)``, and
    the keep test ``bucket < r_l·B`` rationalizes to

        ``bucket² · n_l  <  n_min · B²``

    — pure 64-bit integer arithmetic (exact while ``n_l·10^8 < 2^63``,
    i.e. up to ~9×10^10 docs per group), so the decision is
    bit-identical across engines, runs, and cluster sizes, like every
    sampler here (same ``(seed, id)`` md5 bucket).

    Plan: one cardinality-bounded aggregate (one row per language),
    its ``min()`` folded in a second tiny aggregate, both broadcast
    back; the corpus relation is never shuffled — the keep decision is
    a scan-fused projection. Zero corpus-side shuffles at 100 TB.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    bucket = _split_bucket(F.col(id_col), seed)
    return (
        df.join(F.broadcast(counts), key_col)
        .crossJoin(F.broadcast(nmin))
        .where(
            bucket * bucket * F.col("_n")
            < F.col("_nmin") * F.lit(SPLIT_BUCKETS * SPLIT_BUCKETS)
        )
        .drop("_n", "_nmin")
    )


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training
    data: ``(id, slot, neg_id)`` — each anchor gets the ``k`` ids that
    follow it on a seeded md5 ring (all ids ranked by
    ``md5(seed:id)``; anchor at ring position r draws positions
    r+1 … r+k mod n). Uniform-random in aggregate, engine- and
    cluster-size-invariant (the md5 convention every sampler here
    uses), never self-pairing, and resampling is one seed bump.

    Plan: the ring is an ID-ONLY relation, and its global rank is a
    BUCKETED distributed rank, not a single-task window: the top 12
    bits of the md5 value pre-bucket the ring into 4096 ordered,
    hash-balanced buckets; each bucket row_numbers independently
    (4096-way parallel sort of n/4096 ids each) and adds its bucket's
    cumulative offset (a broadcast of the 4096-row count relation —
    the only driver-bounded piece, bounded by construction, not by
    data). The rank is a pure function of the data — identical across
    evaluations and engines — and the ranked relation is persisted
    because both self-join sides read it. Vectors/documents never
    enter the ring; consumers join payloads back by id afterwards, so
    at 100 TB the sort is over the id column alone AND no task sorts
    more than n/4096 of it.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    shift = 48  # 60-bit md5 value >> 48 = 4096 rank buckets
    bucketed = df.select(F.col(id_col).alias("id")).select(
        "id",
        md5_int60(F.concat(F.lit(f"{seed}:"), F.col("id").cast("string"))).alias("_h"),
    ).withColumn("_b", F.shiftrightunsigned("_h", shift))
    counts = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
    # cumulative offset per bucket: a window over <= 4096 rows
    woff = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off")
    )
    wl = Window.partitionBy("_b").orderBy("_h", "id")
    ranked = (
        bucketed.join(F.broadcast(offsets), "_b")
        .select("id", (F.row_number().over(wl) - 1 + F.col("_off")).alias("r"))
        .persist()
    )
    n = ranked.count()
    if n < 2:
        raise ValueError("need at least 2 ids to sample negatives")
    kk = min(int(k), n - 1)
    slots = ranked.select(
        "id",
        "r",
        F.explode(F.sequence(F.lit(1), F.lit(kk))).alias("slot"),
    ).withColumn("_nr", (F.col("r") + F.col("slot")) % F.lit(n))
    partner = ranked.select(F.col("id").alias("neg_id"), F.col("r").alias("_nr"))
    return slots.join(partner, "_nr").select("id", "slot", "neg_id")


def token_budget_allocation(
    df: DataFrame,
    source_col: str,
    tokens_col: Column | str,
    budget_frac: float = 0.5,
    alpha: float = 0.5,
) -> DataFrame:
    """``(source, n_tok, alloc_tok, rate_ppm)`` — allocate a global
    token budget ``B = floor(budget_frac · Σ tokens)`` across sources by
    temperature-weighted water-filling: each source gets
    ``a_i = min(n_i, λ·p_i)`` with weight ``p_i = n_i^alpha`` and the
    water level ``λ`` chosen so ``Σ a_i = B``. This is the capped
    mixture-allocation step every pretraining data recipe runs —
    ``alpha < 1`` up-weights small sources (temperature flattening, as
    in multilingual sampling), and the ``min(n_i, ·)`` cap routes the
    surplus a small source can't absorb back to the big ones instead of
    silently oversampling it past 1 epoch.

    Closed form, no iteration: sort sources by saturation level
    ``r_i = n_i/p_i``; saturated sources form a prefix of that order,
    and a source is saturated iff ``r_i ≤ λ_{i-1}`` where ``λ_{i-1}``
    is the water level computed as if everything before it is
    saturated — running window sums give every ``λ_{i-1}`` in one pass,
    and the final ``λ`` is read off the last saturated row (conditional
    running-max, order-safe because the running sums are monotone).

    Determinism contract: ``alpha = 0.5`` maps to ``sqrt`` (IEEE-exact
    on every engine); other alphas use ``pow``, whose last-ulp behavior
    is libm-specific — keep 0.5 for cross-engine gates. The window
    order is total (``r`` then source), so running double sums are
    sequential in the same order on both engines.

    Scale shape: one corpus scan aggregates per-source token counts;
    everything after runs on the S-row source relation (single-task
    windows over dozens of rows — bounded by the source vocabulary, not
    the corpus). ``rate_ppm = floor(a_i·1e6/n_i)`` is the per-source
    sampling rate to feed :func:`weighted_mix`/:func:`split_assign`.
    """
    tokens = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    per_src = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(tokens).alias("n_tok")
    )
    nd = F.col("n_tok").cast("double")
    p = F.sqrt(nd) if alpha == 0.5 else F.pow(nd, F.lit(alpha))
    base = per_src.select("source", "n_tok", p.alias("p"), (nd / p).alias("r"))
    w = Window.orderBy("r", "source")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run = base.select(
        "*",
        F.sum("n_tok").over(w).alias("cumn"),
        F.sum("p").over(w).alias("cump"),
    )
    run = run.select(
        "*",
        (F.floor(F.lit(budget_frac) * F.max("cumn").over(full))).alias("B"),
        F.max("cump").over(full).alias("totp"),
    )
    lam_before = (F.col("B") - (F.col("cumn") - F.col("n_tok"))) / (
        F.col("totp") - (F.col("cump") - F.col("p"))
    )
    run = run.select("*", (F.col("r") <= lam_before).alias("sat"))
    cumn_sat = F.coalesce(
        F.max(F.when(F.col("sat"), F.col("cumn"))).over(full), F.lit(0.0)
    )
    cump_sat = F.coalesce(
        F.max(F.when(F.col("sat"), F.col("cump"))).over(full), F.lit(0.0)
    )
    n_unsat = F.sum(F.when(~F.col("sat"), F.lit(1)).otherwise(F.lit(0))).over(full)
    lam = F.when(
        n_unsat > 0, (F.col("B") - cumn_sat) / (F.col("totp") - cump_sat)
    ).otherwise(F.lit(0.0))
    alloc = F.when(F.col("sat"), F.col("n_tok")).otherwise(
        F.least(F.col("n_tok"), F.floor(lam * F.col("p")).cast("long"))
    )
    return run.select(
        "source",
        "n_tok",
        alloc.alias("alloc_tok"),
        F.floor(alloc.cast("double") * F.lit(1000000.0) / F.col("n_tok").cast("double"))
        .cast("long")
        .alias("rate_ppm"),
    )


def rendezvous_shard(
    df: DataFrame,
    id_col: str,
    num_shards: int,
    salt: str = "shard",
) -> DataFrame:
    """Input plus a deterministic ``shard`` column assigned by rendezvous
    (highest-random-weight) hashing: ``shard(id) = argmax_s
    md5_int60(salt:id:s)``.

    Why rendezvous instead of ``mod``: growing the fleet from ``S`` to
    ``S+1`` shards moves ONLY the docs whose new shard's draw beats all
    ``S`` existing draws — an expected ``n/(S+1)`` of the corpus —
    whereas ``id % S`` reshuffles nearly everything. That minimal-
    movement property is what makes an incremental re-shard of a 100 TB
    corpus an append, not a rewrite.

    Plan shape: the argmax is a single map-side array expression
    (``S`` md5 draws per row folded through ``array_max`` on
    ``struct(h, s)``) — no shuffle, no join, no window; the assignment
    survives any repartitioning because it is a pure function of the
    id. Ties (md5 draw collisions) resolve to the smallest shard via
    the negated-shard struct field.

    Cost note: the expression is O(S) md5 calls per row, which is the
    classic HRW trade — fine for the dozens-to-hundreds of shards this
    targets. Past ~1k shards switch to hierarchical rendezvous (HRW
    over √S groups, then HRW within the winning group): same minimal-
    movement property, O(2√S) per row.
    """
    if num_shards <= 0:
        raise ValueError("num_shards must be > 0")
    draws = F.array(
        *[
            F.struct(
                md5_int60(
                    F.concat(
                        F.lit(f"{salt}:"),
                        F.col(id_col).cast("string"),
                        F.lit(f":{s}"),
                    )
                ).alias("h"),
                F.lit(-s).alias("ns"),
            )
            for s in range(num_shards)
        ]
    )
    return df.withColumn("shard", -F.array_max(draws)["ns"])


def sql_rendezvous_shard(id_expr: str, num_shards: int, salt: str = "shard") -> str:
    """DuckDB scalar expression twin of :func:`rendezvous_shard` —
    greatest-of over the same md5 draws with the same smallest-shard
    tie rule (struct comparison on (h, -s))."""
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    draws = ", ".join(
        "{'h': %s, 'ns': %d}"
        % (sql_md5_int60(f"concat('{salt}:', CAST({id_expr} AS VARCHAR), ':{s}')"), -s)
        for s in range(num_shards)
    )
    return f"(-(list_max([{draws}])).ns)"


def priority_sample_estimate(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = 64,
    seed: int = 7,
) -> DataFrame:
    """One row ``(n_rows, k, n_sample, tau, est_total, exact_total,
    err_ppm)`` — PRIORITY SAMPLING (Duffield, Lund & Thorup, JACM 2007):
    draw ``u_i = (md5+1)/2^60 ∈ (0,1]`` per row, rank by priority
    ``q_i = w_i/u_i``, keep the top ``k``; with ``τ`` the (k+1)-th
    priority, each kept row's estimator ``max(w_i, τ)`` makes the
    sample's sum an unbiased estimate of ``Σw`` — THE way to estimate
    corpus token totals (or any subset-sum: per-language, per-source…)
    from a fixed-size weighted sample without a full pass at query
    time. The exact total rides along as the audit; production keeps
    only the k-row sample.

    Determinism: ``w`` (integer weight) → double is exact, ``u`` and
    ``q`` are single IEEE divisions mirrored in the oracle, ranking is
    (q DESC, id ASC), and the k-bounded estimator sum is a sorted left
    fold by id (the Bradley-Terry determinism contract).

    Plan: priorities are a scan-fused projection; the only distributed
    step is the global top-(k+1) as ``orderBy().limit()`` — Spark's
    take-ordered, per-partition heads merged (⌀ ``(id, w, q)`` triples,
    no payload) — and the rank window runs over those k+1 survivors;
    everything after is k-bounded driver-scale arithmetic.
    """
    two60 = float(1 << 60)
    w = F.col(weight_col).cast("double")
    u = (
        md5_int60(
            F.concat(F.lit(f"prio:{seed}:"), F.col(id_col).cast("string"))
        )
        + F.lit(1)
    ).cast("double") / F.lit(two60)
    order = [F.col("q").desc(), F.col("id").asc()]
    top = (
        df.select(F.col(id_col).alias("id"), w.alias("w"), (w / u).alias("q"))
        .orderBy(*order)
        .limit(k + 1)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )
    # tau and the estimator sum are GLOBAL aggregates (always exactly
    # one row, even on empty input — the grouped spelling returned zero
    # rows there, diverging from an ungrouped-aggregate oracle), with
    # the scalar tau crossJoined back broadcast. Empty-input contract:
    # one row with n_rows = 0, tau = 0.0 and NULL exact_total/err_ppm.
    tau_df = top.agg(
        F.coalesce(
            F.max(F.when(F.col("rank") == k + 1, F.col("q"))), F.lit(0.0)
        ).alias("tau")
    )
    samp = (
        top.filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(tau_df))
        .select("id", F.greatest(F.col("w"), F.col("tau")).alias("we"))
    )
    est = samp.agg(
        F.count(F.lit(1)).cast("int").alias("n_sample"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("id", "we"))),
                lambda s: s["we"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("est_raw"),
    ).crossJoin(F.broadcast(tau_df))
    ex = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(weight_col).cast("long").alias("exact_total"),
    )
    err = F.floor(
        (F.abs(F.col("est_total") - F.col("exact_total").cast("double")) * 1e6)
        / F.col("exact_total").cast("double")
    ).cast("long")
    return (
        est.crossJoin(F.broadcast(ex))
        .select(
            "n_rows",
            F.lit(k).cast("int").alias("k"),
            "n_sample",
            F.round("tau", 6).alias("tau"),
            F.round("est_raw", 6).alias("est_total"),
            "exact_total",
        )
        .withColumn("err_ppm", err)
    )


def hash_sample_quantiles(
    df: DataFrame,
    key_col: str,
    val_col: str,
    qs_pct: Sequence[int] = (25, 50, 75, 90, 99),
    sample_mod: int = 20,
) -> DataFrame:
    """``(q_pct, v_est, n_sample, n_le, rank_ppm, err_ppm)`` — quantile
    estimates from a deterministic hash sample, audited against the
    FULL relation without ever sorting it.

    Estimating quantiles of a 100 TB column exactly needs a global sort
    (or an order-dependent mergeable sketch like t-digest/KLL, which no
    independent engine can replay value-for-value). This operator takes
    the order-INDEPENDENT route: a fixed-rate Bernoulli sample selected
    by ``md5(key) % sample_mod == 0`` — reproducible across runs,
    engines, partitionings and input orderings, and mergeable across
    shards by construction (a shard union's sample IS the union of
    shard samples) — then reads the discrete quantile at rank
    ``ceil(q·n_sample/100)`` off the sample (ties broken by key, so
    both engines pick the same row). Only the sample is ever ranked —
    ``1/sample_mod`` of the relation — and the rank itself is a
    TWO-LEVEL SPLICE, not an unpartitioned window (which would funnel
    the whole sample, which grows with the corpus, through one task):
    ``percentile_approx`` supplies ~128 balanced value boundaries (a
    mergeable JVM sketch, corpus-parallel; boundary error only skews
    bucket BALANCE, never the exact rank), rows bucket by boundary
    count — monotone in ``v``, so bucket order is value order — bucket
    counts roll up into offsets via a window over ≤128 rows, and the
    within-bucket ``row_number`` runs partitioned. Exact global ranks,
    every sample-sized step partition-parallel.

    The audit side never sorts: for each estimate ``v`` the true rank
    is ``count(val ≤ v)`` — one scan with the 5-row estimate relation
    broadcast, folded map-side into per-quantile conditional counts.
    ``rank_ppm`` is the estimate's TRUE rank in ppm (integer division,
    exact) and ``err_ppm = |rank_ppm − q·10⁴|`` is the rank error the
    sample rate bought — the measured-not-asserted audit every other
    estimator in this engine ships (KMV, HLL, recall audits).

    The ppm numerator ``n_le·1e6`` is computed in decimal(38,0)
    (HUGEINT on the oracle side) before the integer division, so the
    audit stays exact past the int64 wrap point (~9.2e12 rows) — the
    CUPED decimal-before-multiply rule.
    """
    est = hash_sample_quantile_estimates(
        df, key_col, val_col, qs_pct=qs_pct, sample_mod=sample_mod
    )
    audit = (
        df.select(F.col(val_col).alias("fv"))
        .crossJoin(F.broadcast(est))
        .groupBy("q_pct", "v_est", "n_sample")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("fv") <= F.col("v_est"), 1).otherwise(0)).alias(
                "n_le"
            ),
        )
    )
    return audit.select(
        "q_pct",
        "v_est",
        "n_sample",
        "n_le",
        F.expr(
            "CAST((CAST(n_le AS DECIMAL(38,0)) * 1000000)"
            " DIV n_total AS BIGINT)"
        ).alias("rank_ppm"),
    ).withColumn(
        "err_ppm", F.abs(F.col("rank_ppm") - F.col("q_pct").cast("long") * F.lit(10_000))
    )


def hash_sample_quantile_estimates(
    df: DataFrame,
    key_col: str,
    val_col: str,
    qs_pct: Sequence[int] = (25, 50, 75, 90, 99),
    sample_mod: int = 20,
) -> DataFrame:
    """``(q_pct, v_est, n_sample)`` — the ESTIMATE stage of
    :func:`hash_sample_quantiles` (deterministic hash sample →
    two-level spliced rank → discrete quantile read-off) without the
    full-relation audit pass, so composite audits (e.g. the
    cross-estimator quantile audit, which compares this route against
    the rank sketch) can attach ONE shared audit scan to several
    estimators instead of paying one scan each."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    if not qs_pct or any(q < 1 or q > 100 for q in qs_pct):
        raise ValueError(f"qs_pct must be percentages in [1, 100], got {qs_pct}")
    spark = df.sparkSession
    samp = df.filter(
        md5_int60(F.col(key_col).cast("string")) % F.lit(sample_mod) == 0
    ).select(F.col(val_col).alias("v"), F.col(key_col).alias("k"))
    # two-level spliced rank (see docstring): approx boundaries define
    # monotone value buckets; exact rank = bucket offset + within-bucket
    # row_number. Boundary quality affects balance only, never ranks.
    n_buckets = 128
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # The ~127 boundaries are collected driver-side ONCE (an EAGER,
    # 127-value-bounded job at call time, the cms_heavy_hitters grid
    # convention) and embedded as LITERALS. An earlier shape broadcast
    # the percentile_approx result and let both the offset branch and
    # the bucket-probe branch reference it; percentile_approx's merge
    # is order-dependent, so if the exchange were ever recomputed
    # instead of reused the two branches could bucket against
    # DIFFERENT boundary vectors — silently wrong ranks. Literals
    # make the boundary vector a plan constant: correct under exchange
    # recompute, disabled reuse, or canonicalization mismatch.
    bs = samp.agg(
        F.percentile_approx(
            "v", F.array(*[F.lit(f) for f in fracs]), 10_000
        ).alias("_bs")
    ).collect()[0]["_bs"]
    if bs:
        blit = F.array(*[F.lit(b) for b in bs])
        bkt_expr = F.size(F.filter(blit, lambda b: b < F.col("v")))
    else:  # empty sample: one bucket, ranks still exact
        bkt_expr = F.lit(0)
    bk = samp.select("v", "k", bkt_expr.alias("_bkt"))
    per = bk.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_bc"))
    woff = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = per.select(
        "_bkt", F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_off")
    )
    wrn = Window.partitionBy("_bkt").orderBy(
        F.col("v").asc(), F.col("k").asc()
    )
    ranked = (
        bk.join(F.broadcast(off), "_bkt")
        .select("v", (F.col("_off") + F.row_number().over(wrn)).alias("rn"))
    )
    n_samp = samp.agg(F.count(F.lit(1)).alias("n_sample"))
    qdf = spark.createDataFrame([(int(q),) for q in qs_pct], "q_pct int")
    targets = qdf.crossJoin(F.broadcast(n_samp)).select(
        "q_pct",
        "n_sample",
        F.expr("(q_pct * n_sample + 99) DIV 100").alias("target_rn"),
    )
    return targets.join(ranked, F.col("target_rn") == F.col("rn")).select(
        "q_pct", F.col("v").alias("v_est"), "n_sample"
    )
