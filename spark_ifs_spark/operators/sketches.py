"""Sketch operators: Count-Min frequency estimation, portable HLL and
KMV distinct counting, KMV set-overlap, bottom-k rank sketches, and
Misra-Gries heavy hitters — all deterministic, engine-portable, and
mergeable, over unbounded key spaces.

Exact per-key counts (``groupBy(key).count()``) shuffle and hold one
cell per DISTINCT key — fine for vocabularies, fatal for web-scale key
spaces (URLs, n-grams, user ids at 100 TB). A Count-Min Sketch folds the
stream into a ``depth × width`` integer grid regardless of cardinality:
update = +1 at ``(r, h_r(x) mod width)`` for each of ``depth`` seeded
hash rows; point estimate = min over rows (always an OVERestimate —
collisions only add). Error: ``est ≤ true + ε·N`` with ``ε = e/width``
at confidence ``1 − e^(−depth)``.

Spark shape: the sketch build is ONE map-side-combined aggregate whose
key space is ``depth·width`` cells — corpus-size-independent shuffle,
the same posture as ``kmeans_step``. Per-partition grids fold locally
before the exchange; merging sketches across partitions/streams is cell
addition, which the partial aggregate already IS.

Hashing is the portable md5/universal-hash family
(``functions/hashing.py``), so the DuckDB oracle reproduces the grid
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.functions.hashing import (
    MINHASH_P,
    md5_int60,
    md5_int60_py,
    minhash_params,
    universal_hash,
)
from spark_ifs_spark.operators.topk import topk_per_key


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 101,
) -> DataFrame:
    """``(r, bucket, c)`` — Count-Min Sketch of a string column.

    One map-side array expression fans each value to its ``depth``
    (row, bucket) cells; ONE hash aggregate counts them. The shuffle
    carries at most ``depth·width`` cells per partition no matter the
    corpus size.
    """
    if depth < 1 or width < 1:
        raise ValueError(
            f"depth and width must be >= 1, got depth={depth} width={width}"
            " (a zero-dimension grid would silently count nothing)"
        )
    params = minhash_params(depth, seed)
    h = md5_int60(F.col(col))
    cells = F.array(
        *[universal_hash(h, a, b) % F.lit(width) for a, b in params]
    )
    return (
        df.select(F.posexplode(cells).alias("r", "bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    spark_cms: DataFrame,
    terms: list[str],
    depth: int = 4,
    width: int = 1024,
    seed: int = 101,
) -> DataFrame:
    """``(term, est)`` — point estimates for a probe list: min over the
    sketch rows of the probed cell counts.

    The probes' cells are computed driver-side with the identical hash
    arithmetic (``depth·len(terms)`` literal rows); the sketch — a
    bounded ``depth·width`` grid by construction — is BROADCAST into
    the left join, so neither side ever shuffles. A probe term whose
    cells were never touched estimates 0 via the left join.
    """
    spark = spark_cms.sparkSession
    params = minhash_params(depth, seed)
    probe_rows = []
    for t in terms:
        h = md5_int60_py(t)
        for r, (a, b) in enumerate(params):
            probe_rows.append((t, r, (a * (h % MINHASH_P) + b) % MINHASH_P % width))
    probes = spark.createDataFrame(probe_rows, ["term", "r", "bucket"])
    return (
        probes.join(F.broadcast(spark_cms), ["r", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    col: str,
    phi_ppm: int = 20_000,
    depth: int = 4,
    width: int = 1024,
    seed: int = 101,
) -> DataFrame:
    """``(term, est, n_exact, over_ppm)`` — every value whose TRUE count
    is ≥ ``phi_ppm`` parts-per-million of the stream (the classic
    φ-heavy-hitter query), found with a CMS-prefiltered two-pass plan
    instead of an exact count of the full key space.

    Pass 1 (one corpus scan) builds the Count-Min grid (``cms_build`` —
    shuffle bounded by ``depth·width`` cells) and collects it whole
    (grid-bounded driver materialization, the k×d centroid convention);
    the stream length is recovered FROM the grid — every update
    increments exactly one cell per depth row, so each row's cell sum
    is N — and no separate count job runs. "Hot" cells are those
    clearing the threshold; because CMS never undercounts, a true heavy
    hitter's cells are ALL hot — no false negatives. The hot set is
    tiny by arithmetic, not luck: each grid row's cells sum to N, so at
    most ``1e6/phi_ppm`` cells per row can clear a ``phi_ppm``
    threshold (50 at the default); it compiles into per-row map
    LITERALS.
    Pass 2 (one corpus scan) finds and verifies candidates MAP-SIDE: a
    token row survives only if all ``depth`` of its cells hit the hot
    maps, with ``est`` = least over the lookups; surviving occurrences
    hash-aggregate by term (map-side combined — the shuffle carries
    candidate occurrences, never the corpus key space; the earlier
    shape paid a one-cell-per-distinct-key vocabulary shuffle, billions
    of cells for URLs/n-grams at 100 TB) and rows below the threshold —
    CMS false positives — drop. ``over_ppm`` is the CMS overcount,
    ``(est − n_exact)·1e6 DIV n_exact`` — integer, exact.

    At 100 TB the exact-count-everything alternative shuffles one cell
    per distinct key (URLs, n-grams: billions); here the grid is
    ``depth·width`` regardless, the hot-cell maps are
    ``depth·1e6/phi_ppm``-bounded expressions, and the verify pass is
    proportional to how heavy the hitters actually are. All hashing is
    the portable md5/universal family, so the DuckDB oracle replays the
    grid bit-for-bit.

    Threshold arithmetic is overflow-safe past int64: the count cut is
    ``ceil(n_total·phi_ppm / 1e6)`` computed ONCE, driver-side in
    arbitrary-precision Python (HUGEINT on the oracle side) — comparing
    ``c ≥ thresh`` instead of ``c·1e6 ≥ n_total·phi_ppm`` keeps every
    per-row comparison inside int64 even at 10^14-token streams, where
    the naive product wraps (the CUPED decimal-before-multiply rule).

    EAGER: pass 1 runs as a Spark job at CALL time (the grid collect),
    not at action time — so the input must be deterministic across
    jobs (a nondeterministic lineage, e.g. an unseeded sample, could
    give pass 2 a different view of the data than the grid saw, with
    no error raised; ``localCheckpoint`` such inputs first). NULL
    values hash to NULL and land in a NULL-bucket grid cell; they are
    counted by ``n_total`` (the oracle convention) but can never match
    a term's lookup, so NULL cells are skipped when compiling the hot
    maps. The hot maps are arithmetic-bounded at ``depth·1e6/phi_ppm``
    entries, but a tiny ``phi_ppm`` would still compile a huge literal
    — the actual entry count is guarded at 50k.
    """
    if not 1 <= phi_ppm <= 1_000_000:
        raise ValueError(f"phi_ppm must be in [1, 1e6], got {phi_ppm}")
    # ONE corpus pass builds the grid; the grid is collected whole —
    # bounded driver materialization of depth·width cells, the k×d
    # centroid convention — and the stream length is recovered FROM it
    # (every update increments exactly one cell per depth row, so each
    # row's cell sum is N; row 0 is used), saving a separate count job.
    cells = cms_build(df, col, depth=depth, width=width, seed=seed).collect()
    n_total = sum(row["c"] for row in cells if row["r"] == 0)
    thresh = (n_total * phi_ppm + 999_999) // 1_000_000
    hot_by_r: dict[int, dict[int, int]] = {}
    for row in cells:
        # NULL-bucket cells come from NULL input values (md5(NULL) is
        # NULL); a term's hash lookup can never match them, and
        # F.lit(None-key) would fail — skip them in the hot maps.
        if row["bucket"] is not None and row["c"] >= thresh:
            hot_by_r.setdefault(row["r"], {})[row["bucket"]] = row["c"]
    n_hot = sum(len(v) for v in hot_by_r.values())
    if n_hot > 50_000:
        raise ValueError(
            f"hot-cell maps would hold {n_hot} entries (phi_ppm="
            f"{phi_ppm} admits up to {depth}*{1_000_000 // phi_ppm}) — "
            "too large to compile as map literals; raise phi_ppm or "
            "use an exact groupBy for such low thresholds"
        )
    params = minhash_params(depth, seed)
    th = md5_int60(F.col("term"))
    lookups = []
    for r, (a, b) in enumerate(params):
        cell = universal_hash(th, a, b) % F.lit(width)
        entries = hot_by_r.get(r, {})
        if not entries:
            # some grid row has no hot cell at all ⇒ no key can be heavy
            lookups = []
            break
        m = F.create_map(
            *[
                F.lit(int(x)).cast("bigint")
                for kv in sorted(entries.items())
                for x in kv
            ]
        )
        lookups.append(m[cell.cast("bigint")])
    if not lookups:
        term_type = df.schema[col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [],
            f"term {term_type}, est bigint, n_exact bigint, over_ppm bigint",
        )
    all_hot = lookups[0].isNotNull()
    for lk in lookups[1:]:
        all_hot = all_hot & lk.isNotNull()
    est_expr = lookups[0] if len(lookups) == 1 else F.least(*lookups)
    # pass 2, ONE scan: candidate rows survive the map-side hot filter
    # (est is a pure function of term, so grouping by both adds no
    # keys), count exactly, keep rows clearing the threshold — the
    # shuffle carries candidate occurrences only, map-side combined
    exact = (
        df.select(F.col(col).alias("term"))
        .filter(all_hot)
        .select("term", est_expr.alias("est"))
        .groupBy("term", "est")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return exact.filter(F.col("n_exact") >= F.lit(int(thresh))).select(
        "term",
        "est",
        "n_exact",
        F.expr(
            "CAST((CAST(est - n_exact AS DECIMAL(38,0)) * 1000000)"
            " DIV n_exact AS BIGINT)"
        ).alias("over_ppm"),
    )


#: HLL bias-correction constant for m >= 128 buckets
def _hll_alpha(m: int) -> float:
    return 0.7213 / (1 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    p: int = 9,
) -> DataFrame:
    """Per-key approximate distinct count via a fully deterministic,
    engine-portable HyperLogLog: ``(key..., est_distinct)``.

    Why not ``approx_count_distinct``: Spark's HLL++ and DuckDB's
    ``approx_count_distinct`` use different hash functions and bias
    tables, so their estimates differ and the oracle can't check them.
    This HLL is built from the repo's portable md5 hash with EXACT
    integer bucket/rho arithmetic, so both engines compute the
    bit-identical register file and the identical estimate — an
    *approximate* statistic with an *exact* differential test.

    Construction (classic Flajolet HLL, m = 2^p buckets): the 60-bit
    md5 hash splits as ``bucket = h mod m``, ``w = h div m``;
    ``rho(w) = (60-p) - bitlen(w) + 1`` (position of the leading 1 bit,
    ``bitlen`` via ``length(bin(w))`` — identical in both engines), and
    each bucket keeps ``M = max(rho)``. The harmonic sum
    ``Σ 2^(-M_j)`` is carried as the EXACT integer ``Σ 2^(K - M_j)``
    (``K = 60-p+1``, terms ≤ 2^52, so a BIGINT holds any m) — no float
    accumulation to drift between engines; the single final division
    produces the estimate, with the standard linear-counting correction
    below ``2.5m`` when empty buckets remain.

    Scale shape: ONE map-side-combined aggregate on (key, bucket) —
    shuffle bounded by keys × m cells, corpus-size-independent, the
    same posture as :func:`cms_build`. Sketches for different
    partitions/batches merge by bucket-max, which the partial aggregate
    already IS — the property that makes HLL the incremental corpus
    statistic (union = merge, no re-scan).
    """
    return hll_estimate(
        hll_registers(df, key_cols, value_col, p), key_cols, p
    )


def hll_registers(
    df: DataFrame, key_cols: list[str], value_col: str, p: int = 9
) -> DataFrame:
    """``(key..., _b, _M)`` — the HLL register file (bucket → max rho).

    Exposed separately because the register file IS the mergeable
    state: union two register files and :func:`hll_merge` them, or fold
    a stream's micro-batches into a stored register file and estimate
    on demand — no re-scan of history, ever."""
    m = 1 << p
    wbits = 60 - p
    K = wbits + 1
    h = md5_int60(F.col(value_col).cast("string"))
    bucket = h % F.lit(m)
    # h div m via shiftright — Spark's `/` is double division, which is
    # lossy past 2^53 and would corrupt the top bits of a 60-bit hash
    w = F.shiftright(h, p)
    rho = F.when(w > 0, F.lit(wbits) - F.length(F.bin(w)) + 1).otherwise(
        F.lit(K)
    )
    return (
        df.select(*key_cols, bucket.alias("_b"), rho.alias("_rho"))
        .groupBy(*key_cols, "_b")
        .agg(F.max("_rho").alias("_M"))
    )


def hll_merge(regs_a: DataFrame, regs_b: DataFrame, key_cols: list[str]) -> DataFrame:
    """Union two register files — bucket-wise max, the HLL merge law
    (estimate(merge(A, B)) ≡ estimate(sketch(A ∪ B)), exactly)."""
    return (
        regs_a.unionByName(regs_b)
        .groupBy(*key_cols, "_b")
        .agg(F.max("_M").alias("_M"))
    )


def hll_estimate(regs: DataFrame, key_cols: list[str], p: int = 9) -> DataFrame:
    """``(key..., est_distinct)`` from a register file (see
    :func:`hll_distinct` for the arithmetic contract)."""
    m = 1 << p
    wbits = 60 - p
    K = wbits + 1
    alpha = _hll_alpha(m)
    per_key = regs.groupBy(*key_cols).agg(
        F.sum(F.expr(f"shiftleft(1L, {K} - _M)")).alias("_S_present"),
        F.count(F.lit(1)).alias("_n_present"),
    )
    zeros = F.lit(m) - F.col("_n_present")
    s_total = F.col("_S_present") + zeros * F.lit(1 << K)
    raw = F.lit(alpha * m * m * float(1 << K)) / s_total.cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return per_key.select(*key_cols, est.alias("est_distinct"))


def sql_hll_distinct(
    table: str, key_cols: list[str], value_col: str, p: int = 9
) -> str:
    """DuckDB twin of :func:`hll_distinct` (same integer register file,
    same estimate), for oracle construction."""
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    m = 1 << p
    wbits = 60 - p
    K = wbits + 1
    alpha = _hll_alpha(m)
    keys = ", ".join(key_cols)
    h = sql_md5_int60(f"CAST({value_col} AS VARCHAR)")
    # numerator alpha*m^2*2^K precomputed in PYTHON so both engines get
    # the identical double literal (the Spark side does the same)
    num = alpha * m * m * float(1 << K)
    return f"""
WITH regs AS (
  SELECT {keys}, ({h}) % {m} AS b,
         max(CASE WHEN ({h}) // {m} > 0
             THEN {wbits} - length(bin(({h}) // {m})) + 1
             ELSE {K} END) AS M
  FROM {table}
  GROUP BY {keys}, b
),
per_key AS (
  SELECT {keys},
         CAST(sum(1::BIGINT << ({K} - M)) AS BIGINT) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY {keys}
),
scored AS (
  SELECT {keys}, n_present,
         CAST({num!r} AS DOUBLE)
           / CAST(s_present + ({m} - n_present) * (1::BIGINT << {K}) AS DOUBLE) AS raw
  FROM per_key
)
SELECT {keys},
       CASE WHEN raw <= {2.5 * m!r} AND {m} - n_present > 0
            THEN CAST({float(m)!r} AS DOUBLE)
                 * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - n_present AS DOUBLE))
            ELSE raw
       END AS est_distinct
FROM scored
"""


def kmv_sketch(
    df: DataFrame, key_cols: list[str], value_col: str, k: int = 128
) -> DataFrame:
    """``(key…, h, rank)`` — the K-Minimum-Values distinct-count sketch
    (Bar-Yossef et al. 2002 / Beyer et al. 2007): per key, the ``k``
    smallest md5 hash values of the distinct ``value_col`` population.
    KMV sketches are MERGEABLE BY UNION: the k smallest hashes of a
    union of sets are contained in the union of each set's k smallest,
    so re-sketching the concatenated sketch rows IS the sketch of the
    union — the property that lets per-shard sketches fold into corpus
    cardinalities without touching the corpus again (pinned in
    ``test_sketches.py``).

    Plan: one distinct aggregate on ``(key, hash)`` (digest-keyed — the
    values themselves never shuffle beyond their 60-bit hashes), then
    the grouped top-k, whose partial limit keeps at most ``k`` rows per
    key on each map partition, so the final sort sees at most
    ``k × map partitions`` rows however skewed the key. Everything
    downstream of the distinct is k-bounded per key.
    """
    d = df.select(
        *key_cols, md5_int60(F.col(value_col).cast("string")).alias("h")
    ).distinct()
    return topk_per_key(d, key_cols, "h", k=k, descending=False)


#: KMV estimator numerator (k−1)·2^60 as an exact double (k−1 has few
#: mantissa bits), computed in Python so both engines share the literal.
def _kmv_num(k: int) -> float:
    return float((k - 1) * (1 << 60))


def kmv_estimate(sketch: DataFrame, key_cols: list[str], k: int = 128) -> DataFrame:
    """``(key…, n_sketch, kth_h, est_distinct)`` from KMV sketch rows:
    the standard unbiased estimator ``(k−1) · 2^60 / h_(k)`` when the
    sketch is full, the exact count when the population was smaller
    than ``k``. Both engines floor the IEEE-identical double quotient,
    so the estimate is deterministic."""
    num = _kmv_num(k)
    agg = sketch.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("int").alias("n_sketch"),
        F.max("h").alias("kth_h"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("long")
    ).otherwise(
        F.floor(F.lit(num) / F.col("kth_h").cast("double")).cast("long")
    )
    return agg.select(*key_cols, "n_sketch", "kth_h", est.alias("est_distinct"))


def kmv_overlap(
    df: DataFrame, key_col: str, value_col: str, k: int = 256
) -> DataFrame:
    """``(key_a, key_b, n_kept, n_both, jaccard_est)`` — pairwise
    set-overlap estimation from per-key KMV sketches (the theta-sketch
    set operation on the bottom-k representation): for each key pair,
    the bottom-k of the two sketches' union IS the union's sketch (the
    KMV law), a uniform sample of the union's distinct values — so the
    fraction of kept hashes present in BOTH sides estimates Jaccard,
    exactly (not approximately) when the union is smaller than k.

    Scale shape: the corpus is touched once by the per-key digest
    distinct (``kmv_sketch``); everything pairwise runs on the keys·k
    sketch relation — pair fan-out is keys²·2k rows, windows bounded
    per pair, nothing corpus-shaped. The estimator is a pure function
    of the row set (md5 bottom-k), so the DuckDB oracle replays it
    bit-for-bit and the registry row audits it against the exact
    Jaccard. Sketch-union mergeability is the same KMV law pinned in
    ``test_sketches.py``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sk = kmv_sketch(df, [key_col], value_col, k=k).select(
        F.col(key_col).alias("key"), "h"
    )
    keys = sk.select("key").distinct()
    # keys × keys is key-cardinality-bounded; broadcast keeps it off
    # the shuffle path entirely
    pairs = (
        keys.select(F.col("key").alias("key_a"))
        .crossJoin(F.broadcast(keys.select(F.col("key").alias("key_b"))))
        .filter(F.col("key_a") < F.col("key_b"))
    )
    rows = (
        pairs.join(F.broadcast(sk), F.col("key_a") == F.col("key"))
        .select("key_a", "key_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(F.broadcast(sk), F.col("key_b") == F.col("key"))
            .select("key_a", "key_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
    )
    both = rows.groupBy("key_a", "key_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    kept = topk_per_key(both, ["key_a", "key_b"], "h", k, descending=False)
    return kept.groupBy("key_a", "key_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("n_both"),
    ).withColumn(
        "jaccard_est",
        F.round(F.col("n_both").cast("double") / F.col("n_kept").cast("double"), 6),
    )


def rank_sketch(
    df: DataFrame, key_col: str, val_col: str, k: int = 512
) -> DataFrame:
    """``(h, v)`` — the bottom-k-by-hash RANK sketch: the ``k`` rows
    whose md5(key) hashes are smallest, carrying their values. A
    fixed-size, order-independent, mergeable rank summary (the KMV law
    applied to rank queries): the k smallest hashes of a union are
    contained in the union of each part's k smallest, so re-sketching
    concatenated sketch rows IS the union's sketch —
    :func:`rank_sketch_merge` is exact, pinned in ``test_sketches.py``.

    Why this and not KLL / t-digest: their compaction decisions depend
    on arrival and merge-tree order, so the sketch is not a function of
    the row set — no independent engine can replay it value-for-value,
    and batch ≡ stream equality would hold only for one fixed fold
    order. Bottom-k-by-hash is a pure function of the rows: DuckDB
    reproduces it bit-for-bit (``ORDER BY hash LIMIT k``), merges are
    exactly associative/commutative, and the estimator's price is rank
    error ``O(sqrt(ln(1/δ)/k))`` instead of KLL's ``O(1/k)`` — the
    engine-portability trade this package takes everywhere (portable
    HLL over HLL++, md5 MinHash over Spark's). The error is MEASURED,
    not asserted, by the registry's rank audit.

    Plan: one map-side hash projection + ``orderBy(h).limit(k)`` —
    Spark's take-ordered: each partition keeps its k smallest hashes and
    the driver merges those heads, so no task holds more than k rows
    and nothing is globally sorted. ``key_col`` must be unique per row
    (doc ids), making the kept rows a uniform simple random sample of
    size k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (
        df.select(
            md5_int60(F.col(key_col).cast("string")).alias("h"),
            F.col(val_col).alias("v"),
        )
        .orderBy("h")
        .limit(k)
    )


def rank_sketch_by_key(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    val_col: str,
    k: int = 512,
) -> DataFrame:
    """``(key…, h, v)`` — one bottom-k-by-hash rank sketch PER KEY
    GROUP (the :func:`rank_sketch` law applied group-wise): fixed
    ``k``-row state per key however the group sizes skew, merges exact
    per key by the same KMV law, and the grouped top-k's partial limit
    cuts every map partition to ``k`` rows per key before the shuffle,
    even when one key owns most of the corpus — the per-domain/
    per-source profile shape a curation pipeline actually runs at
    100 TB."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    d = df.select(
        *key_cols,
        md5_int60(F.col(id_col).cast("string")).alias("h"),
        F.col(val_col).alias("v"),
    )
    return topk_per_key(
        d, list(key_cols), "h", k=k, descending=False
    ).select(*key_cols, "h", "v")


def rank_sketch_quantiles_by_key(
    sketch: DataFrame, key_cols: list[str], qs_pct
) -> DataFrame:
    """``(key…, q_pct, v_est, n_sketch)`` — per-key discrete quantile
    estimates off a keyed rank sketch: rank ``ceil(q·n_sketch/100)``
    under ``(v, h)`` order within each key. The rank window is
    partitioned by key and k-bounded per key."""
    if not qs_pct or any(q < 1 or q > 100 for q in qs_pct):
        raise ValueError(f"qs_pct must be percentages in [1, 100], got {qs_pct}")
    from pyspark.sql import Window

    spark = sketch.sparkSession
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col("v").asc(), F.col("h").asc())
    ranked = sketch.select(*keys, "v", F.row_number().over(w).alias("rn"))
    n_df = sketch.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_sketch"))
    qdf = spark.createDataFrame([(int(q),) for q in qs_pct], "q_pct int")
    targets = n_df.crossJoin(F.broadcast(qdf)).select(
        *keys,
        "q_pct",
        "n_sketch",
        F.expr("(q_pct * n_sketch + 99) DIV 100").alias("target_rn"),
    )
    cond = [targets[c] == ranked[c] for c in keys]
    cond.append(targets["target_rn"] == ranked["rn"])
    return targets.join(ranked, cond).select(
        *[targets[c] for c in keys],
        "q_pct",
        F.col("v").alias("v_est"),
        "n_sketch",
    )


def rank_sketch_merge(a: DataFrame, b: DataFrame, k: int = 512) -> DataFrame:
    """Union two rank sketches — keep the k smallest hashes of the
    concatenation (``sketch(A ∪ B)`` exactly, the KMV merge law)."""
    return a.unionByName(b).select("h", "v").orderBy("h").limit(k)


def rank_sketch_quantiles(
    sketch: DataFrame, qs_pct: list[int] | tuple[int, ...]
) -> DataFrame:
    """``(q_pct, v_est, n_sketch)`` — discrete quantile estimates read
    off a rank sketch: the value at rank ``ceil(q·n_sketch/100)`` under
    ``(v, h)`` order (hash tiebreak, so both engines pick the same
    row). Every step is k-bounded — the rank window runs over sketch
    rows only."""
    if not qs_pct or any(q < 1 or q > 100 for q in qs_pct):
        raise ValueError(f"qs_pct must be percentages in [1, 100], got {qs_pct}")
    from pyspark.sql import Window

    spark = sketch.sparkSession
    ranked = sketch.select(
        "v",
        F.row_number()
        .over(Window.orderBy(F.col("v").asc(), F.col("h").asc()))
        .alias("rn"),
    )
    n_df = sketch.agg(F.count(F.lit(1)).alias("n_sketch"))
    qdf = spark.createDataFrame([(int(q),) for q in qs_pct], "q_pct int")
    targets = qdf.crossJoin(F.broadcast(n_df)).select(
        "q_pct",
        "n_sketch",
        F.expr("(q_pct * n_sketch + 99) DIV 100").alias("target_rn"),
    )
    return targets.join(F.broadcast(ranked), F.col("target_rn") == F.col("rn")).select(
        "q_pct", F.col("v").alias("v_est"), "n_sketch"
    )


def mg_fold_counts(counters: dict, batch_counts, k: int) -> dict:
    """One Misra-Gries fold step, exposed as a pure function so the
    undercount law is hypothesis-testable without Spark: add a batch's
    exact (term, count) pairs into the running counters, then — if more
    than ``k`` survive — apply the canonical COMPRESS (subtract the
    (k+1)-th largest counter, drop non-positives; Agarwal et al.'s
    mergeable-summaries rule). Each compress decrements every remaining
    counter by its pivot and the pivots' total is ≤ (mass folded so
    far)/(k+1), so ``c(x) − n/(k+1) ≤ counters[x] ≤ c(x)`` always."""
    counters = dict(counters)
    for term, c in batch_counts:
        counters[term] = counters.get(term, 0) + int(c)
    if len(counters) > k:
        pivot = sorted(counters.values(), reverse=True)[k]
        counters = {t: c - pivot for t, c in counters.items() if c > pivot}
    return counters


def _mg_parts(df: DataFrame, col: str, k: int) -> DataFrame:
    """``(term, c_low, rows)`` — per-partition MG summaries WITH the
    stream length folded in: counter rows carry ``rows = 0``; each
    partition additionally emits one NULL-term row whose ``rows`` is
    the partition's row count (NULL is a safe sentinel — the fold's
    ``value_counts`` drops nulls, so no data term is ever NULL here).
    One corpus scan produces both the summary and n_total, which is
    how :func:`mg_heavy_hitters` matches the CMS route's two-scan
    budget instead of paying a third scan for a separate count job.
    Arrow batch sizing follows ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` (the fold has no say — a per-call knob here
    would be decorative)."""
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _fold(it):
        counters: dict = {}
        n_part = 0
        for pdf in it:
            n_part += len(pdf)
            counters = mg_fold_counts(
                counters, pdf[col].value_counts().items(), k
            )
        if n_part:
            yield pd.DataFrame(
                {
                    "term": list(counters.keys()) + [None],
                    "c_low": list(counters.values()) + [0],
                    "rows": [0] * len(counters) + [n_part],
                }
            )

    term_type = df.schema[col].dataType.simpleString()
    return df.select(F.col(col)).mapInPandas(
        _fold, schema=f"term {term_type}, c_low long, rows long"
    )


def mg_summary(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """``(term, c_low)`` — a merged Misra-Gries (SpaceSaving-style)
    frequency summary of a key stream: per Spark partition, a
    ``k``-counter MG summary built by folding Arrow batches (exact
    in-batch counts, then the canonical COMPRESS: subtract the
    (k+1)-th largest counter, drop non-positives — Agarwal et al.'s
    mergeable-summaries rule), then one global counter-ADD across
    partition summaries. The deficit telescopes: every compress
    decrements all counters by its pivot, and the pivots' total is ≤
    (rows folded so far)/(k+1) per partition, so after the global add

        c(x) − n/(k+1)  ≤  c_low(x)  ≤  c(x)

    — the MG undercount law (CMS overcounts, MG undercounts; the two
    estimators bracket the truth, which is what the cross-audit query
    exercises). State: ≤ k counters per partition summary, ≤ k·P rows
    after the union — corpus-size-independent, like the CMS grid.

    The summary's CONTENT below the guarantee line depends on partition
    and batch boundaries (inherent to MG — it is not a pure function of
    the multiset), so ``c_low`` is never exposed through an oracle-gated
    column; the no-false-negative GUARANTEE is what downstream plans
    rely on (:func:`mg_heavy_hitters` exact-verifies its shortlist),
    and the bound itself is property-tested under random repartitioning
    in ``test_sketches.py``.
    """
    return (
        _mg_parts(df, col, k)
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("c_low").alias("c_low"))
    )


def mg_heavy_hitters(
    df: DataFrame, col: str, phi_ppm: int = 20_000, k: int = 64
) -> DataFrame:
    """``(term, n_exact)`` — the exact φ-heavy-hitter set found via a
    Misra-Gries-prefiltered two-pass plan: the deterministic UNDERcount
    twin of :func:`cms_heavy_hitters`. Shortlist = keys whose merged MG
    counter clears ``thresh − ceil(n/(k+1))`` (a true heavy hitter's
    counter can undercount by at most n/(k+1) — no false negatives,
    provided ``k+1 > 1e6/phi_ppm`` so the slack stays below the
    threshold; enforced). Pass 2 exact-counts the shortlist only
    (broadcast semi-join) and keeps rows ≥ thresh.

    Output columns are exact (the MG counter itself is partition-order-
    dependent and never surfaces); the sketch's role is pruning the key
    space, same as the CMS route. Threshold arithmetic is driver-side
    arbitrary-precision Python, the CMS convention.

    Two corpus scans, matching the CMS route's scan budget. Pass 1 is
    EAGER (one Spark job at call time, the cms_heavy_hitters
    convention — the input must be deterministic across jobs): the
    per-partition fold emits counters AND per-partition row counts
    (:func:`_mg_parts` — no separate count job), a tiny shuffle merges
    by counter addition, a second fold compresses each reduce
    partition back to ≤ k counters (merge = ADD then COMPRESS, the
    Agarwal et al. mergeable-summaries rule, so the undercount law
    still holds for the merged summary), and the driver collects
    ≤ k·shuffle-partitions rows — config-bounded, never
    corpus-size-bounded. A true heavy hitter's merged counter clears
    ``thresh − slack``, so the shortlist (≤ k terms) compiles into a
    map-side ``isin`` LITERAL and pass 2 exact-counts candidate
    occurrences only — no broadcast join, no key-space shuffle."""
    import pandas as pd

    if not 1 <= phi_ppm <= 1_000_000:
        raise ValueError(f"phi_ppm must be in [1, 1e6], got {phi_ppm}")
    if (k + 1) * phi_ppm <= 1_000_000:
        raise ValueError(
            f"k+1 = {k + 1} counters cannot guarantee φ = {phi_ppm} ppm "
            f"heavy hitters (need k+1 > 1e6/phi_ppm = {1_000_000 / phi_ppm:.0f}"
            " so the MG undercount stays below the threshold)"
        )
    parts = _mg_parts(df, col, k)
    merged = parts.groupBy("term").agg(
        F.sum("c_low").alias("c_low"), F.sum("rows").alias("rows")
    )

    def _compress(it):
        counters: dict = {}
        n_rows = 0
        for pdf in it:
            nulls = pdf["term"].isna()
            n_rows += int(pdf.loc[nulls, "rows"].sum())
            kept = pdf.loc[~nulls]
            counters = mg_fold_counts(
                counters, zip(kept["term"], kept["c_low"]), k
            )
        if counters or n_rows:
            yield pd.DataFrame(
                {
                    "term": list(counters.keys()) + [None],
                    "c_low": list(counters.values()) + [0],
                    "rows": [0] * len(counters) + [n_rows],
                }
            )

    # pass 1, ONE corpus scan, EAGER: fold → merge → compress →
    # bounded collect (≤ k rows per reduce partition + count rows)
    rows = merged.mapInPandas(_compress, schema=merged.schema).collect()
    n_total = sum(r["rows"] for r in rows if r["term"] is None)
    thresh = (n_total * phi_ppm + 999_999) // 1_000_000
    slack = (n_total + k) // (k + 1)
    cand = [r["term"] for r in rows if r["term"] is not None and r["c_low"] >= thresh - slack]
    term_type = df.schema[col].dataType.simpleString()
    if not cand:
        return df.sparkSession.createDataFrame(
            [], f"term {term_type}, n_exact bigint"
        )
    # pass 2, ONE corpus scan: map-side shortlist literal filter, exact
    # count of candidate occurrences only (map-side combined), keep
    # rows clearing the threshold
    exact = (
        df.select(F.col(col).alias("term"))
        .filter(F.col("term").isin(cand))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return exact.filter(F.col("n_exact") >= F.lit(int(thresh))).select(
        "term", "n_exact"
    )
