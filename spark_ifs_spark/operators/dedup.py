"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (it is an IFS library); these are the
first-class extensions the north star asks for, designed Spark-first:

- **exact**: one hash aggregate on the dedup key. At 100 TB: group on a
  digest of the key (not the full text) so shuffle rows are ~40 bytes.
- **n-gram Jaccard**: word n-gram shingles → inverted-index self-join on
  shingle → exact Jaccard from intersection counts. The shingle join is
  the scalable form of all-pairs similarity: candidate pairs are only
  generated for documents that *share* a shingle (no O(n²) cross join).
- **MinHash + LSH**: shingles → k universal hashes → per-band signature
  keys → bucket self-join → verify candidates with exact Jaccard. The
  band join bounds candidate generation to hash-bucket collisions, the
  standard sub-quadratic near-dup path at corpus scale.
- **SimHash**: per-token 60-bit md5 hashes, ±1 per bit position weighted
  by token multiplicity, sign → fingerprint bits. One explode + one
  aggregate; fingerprints within a small Hamming distance are near-dups.
- **embedding cosine**: see similarity.py (shared kernels).

All hashing is md5-based and engine-portable (functions/hashing.py) so
every operator has an exact DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_ifs_spark.functions.hashing import (
    MINHASH_P,
    band_key,
    md5_int60,
    minhash_params,
    universal_hash,
)


def exact_dedup(df: DataFrame, id_col: str, key_cols: list[str] | str) -> DataFrame:
    """Groups by the dedup key; returns ``(keep_id, n_dups)`` — the
    smallest id in each group and the group size.

    Scale note: grouping is on the raw key columns here for oracle
    exactness; at 100 TB swap the key for ``md5(concat_ws(...))`` first
    so the shuffle carries digests, not document bodies.
    """
    if isinstance(key_cols, str):  # a bare string would iterate per-char
        key_cols = [key_cols]
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    ).select("keep_id", "n_dups")


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, pos, w)`` — whitespace tokens with positions."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles: ``(id, sh)`` (space-joined words).

    Pure map-side array expression: ``transform(sequence(0, m-n),
    i -> array_join(slice(tokens, i+1, n)))`` with per-doc
    ``array_distinct`` — zero shuffles (asserted in ``test_plans.py``),
    where the equivalent position self-join form (the shape the SQL
    oracle still uses) shuffles the full token relation n−1 times. At
    100 TB the shingle build is a projection fused into the scan stage.
    """
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks)
    shingles = F.when(
        m >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), m - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col).alias("id"), F.explode(shingles).alias("sh"))


def _df_partition(
    sh: DataFrame, max_df: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Split a ``(id, sh)`` shingle relation into ``(rare, high)`` by
    shingle document frequency: ``rare`` carries shingles with
    ``DF ≤ max_df`` (eligible for the inverted-index join), ``high`` the
    rest. One extra hash ``groupBy`` + join over the shingle relation —
    linear work that buys out the quadratic candidate blowup a
    stop-shingle causes (~DF² pair rows). ``max_df=None`` → ``(sh,
    None)``, the uncapped original."""
    if max_df is None:
        return sh, None
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
    flagged = sh.join(dfreq, "sh")
    rare = flagged.filter(F.col("df_") <= max_df).select("id", "sh")
    high = flagged.filter(F.col("df_") > max_df).select("id", "sh")
    return rare, high


def ngram_candidates(sh: DataFrame, max_df: int | None) -> DataFrame:
    """Distinct co-shingled ``(id_a, id_b)`` candidates (``id_a < id_b``)
    from a ``(id, sh)`` shingle relation — pairs sharing ≥1 shingle with
    ``DF ≤ max_df`` (:func:`_df_partition`). Stop-shingles above the cap
    never reach the self-join, so candidacy stays sub-quadratic; scoring
    still uses every shingle (see :func:`ngram_jaccard_pairs`)."""
    rare, _ = _df_partition(sh, max_df)
    a = rare.alias("a")
    b = rare.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _exact_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise shingle-set statistics ``(id_a, id_b, i, na, nb)``
    for every unordered candidate pair (``id_a < id_b``) sharing ≥1
    shingle with ``DF ≤ max_df`` — the machinery shared by
    :func:`ngram_jaccard_pairs` and :func:`containment_pairs`; only the
    final division differs between the two set-similarity measures.

    ``i`` is EXACT over the full shingle sets: the rare-shingle
    intersection comes directly off the capped inverted-index self-join,
    and a correction counted over ONLY the high-DF postings of candidate
    pairs adds the stop-shingle overlap back (empty whenever no shingle
    exceeds the cap). Pairs whose ENTIRE overlap is stop-shingles never
    become candidates — the one documented miss class of the cap.
    """
    # the DF-flagged shingle relation feeds several consumers (both
    # self-join sides, the correction sides, sizes) — persist THAT, not
    # the bare shingles, or the dfreq+join recomputes per consumer
    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    if max_df is None:
        flagged = sh.persist()
        rare: DataFrame = flagged
        high: DataFrame | None = None
    else:
        # NOTE r14: a count-window spelling of this flag (the
        # winnow_matches cap shape) was A/B'd and reverted — it drops an
        # exchange but adds a full SORT of the string-keyed shingle
        # relation (WindowExec sorts partitions), measured net-neutral
        # at best (ngram_jaccard 2.35 -> 2.76 s, containment
        # 2.65 -> 2.21 s); the window form only wins on 8-byte hash keys
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
        flagged = sh.join(dfreq, "sh").persist()
        rare = flagged.filter(F.col("df_") <= max_df).select("id", "sh")
        high = flagged.filter(F.col("df_") > max_df).select("id", "sh")
    a = rare.alias("a")
    b = rare.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    if high is not None:
        ha = high.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        hb = high.select(F.col("id").alias("_idb"), F.col("sh").alias("sh_b"))
        corr = (
            inter.select("id_a", "id_b")
            .join(ha, "id_a")
            .join(hb, (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("i_high"))
        )
        inter = (
            inter.join(corr, ["id_a", "id_b"], "left")
            .withColumn("i", F.col("i") + F.coalesce(F.col("i_high"), F.lit(0)))
            .select("id_a", "id_b", "i")
        )
    sizes = flagged.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    sh: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with word-``n``-gram Jaccard ≥ threshold:
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Candidate pairs come from the shingle inverted index gated by a
    document-frequency cap (:func:`_exact_intersections`): only pairs
    sharing ≥1 shingle with ``DF ≤ max_df`` are scored, but scoring is
    EXACT over the full shingle sets (the high-DF correction puts the
    stop-shingle overlap back). The only pairs ever missed are those
    whose entire overlap is stop-shingles (at ``threshold ≥ 0.5`` that
    means near-duplicate boilerplate; raise ``max_df`` or use
    :func:`minhash_lsh_pairs` if those matter).
    """
    return (
        _exact_intersections(df, id_col, text_col, n, max_df, sh=sh)
        .withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
    min_sub_shingles: int = 5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-containment pairs ``(id_sub, id_sup, containment)``
    with ``containment = |S(sub) ∩ S(sup)| / |S(sub)| ≥ threshold`` and
    ``id_sub ≠ id_sup`` — the quote/subset detector: a short document
    mostly contained in a longer one scores high here while its Jaccard
    (which divides by the union) stays low, so
    :func:`ngram_jaccard_pairs` never surfaces it.

    Same scale skeleton as the Jaccard join: candidates come from the
    shingle inverted index gated by the ``max_df`` stop-shingle cap
    (only shingle digests ever shuffle, never document bodies), the
    intersection is counted ONCE per unordered candidate pair, and both
    containment directions are scored off that single count — the
    asymmetry lives in the final division, not in a second join.
    ``min_sub_shingles`` drops trivially-small contained sides (a
    2-shingle fragment is "contained" everywhere; production span-level
    containment wants substance on the contained side).

    Pairs whose entire overlap is stop-shingles (DF > ``max_df``) are
    missed, exactly as in :func:`ngram_jaccard_pairs` — at containment
    ≥ 0.8 that means boilerplate-only fragments; raise ``max_df`` if
    those matter.
    """
    scored = _exact_intersections(df, id_col, text_col, n, max_df, sh=sh)
    # both containment directions from ONE evaluation of the
    # intersection pipeline: the former fwd/rev union of two
    # projections of `scored` planned the whole shingle self-join
    # TWICE (union branches are separate physical subtrees — measured
    # 108 Exchanges vs 54 at sf0.1); an explode of the two direction
    # structs emits the identical row set off a single subtree
    both = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_sub"),
                    F.col("id_b").alias("id_sup"),
                    (F.col("i") / F.col("na")).alias("containment"),
                    F.col("na").alias("n_sub"),
                ),
                F.struct(
                    F.col("id_b").alias("id_sub"),
                    F.col("id_a").alias("id_sup"),
                    (F.col("i") / F.col("nb")).alias("containment"),
                    F.col("nb").alias("n_sub"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return (
        both.filter(
            (F.col("containment") >= threshold)
            & (F.col("n_sub") >= min_sub_shingles)
        )
        .select("id_sub", "id_sup", "containment")
    )


#: signature bins for the edit-distance L1 prefilter: 13 letter pairs +
#: space; the catch-all bin (len − Σ matches) absorbs every other char,
#: so the binning is total and the 1-edit→≤2-L1 bound holds for any text
_EDIT_SIG_CLASSES = [
    "[ab]", "[cd]", "[ef]", "[gh]", "[ij]", "[kl]", "[mn]",
    "[op]", "[qr]", "[st]", "[uv]", "[wx]", "[yz]", " ",
]


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 16,
    len_band: int = 16,
    len_col: str | None = None,
) -> DataFrame:
    """All document pairs within Levenshtein distance ``max_dist``:
    ``(id_a, id_b, dist)`` with ``id_a < id_b`` — fuzzy dedup for
    short-ish text (titles, questions, boilerplate variants) where
    token-set Jaccard is too coarse.

    Scale shape — length-band blocking instead of a cross join: edit
    distance ≥ |len(a) − len(b)|, so only pairs within ``len_band``
    chars of each other can match (requires ``len_band ≥ max_dist``;
    asserted). Each doc lands in bucket ``len // len_band``, the right
    side is emitted into its own and its successor bucket, and the
    equi-join on bucket produces every in-band pair at least once; the
    orientation is then normalized to ``id_a < id_b`` and deduped AFTER
    the distance filter, so the distinct runs on the (tiny) match set,
    never on candidates. The Levenshtein itself is Spark's built-in
    JVM implementation WITH the threshold argument — banded O(d·n)
    early-exit, not the O(n²) full matrix — and the join carries
    ``(id, len, text)`` only.
    """
    assert len_band >= max_dist, (
        f"len_band={len_band} < max_dist={max_dist} would miss pairs whose "
        "length difference exceeds the band"
    )
    length = (
        F.col(len_col) if len_col is not None else F.length(F.col(text_col))
    ).cast("long")
    # Character-class histogram, one regexp_count per class (whole-stage
    # codegen; the earlier zip_with/aggregate HOF form was interpreted
    # per element). Every char falls in exactly ONE bin (13 letter
    # pairs, space, catch-all = len − Σ others), so a unit edit moves at
    # most 2 units of L1 mass between histograms: L1(a, b) > 2·max_dist
    # proves dist > max_dist — a flat-int per-pair rejection that spares
    # the O(d·n) levenshtein on the (dominant) non-matching candidates.
    # Conservative bound: no match is ever dropped, oracle unchanged.
    nclasses = len(_EDIT_SIG_CLASSES)
    proj = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        length.alias("len"),
        (length / len_band).cast("long").alias("bucket"),
        *[
            F.regexp_count(F.col(text_col), F.lit(c)).alias(f"h{i}")
            for i, c in enumerate(_EDIT_SIG_CLASSES)
        ],
    )
    rest = F.col("len")
    for i in range(nclasses):
        rest = rest - F.col(f"h{i}")
    proj = proj.withColumn(f"h{nclasses}", rest)
    # Materialization barrier: without it, CollapseProject fuses the
    # signature projection into the join stage and the regexp scans
    # re-evaluate PER CANDIDATE PAIR (measured 5x end-to-end slowdown —
    # the candidate relation is ~200x larger than the corpus here). A
    # cardinality-preserving aggregate on the unique id is a barrier
    # Catalyst cannot collapse through; it costs one corpus-scale
    # shuffle of signature rows, and unlike .cache() retains nothing in
    # executor storage after the stage completes.
    sig_cols = ["txt", "len", "bucket"] + [f"h{i}" for i in range(nclasses + 1)]
    # PRECONDITION: ids must be unique — the barrier would otherwise
    # collapse duplicate-id rows to one arbitrary text. Enforced
    # JVM-side at execution (count per id rides the same aggregate;
    # assert_true raises mid-stage, costing one extra count cell).
    base = proj.groupBy("id").agg(
        *[F.first(c).alias(c) for c in sig_cols],
        F.count(F.lit(1)).alias("_idn"),
    ).where(
        F.assert_true(
            F.col("_idn") == 1,
            F.concat(
                F.lit("edit_distance_pairs requires unique ids; id "),
                F.col("id").cast("string"),
                F.lit(" appears more than once"),
            ),
        ).isNull()
    ).drop("_idn")
    left = base
    right = base.select(
        F.col("id").alias("rid"),
        F.col("txt").alias("rtxt"),
        F.col("len").alias("rlen"),
        *[F.col(f"h{i}").alias(f"rh{i}") for i in range(nclasses + 1)],
        F.explode(
            F.array(F.col("bucket"), F.col("bucket") + 1)
        ).alias("bucket"),
    )
    l1 = None
    for i in range(nclasses + 1):
        term = F.abs(F.col(f"h{i}") - F.col(f"rh{i}"))
        l1 = term if l1 is None else l1 + term
    cand = left.join(right, "bucket").filter(
        (F.col("id") != F.col("rid"))
        & (F.abs(F.col("len") - F.col("rlen")) <= len_band)
        & (l1 <= 2 * max_dist)
    )
    scored = cand.select(
        F.least(F.col("id"), F.col("rid")).alias("id_a"),
        F.greatest(F.col("id"), F.col("rid")).alias("id_b"),
        F.levenshtein(F.col("txt"), F.col("rtxt"), max_dist).alias("dist"),
    ).filter(F.col("dist") >= 0)  # threshold form returns -1 past max_dist
    return scored.distinct()


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16, seed: int = 42
) -> DataFrame:
    """``(id, i, minh)`` — MinHash signature rows from a ``(id, sh)``
    shingle relation. One explode over the (small, constant) hash-param
    array + one min aggregate."""
    params = minhash_params(num_hashes, seed)
    sh_int = sh.select("id", md5_int60(F.col("sh")).alias("x"))
    hash_arr = F.array(
        *[
            F.struct(F.lit(i).alias("i"), universal_hash(F.col("x"), a, b).alias("h"))
            for i, (a, b) in enumerate(params)
        ]
    )
    return (
        sh_int.select("id", F.explode(hash_arr).alias("ih"))
        .groupBy("id", F.col("ih.i").alias("i"))
        .agg(F.min("ih.h").alias("minh"))
    )


def _lsh_bands(
    sh: DataFrame, num_hashes: int, rows_per_band: int, seed: int
) -> DataFrame:
    """``(id, band, bkey)`` — per-band signature keys from a shingle
    relation."""
    sig = minhash_signatures(sh, num_hashes, seed)
    return sig.groupBy(
        "id", (F.col("i") / rows_per_band).cast("int").alias("band")
    ).agg(
        (
            F.sum(band_key(F.col("minh"), F.col("i") % rows_per_band))
            % MINHASH_P
        ).alias("bkey")
    )


def _jaccard_verify(
    cand: DataFrame,
    sh_left: DataFrame,
    sh_right: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over ``(id_a, id_b)`` candidates, left/right ids
    resolved against their own shingle relations (identical relations
    for self-join dedup, distinct ones for cross-corpus)."""
    sa = sh_left.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh_right.select(F.col("id").alias("_idb"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sh_left.groupBy("id").agg(F.count(F.lit(1)).alias("na")).select(
        F.col("id").alias("id_a"), "na"
    )
    nb = sh_right.groupBy("id").agg(F.count(F.lit(1)).alias("nb")).select(
        F.col("id").alias("id_b"), "nb"
    )
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard:
    ``(id_a, id_b, jaccard)``, ``id_a < id_b``, Jaccard ≥ threshold.
    Pick ``num_hashes``/``rows_per_band`` for a target recall and
    candidate budget with
    :func:`~spark_ifs_spark.functions.hashing.plan_minhash_lsh`.

    LSH prunes candidate generation: only documents whose signatures
    collide in ≥1 band are compared. With b bands of r rows the detect
    probability is ``1−(1−j^r)^b`` — defaults (8 bands × 2) catch
    j ≥ 0.5 with p ≈ 0.9, j ≥ 0.8 with p ≈ 0.9998.

    ``max_bucket`` is the giant-cluster skew guard: a k-copy template
    document puts all k copies in ONE band bucket in EVERY band, and
    the self-join then emits O(bands × k²) candidates — at corpus scale
    a single hot template can dominate the whole job. With the cap set,
    band buckets holding more than ``max_bucket`` signatures are
    dropped before the join. Policy: recall degrades ONLY inside
    over-full buckets, and a bucket that large means an exact-duplicate
    or template cluster — collapse those first with the O(n) digest
    paths (:func:`exact_duplicates` / :func:`duplicate_spans`), which
    is both cheaper and recall-complete for them; pairs that also
    collide in a non-full band are still found here.

    ``sh`` optionally injects a prebuilt ``(id, sh)`` relation that
    must row-equal ``word_shingles(df, id_col, text_col, n)`` (the
    registry's session-staged build); ``df`` is then unused. An injected
    relation is persisted here and never unpersisted: the cached copy
    stays until the caller unpersists it or the session ends.
    """
    # persist: consumed by signatures, sizes, and both verify join sides
    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    sh = sh.persist()
    bands = _lsh_bands(sh, num_hashes, rows_per_band, seed)
    if max_bucket is not None:
        sizes = bands.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        bands = bands.join(
            sizes.filter(F.col("_bn") <= int(max_bucket)), ["band", "bkey"]
        ).drop("_bn")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verify(cand, sh, sh, threshold)


def minhash_lsh_pairs_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    seed: int = 42,
    sh_new: DataFrame | None = None,
    sh_corpus: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingestion dedup: near-dup pairs of NEW documents
    against an EXISTING corpus — ``(id_a, id_b, jaccard)`` with ``id_a``
    from ``new_df``, ``id_b`` from ``corpus_df``.

    The corpus is never self-joined: candidates are only new×corpus
    band collisions, so each ingested batch pays its own signature cost
    plus the collision join — at 100 TB the corpus-side bands are
    computed once and persisted (e.g. ``sinks.write_bucketed`` on the
    band key, making the per-batch collision join exchange-free on the
    corpus side), which is the standard incremental dedup layout.
    Hash/band parameters must match the corpus's stored signatures.

    ``sh_new`` / ``sh_corpus`` optionally inject prebuilt ``(id, sh)``
    relations that must row-equal ``word_shingles`` of the respective
    side (the registry filters its session-staged corpus build); the
    matching ``*_df`` argument is then unused. Injected relations are
    persisted here and never unpersisted: the cached copies stay until
    the caller unpersists them or the session ends.
    """
    if sh_new is None:
        sh_new = word_shingles(new_df, id_col, text_col, n)
    if sh_corpus is None:
        sh_corpus = word_shingles(corpus_df, id_col, text_col, n)
    sh_new = sh_new.persist()
    sh_cor = sh_corpus.persist()
    bn = _lsh_bands(sh_new, num_hashes, rows_per_band, seed).alias("a")
    bc = _lsh_bands(sh_cor, num_hashes, rows_per_band, seed).alias("b")
    cand = (
        bn.join(
            bc,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verify(cand, sh_new, sh_cor, threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """60-bit SimHash fingerprints: ``(id, simhash)``.

    Token multiplicity weights each token's ±1 vote per bit position.
    Plan shape: tokenize → md5-int → ONE hash aggregate carrying
    ``bits`` conditional-sum buffers (one per bit position), then a
    map-side fold of the vote signs into the fingerprint. Each token row
    is touched once — no per-bit row explosion — and the per-bit sums
    combine map-side, so the shuffle carries one ``bits``-wide row per
    document. Differential-tested against :func:`simhash_explode` (the
    declarative per-bit-row form the DuckDB oracle mirrors).
    """
    toks = tokenize(df, id_col, text_col).select("id", md5_int60(F.col("w")).alias("h"))
    # each of the bits vote buffers and the fingerprint fold is parsed
    # from ONE SQL string: the Column-API spelling issued ~12 driver-
    # blocking py4j calls per bit (~1.5 s of pure construction overhead
    # per run at bits=60) for the identical expression values — the
    # ivf.cell_expr / all_pairs_mi lesson applied here
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return votes.select("id", F.expr(fp_sql).alias("simhash"))


def simhash_explode(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """Declarative per-bit-row SimHash — the shape the DuckDB oracle
    uses (explode bit positions → two hash aggregates). Multiplies the
    token relation by ``bits``; kept as the differential-test twin of
    the production :func:`simhash` plan, not for corpus-scale use.
    """
    toks = tokenize(df, id_col, text_col).select("id", md5_int60(F.col("w")).alias("h"))
    # shiftright/shiftleft builtins take a literal shift; use expr for a
    # column-valued shift
    votes = (
        toks.select("id", "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"))
        .withColumn("vote", F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1))
        .groupBy("id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_near_pairs(fingerprints: DataFrame, max_hamming: int = 3, bits: int = 60, prefix_bits: int = 15) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Scale path: block on ``prefix_bits``-bit prefixes (a near-dup pair
    collides on ≥1 of the 4 prefix blocks when max_hamming ≤ 3 — the
    standard simhash pigeonhole trick) instead of an O(n²) cross join.
    """
    blocks = 4
    per = bits // blocks
    fp = fingerprints
    exploded = fp.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
    ).withColumn(
        "bkey",
        F.expr(f"(simhash >> (blk * {per})) & {(1 << per) - 1}"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 16,
) -> DataFrame:
    """``(id, text)`` with every non-first occurrence of each
    ``span_words``-word span removed corpus-wide — the line/paragraph
    exact-dedup stage of C4/RefinedWeb with the dedup unit parameterized
    as fixed-width, non-overlapping word spans (this corpus has no
    newline structure). "First" is the lowest ``(id, position)``;
    documents whose every span loses are dropped entirely (C4 drops
    emptied documents).

    Plan — span text never rides a shuffle:

    1. map-side: split → per-span 60-bit md5 digests → ``(h, id, pos)``
       triples (~20 bytes/span);
    2. one digest-keyed aggregate picks each span's winner with
       ``min(struct(id, pos))`` — no sort, no window;
    3. winners regroup to ``(id, sorted kept positions)`` — ints only;
    4. one id-keyed join back to the *document* relation (each doc rides
       that shuffle once, not once per span); the surviving text is
       rebuilt map-side by slicing the split array at the kept
       positions.

    Hashing is the engine-portable md5 scheme (``functions/hashing.py``)
    so the DuckDB oracle replicates winner selection exactly; a 60-bit
    digest collision would merge two distinct spans — at ~2^30 distinct
    spans per birthday bound, widen to the full md5 if a corpus
    approaches that.
    """
    w = span_words
    if w <= 0:
        raise ValueError("span_words must be > 0")
    words = F.split(F.col(text_col), " ")
    nspans = F.ceil(F.size(words) / F.lit(w)).cast("int")
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nspans - 1),
                lambda p: md5_int60(
                    F.array_join(F.slice(words, p * w + 1, w), " ")
                ),
            )
        ).alias("pos", "h"),
    )
    winners = spans.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("w")
    )
    keep_pos = (
        winners.select(F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_kp"))
    )
    doc_words = F.split(F.col("_text"), " ")
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
        .join(keep_pos, "id")
        .select(
            F.col("id").alias(id_col),
            F.array_join(
                F.transform(
                    F.col("_kp"),
                    lambda p: F.array_join(
                        F.slice(doc_words, p * w + 1, w), " "
                    ),
                ),
                " ",
            ).alias(text_col),
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with word-``n``-gram-SET Jaccard ≥ threshold:
    ``(id_a, id_b, jaccard)``, ``id_a < id_b`` — EXACT and LOSSLESS via
    prefix filtering (the AllPairs/PPJoin family, Bayardo et al. WWW'07;
    Xiao et al. WWW'08), the deterministic complement to
    :func:`minhash_lsh_pairs` (probabilistic recall) and
    :func:`ngram_jaccard_pairs` (whose DF cap can drop
    all-stop-shingle overlaps).

    Why it is lossless: order every shingle digest by the global total
    order (document frequency asc, digest asc) and keep only each set's
    first ``|x| − ceil(t·|x|) + 1`` digests as its *prefix*. For any
    pair with J ≥ t the intersection has ``i ≥ t·max(|x|,|y|)``
    (from ``i ≥ t(|x|+|y|−i)`` and ``i ≤ min``), so fewer than the
    suffix-length commons can hide outside either prefix — the
    globally-smallest common digest lies in BOTH prefixes, and the
    prefix inverted-index join finds every qualifying pair. Candidates
    are then verified with the exact intersection.

    Scale posture: only 60-bit digests shuffle (shingle text never
    leaves the scan stage); the candidate join touches ~(1−t) of each
    posting list instead of all of it, and the size filter
    ``min ≥ ceil(t·max)`` prunes length-incompatible pairs before
    verification. At t = 0.9 the prefix is a tenth of each set — the
    high-threshold regime where this beats both the full inverted index
    (t-independent) and minhash (recall < 1)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    # four consumers (df counts, per-doc ranking, both verify sides) —
    # persist the digest relation once, same pattern as
    # ngram_jaccard_pairs' flagged relation
    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    sh = sh.select("id", md5_int60(F.col("sh")).alias("h")).persist()
    dfq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
    t = float(threshold)
    ranked = (
        sh.join(dfq, "h")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df_"), F.col("h")))
            ).alias("arr"),
            F.count(F.lit(1)).alias("nsh"),
        )
    )
    plen = (F.col("nsh") - F.ceil(F.col("nsh") * t) + 1).cast("int")
    prefix = ranked.select(
        "id",
        "nsh",
        F.explode(F.slice(F.col("arr"), F.lit(1), plen)).alias("e"),
    ).select("id", "nsh", F.col("e.h").alias("h"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .where(
            F.least(F.col("a.nsh"), F.col("b.nsh"))
            >= F.ceil(F.greatest(F.col("a.nsh"), F.col("b.nsh")) * t)
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.nsh").alias("na"),
            F.col("b.nsh").alias("nb"),
        )
        .distinct()
    )
    ta = sh.select(F.col("id").alias("id_a"), "h")
    tb = sh.select(F.col("id").alias("id_b"), "h")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "h"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.withColumn(
            "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        )
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_substring_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_run_tokens: int = 16,
) -> DataFrame:
    """``(id, start_tok, run_tokens)`` — every MAXIMAL run of consecutive
    token positions whose overlapping ``k``-token shingle occurs at least
    twice corpus-wide, kept when the covered span is at least
    ``min_run_tokens`` tokens. This is the substring-level duplicate
    *detector* of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", ExactSubstr) re-expressed relationally:
    where their suffix array finds duplicated substrings >= L chars, we
    find duplicated token runs >= ``min_run_tokens`` as islands of
    duplicated overlapping shingles — the shingle gives 1-token
    resolution (unlike ``span_dedup``'s non-overlapping spans, which
    miss duplicates that straddle span boundaries). Any second
    occurrence counts (another document OR another position in the same
    document), matching ExactSubstr.

    Plan — shingle text never rides a shuffle:

    1. map-side: overlapping per-position 60-bit digests → ``(h, id,
       pos)`` triples;
    2. one digest-keyed count picks duplicated digests (partial
       aggregation map-side), a shuffle join on ``h`` flags duplicated
       positions — both sides are hash-partitioned on ``h``, no
       broadcast assumption about the duplicate-set size;
    3. gaps-and-islands per document (``pos - row_number()`` over the
       per-id window; skew is bounded by document length, the same
       bound every per-doc window in this package carries);
    4. only ``(id, pos)`` int pairs of *duplicated* positions reach the
       window — typically a small fraction of the corpus.

    A 60-bit digest collision would flag a unique shingle as duplicated;
    same birthday bound as ``span_dedup`` (widen past ~2^30 distinct
    shingles)."""
    if k <= 0:
        raise ValueError("k must be > 0")
    words = F.split(F.col(text_col), " ")
    npos = F.size(words) - F.lit(k - 1)
    shingles = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.when(
                npos > 0,
                F.transform(
                    F.sequence(F.lit(0), npos - 1),
                    lambda p: md5_int60(F.array_join(F.slice(words, p + 1, k), " ")),
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("pos", "h"),
    )
    dup = shingles.groupBy("h").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") >= 2)
    flagged = shingles.join(dup, "h", "left_semi")
    grp = F.col("pos") - F.row_number().over(
        Window.partitionBy("id").orderBy("pos")
    )
    return (
        flagged.select("id", "pos", grp.alias("g"))
        .groupBy("id", "g")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("run_tokens"),
        )
        .where(F.col("run_tokens") >= min_run_tokens)
        .select(F.col("id").alias(id_col), "start_tok", "run_tokens")
    )


def contaminated_ids(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """``(id)`` — corpus documents sharing ≥1 word ``n``-gram with the
    eval set (benchmark decontamination, the n-gram-overlap rule used
    for pretraining-set hygiene; n≈8-13 words in published recipes).

    Plan: both sides build shingles map-side (:func:`word_shingles`,
    zero shuffles), the eval side is deduplicated and BROADCAST (an
    eval suite is small by definition — if it ever isn't, the semi-join
    degrades gracefully to a shuffle join), and a left-semi join keeps
    each corpus id at most once. No pair materialization, no counts —
    contamination is a membership test, so the join short-circuits at
    the first matching shingle.
    """
    corpus_sh = word_shingles(corpus, id_col, text_col, n)
    eval_sh = (
        word_shingles(eval_set, id_col, text_col, n).select("sh").distinct()
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), "sh", "leftsemi")
        .select("id")
        .distinct()
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    fp_col: str,
) -> DataFrame:
    """``(id, status)`` over two corpus snapshots: ``added`` (id only in
    ``new``), ``removed`` (only in ``old``), ``changed`` (both, content
    fingerprint differs), ``unchanged`` — the snapshot diff that decides
    what an incremental pipeline run must reprocess (changed ∪ added)
    and retract (removed).

    Plan: ONE full-outer shuffle join on the id over (id, fingerprint)
    projections — content never rides the join, only digests (compute
    ``fp_col`` with :func:`~spark_ifs_spark.operators.textstats.
    fingerprint` upstream so the shuffled rows are two small columns).
    Both sides co-partition on the id, so snapshots maintained with the
    bucketed sink diff with no Exchange at all.
    """
    o = old.select(F.col(id_col).alias("id"), F.col(fp_col).alias("_fp_old"))
    n = new.select(F.col(id_col).alias("id"), F.col(fp_col).alias("_fp_new"))
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("id", status.alias("status"))


def contamination_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """``(id, n_shingles, n_hit, overlap_ppm)`` — per-document n-gram
    contamination *fraction* against a held-out eval set, the graded
    form of :func:`contaminated_ids` (published recipes threshold this
    fraction rather than any-overlap: a doc quoting one eval sentence
    differs from a verbatim eval copy).

    ``overlap_ppm = floor(n_hit * 1e6 / n_shingles)`` — integer
    parts-per-million so per-document values are exact on both engines
    (no double division inside an aggregate).

    Plan: corpus shingles are distinct per doc map-side
    (:func:`word_shingles`), the deduplicated eval side is BROADCAST,
    and the membership flag rides a broadcast LEFT join — the corpus is
    scanned once, nothing corpus-scale shuffles except the per-doc
    count aggregate keyed on the id. Same 100 TB posture as
    :func:`contaminated_ids`; docs shorter than ``n`` words have no
    shingles and drop out (no 0/0 row).
    """
    corpus_sh = word_shingles(corpus, id_col, text_col, n)
    eval_sh = (
        word_shingles(eval_set, id_col, text_col, n)
        .select("sh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    agg = (
        corpus_sh.join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return agg.select(
        "id",
        "n_shingles",
        "n_hit",
        F.floor(F.col("n_hit") * F.lit(1000000) / F.col("n_shingles")).alias(
            "overlap_ppm"
        ),
    )


def normalize_text(col: Column) -> Column:
    """Canonical text form for normalization-robust exact dedup:
    lowercase, strip every non-alphanumeric/space character, collapse
    whitespace runs, trim. Regexes are RE2/Java-portable (character
    classes only) so DuckDB's ``regexp_replace(..., 'g')`` produces the
    identical string and the oracle stays exact."""
    x = F.lower(col)
    x = F.regexp_replace(x, "[^a-z0-9 ]", "")
    x = F.regexp_replace(x, " +", " ")
    return F.trim(x)


def exact_dedup_normalized(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(keep_id, n_dups, norm_digest)`` — exact dedup after
    :func:`normalize_text` (catches the near-universal web-dup case:
    same body, different case/punctuation/whitespace).

    Plan: normalization is a map-side projection fused into the scan;
    the group key is a 60-bit md5 digest of the normalized text, so the
    ONE shuffle this query has carries ~16-byte keys, never document
    bodies — this is the digest-key swap :func:`exact_dedup`'s docstring
    defers to, made the default here because normalized text is exactly
    the case where bodies are large and keys collide often.
    """
    norm = normalize_text(F.col(text_col))
    keyed = df.select(
        F.col(id_col).alias("id"), md5_int60(norm).alias("norm_digest")
    )
    return (
        keyed.groupBy("norm_digest")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups", "norm_digest")
    )


#: driver-side budget for the eval-shingle collect in
#: :func:`contaminated_ids_bloom` — 20M distinct shingles × 8 bytes is
#: 160 MB of int64 on the driver, a comfortable ceiling for any real
#: eval suite (MMLU+BBH+HumanEval-scale suites are < 1M shingles).
BLOOM_EVAL_BUDGET = 20_000_000


def _bloom_build(hashes, fp_rate: float):
    """Build a Bloom bitset over int64 hashes → ``(bits, m, k)``.

    Standard sizing: ``m = -n·ln(p)/ln(2)²`` bits, ``k = (m/n)·ln 2``
    probe functions, double hashing ``idx_j = h1 + j·h2 (mod m)`` from
    the two 32-bit halves of each 64-bit hash (Kirsch-Mitzenmacher).
    Pure numpy — no dependency beyond what Spark itself ships.
    """
    import math

    import numpy as np

    n = max(len(hashes), 1)
    m = max(64, int(math.ceil(-n * math.log(fp_rate) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    h1 = h >> np.uint64(32)
    h2 = h & np.uint64(0xFFFFFFFF)
    for j in range(k):
        idx = (h1 + np.uint64(j) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    return bits, m, k


def _bloom_might_contain(bits, m: int, k: int):
    """Vectorized membership test over an int64-hash numpy array."""
    import numpy as np

    def test(h64):
        h = np.asarray(h64, dtype=np.int64).view(np.uint64)
        h1 = h >> np.uint64(32)
        h2 = h & np.uint64(0xFFFFFFFF)
        ok = np.ones(len(h), dtype=bool)
        for j in range(k):
            idx = (h1 + np.uint64(j) * h2) % np.uint64(m)
            byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
            ok &= (byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return ok

    return test


def contaminated_ids_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    fp_rate: float = 0.01,
) -> DataFrame:
    """``(id)`` — exact n-gram decontamination for the regime where the
    eval set is too large to broadcast as a set: a Bloom filter over the
    eval shingles prefilters the corpus map-side, then a shuffle
    semi-join on the surviving shingles confirms exactly.

    Why not :func:`contaminated_ids`? That path broadcasts the eval
    shingle SET — fine to a few hundred MB. Past that, the exact set
    doesn't fit on executors but its Bloom sketch does (~12 MB per 10M
    shingles at 1% FP): the sketch is built once (distributed xxhash64,
    one budget-gated driver collect of int64s), broadcast, and applied
    as an Arrow-batched pandas predicate INSIDE the scan stage — ~99%
    of corpus shingles die before the shuffle. The semi-join then only
    moves the ≤(true ∪ 1% FP) survivors, and because it is an EXACT
    join the Bloom's false positives never reach the result: output is
    bit-identical to the broadcast path, so the DuckDB oracle is the
    plain n-gram-overlap SQL. At 100 TB the shuffle shrinks from the
    full shingle relation to ~contamination-rate × corpus.
    """
    from pyspark.sql.functions import pandas_udf

    eval_sh = (
        word_shingles(eval_set, id_col, text_col, n).select("sh").distinct()
    )
    hashed = eval_sh.select(F.xxhash64("sh").alias("h"))
    n_sh = hashed.count()
    if n_sh > BLOOM_EVAL_BUDGET:
        # explicit raise, not assert: the budget must hold under
        # `python -O` too — it gates an unbounded driver-side collect
        raise ValueError(
            f"eval shingle count {n_sh} exceeds BLOOM_EVAL_BUDGET "
            f"{BLOOM_EVAL_BUDGET}; shard the eval set and union the results"
        )
    hashes = [r["h"] for r in hashed.collect()]
    bits, m, k = _bloom_build(hashes, fp_rate)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((bits, m, k))

    @pandas_udf("boolean")
    def might_contain(h: pd.Series) -> pd.Series:
        b, mm, kk = bc.value
        return pd.Series(_bloom_might_contain(b, mm, kk)(h.to_numpy()))

    corpus_sh = word_shingles(corpus, id_col, text_col, n)
    pre = corpus_sh.withColumn("h", F.xxhash64("sh")).filter(
        might_contain(F.col("h"))
    )
    return (
        pre.join(eval_sh, "sh", "leftsemi")  # exact confirm — FPs die here
        .select("id")
        .distinct()
    )


def substring_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_run_tokens: int = 16,
) -> DataFrame:
    """``(id, n_tokens, n_removed, clean_digest)`` — the REMOVAL half of
    ExactSubstr dedup (Lee et al. 2022): cut every token covered by a
    duplicated run (:func:`duplicate_substring_runs`) and re-emit the
    cleaned document, reported as token counts plus a 60-bit digest of
    the cleaned text (the value-hashable stand-in for shipping bodies
    through the gate). Documents with no duplicated runs pass through
    with ``n_removed = 0``; a fully-duplicated document cleans to the
    empty string.

    Adjacent maximal islands can cover OVERLAPPING token spans (islands
    are separated in shingle space by >= 1 position, which is < k
    tokens), so removal counts come from the kept-token set — never
    from summing interval lengths.

    Plan: the runs relation aggregates to one interval-array row per
    affected document (runs-bounded, usually a small fraction of the
    corpus) and joins back on id; token filtering is a map-side HOF
    over the split array (``filter`` + ``exists`` — whole-stage
    codegen, no per-token shuffle, bodies never ride an exchange).
    """
    runs = duplicate_substring_runs(df, id_col, text_col, k, min_run_tokens)
    iv = runs.groupBy(F.col(id_col).alias("id")).agg(
        F.sort_array(
            F.collect_list(F.struct("start_tok", "run_tokens"))
        ).alias("ivs")
    )
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    joined = base.join(iv, "id", "left")
    toks = F.split(F.col("_t"), " ")
    idx = F.transform(toks, lambda w, i: F.struct(w.alias("w"), i.alias("i")))
    ivs = F.coalesce(
        F.col("ivs"),
        F.array().cast("array<struct<start_tok:int,run_tokens:int>>"),
    )
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            ivs,
            lambda v: (s["i"] >= v["start_tok"])
            & (s["i"] < v["start_tok"] + v["run_tokens"]),
        ),
    )
    clean = F.array_join(F.transform(kept, lambda s: s["w"]), " ")
    return joined.select(
        "id",
        F.size(toks).alias("n_tokens"),
        (F.size(toks) - F.size(kept)).alias("n_removed"),
        md5_int60(clean).alias("clean_digest"),
    )


def _winnow_base(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """``(id, hs, nsh, sel)`` — positional k-gram hashes plus the
    winnowing-selected position array (rightmost-tie robust
    convention), as one scan-fused array expression. Shared by
    :func:`winnow_fingerprints` (per-doc digest) and
    :func:`winnow_matches` (cross-doc pair detection)."""
    toks = F.split(F.col(text_col), " ")
    n_sh = F.size(toks) - k + 1
    hs = F.when(
        n_sh > 0,
        F.transform(
            F.sequence(F.lit(0), n_sh - 1),
            lambda j: md5_int60(F.array_join(F.slice(toks, j + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<long>"))
    base = df.select(
        F.col(id_col).alias("id"), hs.alias("hs"), F.greatest(n_sh, F.lit(0)).alias("nsh")
    )
    nsh = F.col("nsh")
    hsc = F.col("hs")
    w = window
    argmin_pos = lambda i: -F.array_min(  # noqa: E731
        F.transform(
            F.sequence(i, F.least(i + w - 1, nsh - 1)),
            lambda j: F.struct(
                F.element_at(hsc, j + 1).alias("h"), (-j).alias("np")
            ),
        )
    )["np"]
    sel = F.when(
        nsh > 0,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(nsh - w, F.lit(0))),
                    argmin_pos,
                )
            )
        ),
    ).otherwise(F.array().cast("array<int>"))
    return base.select("id", "hs", "nsh", sel.alias("sel"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """``(id, n_shingles, n_fps, fp_md5)`` — WINNOWING document
    fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
    algorithm): hash every positional ``k``-gram, slide a ``window``
    over the hash sequence, and select each window's minimal hash
    (ties: rightmost — the robust-winnowing convention). The selected
    ``(pos, hash)`` set is the fingerprint; winnowing guarantees any
    shared substring of at least ``window + k - 1`` tokens contributes
    a shared fingerprint, at ~``2/(window+1)`` selection density —
    local fingerprinting with a matched detection guarantee, unlike
    the global rolling hash of ``textstats.fingerprint``.

    Plan: one pure map-side array expression per document — positional
    shingle hashes, windowed argmin via nested ``transform``/
    ``array_min`` over struct ``(h, -pos)``, distinct selected
    positions, digest — fused into the scan, zero shuffles (the
    ``word_shingles`` property; asserted in ``test_plans.py``). At
    100 TB this is a projection; matching fingerprints across
    documents is then a digest-keyed join exactly like the shingle
    dedup family (see :func:`winnow_matches`).
    """
    base = _winnow_base(df, id_col, text_col, k, window)
    hsc = F.col("hs")
    fps = F.array_join(
        F.transform(
            F.col("sel"),
            lambda p: F.concat(
                p.cast("string"), F.lit(":"), F.element_at(hsc, p + 1).cast("string")
            ),
        ),
        ",",
    )
    return base.select(
        "id",
        F.col("nsh").cast("int").alias("n_shingles"),
        F.size("sel").alias("n_fps"),
        F.md5(fps).alias("fp_md5"),
    )


def winnow_matches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_hash_docs: int = 64,
) -> DataFrame:
    """``(id_a, id_b, n_shared)`` — document pairs sharing at least
    ``min_shared`` winnowing-selected fingerprint hashes: the MOSS
    cross-document match step over :func:`winnow_fingerprints`'s local
    selection. Because winnowing guarantees a selected hash inside any
    shared run of ``window + k − 1`` tokens, a pair's ``n_shared``
    lower-bounds its count of distinct shared long substrings — local
    overlap detection (quotes, boilerplate, partial plagiarism) where
    MinHash sees only whole-document similarity.

    Plan: the scan-fused selection projection, then EXPLODE only the
    selected hashes (~``2/(window+1)`` of shingles — the winnowing
    economy vs joining all shingles), one digest-keyed
    document-frequency aggregate dropping hashes in more than
    ``max_hash_docs`` docs (boilerplate guard — it caps the join
    fan-out per hash exactly like the MinHash band ``max_bucket``
    cap), and a hash-keyed self-join + pair count. Document bodies
    never ride an exchange; only ``(hash, id)`` pairs shuffle.
    """
    base = _winnow_base(df, id_col, text_col, k, window)
    hsc = F.col("hs")
    sel_h = base.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(F.col("sel"), lambda p: F.element_at(hsc, p + 1))
            )
        ).alias("h"),
    )
    # document-frequency cap as ONE window pass over the h-partitioned
    # relation instead of a groupBy + join-back (identical kept rowset;
    # the self-join below consumes the same h-partitioning, so the cap
    # adds no exchange of its own)
    kept = (
        sel_h.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("_df") <= max_hash_docs)
        .select("id", "h")
    )
    a = kept.select(F.col("id").alias("id_a"), "h")
    b = kept.select(F.col("id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
