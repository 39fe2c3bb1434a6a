"""Approximate kNN-graph construction: IVF-seeded NN-descent.

The bounded-degree kNN graph is the curation primitive that graph-based
dedup, diversity sampling and label propagation all consume. Exact
construction is an n² all-pairs join — the one shape this package never
ships — so the graph is built approximately, NN-DESCENT style (Dong,
Moses & Li, WWW 2011: "Efficient k-nearest neighbor graph construction
for generic similarity measures"): start from cheap locality seeds,
then repeatedly propose each node's *neighbors-of-neighbors* as
candidates and keep the best k. Every round is a BOUNDED self-join on
the current edge list — never all-pairs:

- **seeds**: (a) all pairs within an IVF cell (deterministic seed
  centroids — the ``num_centroids`` smallest ids, the package's
  ``ivf.seed_centroids`` convention), the
  locality boost; and (b) a deterministic stand-in for NN-descent's
  random init: a ring over ``row_number`` positions *within hash
  groups* (``id % groups``), so the window is group-bounded — no
  corpus-wide single-task window — and every node starts with ≥
  ``min(k, group_size − 1)`` edges even when alone in its cell.
- **rounds**: ``B = E ∪ top-K(reverse(E))`` (the reverse cap keeps a
  hub's in-degree from exploding the join — ≤ 2K out-edges per node),
  candidates = co-neighbors ``{(x.nb, y.nb) : x.id = y.id}`` ∪ B ∪
  reverse(B), dedup, re-score, keep top-K per node. Per-round work is
  O(n·(2K)²) candidate scorings by construction.
- **working degree**: the descent runs at an internal degree
  ``K = work_degree`` (default ``4·k``) and only the final top-``k``
  edges are emitted. On weakly-clustered data (synthetic embeddings,
  cosine ≈ 0.25 everywhere) neighbor-of-neighbor transitivity at
  degree k is too thin to climb out of the seed neighborhood —
  measured recall@4: 500 nodes (sf0.001) 28% at K = k, 69% at K = 3k,
  92% at K = 4k (3 rounds); 2000 nodes (sf0.1) 55% at K = 4k/3r, 65%
  at 4k/4r, 73% at 5k/3r, 84% at 5k/4r. The registry gates K = 5k,
  3 rounds. The K ≫ k descent is the standard NN-descent practice
  (pynndescent runs at K ≈ 2-4·k for the same reason); cost scales as
  (K/k)² and stays n-linear.

Scoring is the package's integer-state contract (``kmeans_train``,
``grouped_centroid_cosine``): components quantize ``floor(x·scale)``
(scale a power of two — float→double promotion and multiply both
exact), dot and ssq are exact int64 sums (|dot| ≤ d·(scale·max|x|)²,
far inside 2^53 at d = 64), and cosine = ``dot/(√ssq_a·√ssq_b)`` is
IEEE-exact division/sqrt of identical integers — bit-identical across
engines, so the iterative rank-and-keep never diverges from the DuckDB
oracle. Quantization error is part of the approximation and is
*measured*, not assumed: :func:`knn_graph_recall` audits the graph
against exact top-k (same quantized metric) on a deterministic node
sample, the ``minhash_recall_audit`` discipline.

100 TB posture: vectors ship at most once per (node, round) through
hash-joins keyed on node id; candidate relations are (id, nb) pairs —
k²-bounded per node; the only windows are per-node (degree ≤ 2k rows)
and per-hash-group (seed ring). At cluster scale, seed cells come from
``ivf.scaled_num_centroids`` (constant cell size ⇒ linear seed cost) and
the quantized-vector relation is cached across rounds; both leave the
per-round plan unchanged.

No counterpart in the reference (jacopocav/spark-ifs has no vector
search surface); extension operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_ifs_spark.operators import ivf
from spark_ifs_spark.operators.similarity import as_double_array
from spark_ifs_spark.operators.topk import topk_per_key


def quantized_vectors(
    df: DataFrame, id_col: str, vec_col: str, scale: int = 1024
) -> DataFrame:
    """``(id, qv array<long>, ssq long)`` — the integer-state vector
    relation: ``qv[i] = floor(x_i · scale)``, ``ssq = Σ qv[i]²``."""
    qv = F.transform(
        as_double_array(vec_col), lambda x: F.floor(x * scale).cast("long")
    )
    return (
        df.select(F.col(id_col).alias("id"), qv.alias("qv"))
        .withColumn(
            "ssq",
            F.aggregate(
                F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x * x
            ),
        )
    )


def _int_cosine() -> Column:
    """The integer-state cosine of the joined ``(_qa, _sa)`` and
    ``(_qb, _sb)`` vector/ssq columns: exact int64 dot via ``zip_with``
    + ``aggregate`` (JVM codegen, no Python), then the IEEE-exact
    ``dot / (√ssq_a · √ssq_b)``; a zero vector scores 0.0."""
    dot = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.when(
        (F.col("_sa") == 0) | (F.col("_sb") == 0), F.lit(0.0)
    ).otherwise(
        dot.cast("double")
        / (F.sqrt(F.col("_sa").cast("double")) * F.sqrt(F.col("_sb").cast("double")))
    )


def _scored(pairs: DataFrame, q: DataFrame) -> DataFrame:
    """``(id, nb, score)`` for a candidate pair relation under
    :func:`_int_cosine`. Vectors ride the two id-keyed hash joins."""
    qa = q.select("id", F.col("qv").alias("_qa"), F.col("ssq").alias("_sa"))
    qb = q.select(
        F.col("id").alias("nb"),
        F.col("qv").alias("_qb"),
        F.col("ssq").alias("_sb"),
    )
    return (
        pairs.join(qa, "id")
        .join(qb, "nb")
        .select("id", "nb", _int_cosine().alias("score"))
    )


def _ring_seed(ids: DataFrame, k: int, groups: int) -> DataFrame:
    """Deterministic random-init stand-in: within each hash group
    (``id % groups``) nodes take the next ``min(k, cnt−1)`` positions
    cyclically. Windows are group-bounded; ``(rn + j) % cnt ≠ rn`` for
    ``1 ≤ j < cnt``, so the ring never self-loops."""
    g = (F.col("id") % groups).alias("g")
    pos = (
        ids.select("id", g)
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("g").orderBy("id")) - 1
        )
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("g")))
    )
    j = pos.select(
        "id", "g", "rn", "cnt",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
    ).filter(F.col("j") < F.col("cnt"))
    tgt = pos.select(
        F.col("id").alias("nb"), F.col("g").alias("g2"), F.col("rn").alias("rn2")
    )
    return j.join(
        tgt,
        (F.col("g") == F.col("g2"))
        & (F.col("rn2") == (F.col("rn") + F.col("j")) % F.col("cnt")),
    ).select("id", "nb")


def _cell_seed(q: DataFrame, num_centroids: int) -> DataFrame:
    """All (ordered) pairs sharing an IVF cell: the ``ivf`` ladder with
    the INT scoring (exact int64 ``dot/√ssq_c``, cid-asc ties) over the
    integer-state relation, seeded with the ``num_centroids`` smallest
    ids. No corpus shuffle on any rung."""
    # materialized once: both self-join sides, and the isnotnull(cell)
    # filter the join infers, would each re-score every vector
    cells = (
        ivf.scaled_tagged_cells(q, "id", "qv", num_centroids, ivf.INT)
        .select("id", "cell")
        .localCheckpoint(eager=True)
    )
    a, b = cells.alias("a"), cells.alias("b")
    return a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") != F.col("b.id"))
    ).select(F.col("a.id").alias("id"), F.col("b.id").alias("nb"))


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    num_centroids: int = 16,
    rounds: int = 3,
    groups: int = 8,
    scale: int = 1024,
    work_degree: int | None = None,
) -> DataFrame:
    """``(id, nb, score, rank)`` — the approximate directed kNN graph:
    top-``k`` neighbors per node, descending at internal degree
    ``work_degree`` (default ``4·k``) for ``rounds`` NN-descent
    refinements over IVF-cell + hash-ring seeds, then emitting the
    final top-``k`` of each node's working list."""
    kk = 4 * k if work_degree is None else work_degree
    # The quantized-vector relation is read once per scoring join of
    # every round; the edge list feeds 4 downstream relations per round
    # (rev, b×2, co) — without lineage truncation the plan QUADRUPLES
    # per round and Spark re-executes the whole history each iteration
    # (the unigram `_finish` lesson). localCheckpoint materializes both;
    # at cluster scale this is `checkpoint()` to reliable storage and
    # the relations stay O(n·d) / O(n·k).
    q = quantized_vectors(df, id_col, vec_col, scale).localCheckpoint(eager=True)
    ring = _ring_seed(q.select("id"), kk, groups)
    seed = (
        ring.unionByName(ring.select(F.col("nb").alias("id"), F.col("id").alias("nb")))
        .unionByName(_cell_seed(q, num_centroids))
        .distinct()
    )
    e = topk_per_key(
        _scored(seed, q), ["id"], "score", k=kk, tiebreak_cols=["nb"]
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        rev = e.select(F.col("nb").alias("id"), F.col("id").alias("nb"), "score")
        revc = topk_per_key(
            rev, ["id"], "score", k=kk, tiebreak_cols=["nb"]
        ).select("id", "nb")
        # b IS deduped before the co self-join: duplicate b rows square
        # up through the join (measured: dropping this distinct made the
        # round 30% slower, the bigger co relation outweighing the saved
        # shuffle).
        b = e.select("id", "nb").unionByName(revc).distinct()
        x, y = b.alias("x"), b.alias("y")
        co = x.join(
            y, (F.col("x.id") == F.col("y.id")) & (F.col("x.nb") != F.col("y.nb"))
        ).select(F.col("x.nb").alias("id"), F.col("y.nb").alias("nb"))
        cand = (
            co.unionByName(b)
            .unionByName(b.select(F.col("nb").alias("id"), F.col("id").alias("nb")))
            .filter(F.col("id") != F.col("nb"))
            .distinct()
        )
        e = topk_per_key(
            _scored(cand, q), ["id"], "score", k=kk, tiebreak_cols=["nb"]
        ).localCheckpoint(eager=True)
    return e.filter(F.col("rank") <= k).select("id", "nb", "score", "rank")


def knn_graph_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    num_centroids: int = 16,
    rounds: int = 3,
    groups: int = 8,
    scale: int = 1024,
    sample_mod: int = 20,
    work_degree: int | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """One row ``(n_nodes, k, n_sample, hits, possible, recall_ppm)``
    — graph edges vs EXACT top-k (same quantized metric) on the
    deterministic node sample ``id % sample_mod == 0``: the
    ``minhash_recall_audit`` discipline, run on a sample at corpus
    scale. ``possible`` is the truth-set size (= n_sample·k when every
    sampled node has ≥ k others).

    Tie-cut convention: the truth set keeps exactly k rows per node,
    cutting equal-score ties at the k boundary by nb-ASC row_number
    (mirrored in the oracle). A graph edge score-tied with a kept
    truth edge therefore counts as a miss, so on heavily quantized
    (tie-prone) vectors recall can UNDER-report — a conservative
    metric quirk, never an over-report.

    ``edges`` (optional) is a prebuilt :func:`knn_graph` edge relation
    (e.g. read back from a ``write_knn_graph`` sink) audited as-is —
    build once, audit and consume many times; when omitted the graph
    is built fresh with the given knobs (parity between the two paths
    is pytest-pinned)."""
    if edges is None:
        edges = knn_graph(
            df, id_col, vec_col, k=k, num_centroids=num_centroids,
            rounds=rounds, groups=groups, scale=scale, work_degree=work_degree,
        )
    edges = edges.filter(F.col("rank") <= k).select("id", "nb")
    q = quantized_vectors(df, id_col, vec_col, scale)
    sq = q.filter((F.col("id") % sample_mod) == 0).select("id")
    # truth scoring goes through the SAME _scored builder as the
    # descent (one definition of the integer-state cosine, not a
    # drifting copy); the truth top-k's per-key input is the whole
    # corpus, which topk_per_key's partial limit cuts to k per map
    # partition before the shuffle
    pairs = sq.crossJoin(q.select(F.col("id").alias("nb"))).filter(
        F.col("id") != F.col("nb")
    )
    truth = topk_per_key(
        _scored(pairs, q), ["id"], "score", k=k, tiebreak_cols=["nb"]
    ).select("id", "nb")
    # hits and possible in ONE pass over truth: the expensive truth
    # subtree (sample x corpus scoring + top-k) used to be
    # evaluated twice (semi-join count + plain count); a left join
    # against the distinct edge relation preserves exactly one row per
    # truth pair (knn_graph emits one row per (id, nb)), so count(*) is
    # `possible` and count(flag) is `hits` — identical output, half the
    # truth cost at any scale.
    flagged = truth.join(
        edges.withColumn("_hit", F.lit(1)), ["id", "nb"], "left"
    )
    hp = flagged.agg(
        F.count("_hit").alias("hits"), F.count(F.lit(1)).alias("possible")
    )
    nn = df.agg(F.count(F.lit(1)).alias("n_nodes"))
    ns = sq.agg(F.count(F.lit(1)).alias("n_sample"))
    return (
        nn.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(hp))
        .select(
            "n_nodes",
            F.lit(k).cast("int").alias("k"),
            "n_sample",
            "hits",
            "possible",
            F.when(F.col("possible") == 0, F.lit(1_000_000))
            .otherwise(F.floor(F.col("hits") * 1_000_000 / F.col("possible")))
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def mutual_knn_pairs(edges: DataFrame) -> DataFrame:
    """``(id, nb)`` rows of a directed ``(id, nb, ...)`` edge relation
    that survive the MUTUAL filter (i lists j AND j lists i) — the
    standard asymmetric-hub guard, ONE definition shared by the
    components and centrality consumers so the mutuality rule cannot
    drift between them. Output keeps both directions; callers wanting
    canonical pairs filter ``id < nb``."""
    e = edges.select("id", "nb")
    rev = e.select(F.col("nb").alias("id"), F.col("id").alias("nb"))
    return e.join(rev, ["id", "nb"], "left_semi")


def knn_components_from_edges(edges: DataFrame, threshold: float) -> DataFrame:
    """``(id, component)`` — connected components of the MUTUAL kNN
    graph thresholded at ``threshold``, over a PREBUILT ``(id, nb,
    score, ...)`` edge relation (fresh :func:`knn_graph` output or a
    ``write_knn_graph`` sink read back): the consumer half of
    :func:`knn_graph_components`, split out so a persisted graph fans
    out to components / centrality / selection without rebuilding the
    descent."""
    e = edges.filter(F.col("score") >= threshold)
    mutual = (
        mutual_knn_pairs(e)
        .filter(F.col("id") < F.col("nb"))
        .select(F.col("id").alias("id_a"), F.col("nb").alias("id_b"))
    )
    from spark_ifs_spark.operators.graph import connected_components

    return connected_components(mutual, "id_a", "id_b").select(
        "id", "component"
    )


def knn_graph_components(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    k: int = 4,
    num_centroids: int = 16,
    rounds: int = 3,
    groups: int = 8,
    scale: int = 1024,
    work_degree: int | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """``(id, component)`` — graph-based near-duplicate clusters: the
    connected components of the MUTUAL kNN graph thresholded at
    ``threshold`` (an edge survives iff i lists j AND j lists i among
    their top-k, at cosine ≥ threshold) — the graph consumer the kNN
    index exists for. Mutuality is the standard asymmetric-hub filter:
    a hub that many nodes list (but which lists none of them back)
    contributes no edge, so components stay tight at corpus scale.

    This is the ANN-graph approximation of the exact
    ``cosine_threshold_pairs`` → ``connected_components`` pipeline
    (``dedup_embedding`` + ``dup_clusters`` family): pairs the graph
    missed (recall < 100%, measured by :func:`knn_graph_recall`) are
    missing edges here — approximate by construction, audited, never
    silently all-pairs. Component ids are minimum member ids
    (:func:`~spark_ifs_spark.operators.graph.connected_components`
    contract); only nodes with ≥1 mutual edge appear. ``edges``
    (optional) short-circuits the build with a prebuilt edge relation
    — see :func:`knn_components_from_edges`.
    """
    if edges is None:
        edges = knn_graph(
            df, id_col, vec_col, k=k, num_centroids=num_centroids,
            rounds=rounds, groups=groups, scale=scale,
            work_degree=work_degree,
        )
    return knn_components_from_edges(edges, threshold)


def _symmetrized(edges: DataFrame, agg=None) -> DataFrame:
    """Undirected view of a directed ``(id, nb[, score])`` edge
    relation, localCheckpoint'ed (every consumer scans it per round):
    rows union with their swap, then either ``distinct`` (``agg is
    None`` — unscored edges) or a per-(id, nb) ``groupBy`` applying
    ``agg`` (a named aggregate Column, e.g. max-score). ONE definition
    shared by the diversity / facility / label-propagation consumers
    so the symmetrization rule (and any NULL handling added to it)
    cannot drift between them."""
    if agg is None:
        both = edges.select("id", "nb").unionByName(
            edges.select(F.col("nb").alias("id"), F.col("id").alias("nb"))
        )
        out = both.distinct()
    else:
        both = edges.select("id", "nb", "score").unionByName(
            edges.select(
                F.col("nb").alias("id"), F.col("id").alias("nb"), "score"
            )
        )
        out = both.groupBy("id", "nb").agg(agg)
    return out.localCheckpoint(eager=True)


def graph_diversity_select(
    edges: DataFrame, nodes: DataFrame, k: int = 5
) -> DataFrame:
    """``(rank, id, far_sim)`` — greedy farthest-point (k-center)
    diversity selection over a scored kNN edge relation: the
    embedding-space dual of ``coverage_select``'s term set cover and
    the standard coreset picker for curation (Gonzalez'85 2-approx
    farthest-point traversal, run on graph similarities instead of
    exact distances).

    ``edges`` is a directed ``(id, nb, score)`` relation (e.g.
    :func:`knn_graph` output); it is symmetrized with per-pair max
    score. ``nodes`` is a one-column relation of every selectable id —
    isolated nodes included, since a node with NO graph edge to the
    selected set has similarity 0 (maximally far) and is a legitimate,
    often ideal, pick. Greedy loop, ``coverage_select``'s shape:
    maintain ``best(id, sim)`` = each unselected node's max similarity
    to the selected set (0.0 initially, so round 1 deterministically
    picks the minimum id); each round pulls the ``(sim ASC, id ASC)``
    argmin with ONE ``min(struct)`` aggregate (no window), then folds
    the winner's incident edges in with ``greatest`` — a pushed-down
    ``nb = winner`` filter plus one id-keyed left join. ``far_sim`` is
    the winner's similarity-to-selected at pick time.

    Scale posture: the edge relation is n·k rows scanned k times
    (localCheckpoint'ed once); ``best`` is node-sized and truncated
    per round; driver state is the k winners. Scores are the
    integer-state cosine, IEEE-identical across engines, so the
    greedy argmin never diverges from the DuckDB oracle. Fewer than
    ``k`` nodes → early stop with fewer rows (the oracle's empty
    round-r winner empties all later rounds identically).

    No counterpart in the reference (no vector/graph surface there);
    extension operator — the second named consumer of
    :func:`knn_graph` (graph dedup being the first)."""
    spark = edges.sparkSession
    sym = _symmetrized(edges, F.max("score").alias("score"))
    best = (
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
        .distinct()
        .withColumn("sim", F.lit(0.0))
        .localCheckpoint(eager=True)
    )
    out = []
    for r in range(1, k + 1):
        w = best.agg(F.min(F.struct(F.col("sim"), F.col("id")))).first()[0]
        if w is None:
            break
        win_sim, win_id = float(w["sim"]), int(w["id"])
        out.append((r, win_id, win_sim))
        upd = sym.filter(F.col("nb") == win_id).select(
            "id", F.col("score").alias("_ns")
        )
        best = (
            best.filter(F.col("id") != win_id)
            .join(upd, "id", "left")
            .select(
                "id",
                F.greatest(
                    F.col("sim"), F.coalesce(F.col("_ns"), F.lit(0.0))
                ).alias("sim"),
            )
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(out, "rank int, id long, far_sim double")


def facility_location_select(
    edges: DataFrame, nodes: DataFrame, k: int = 5
) -> DataFrame:
    """``(rank, id, gain_ppm)`` — greedy facility-location selection
    over a scored kNN edge relation: maximize the SUM of each node's
    best similarity to the selected set, ``F(S) = Σ_v max_{s∈S}
    sim(v, s)`` with ``sim(v, v) = 1`` once ``v ∈ S`` — the max-sum
    *representativeness* counterpart of
    :func:`graph_diversity_select`'s max-min k-center (which favors
    outliers; facility location favors cluster centers). Greedy is the
    classic (1 − 1/e) approximation for this monotone submodular
    objective (Nemhauser, Wolsey & Fisher 1978); non-edges contribute
    similarity 0, the standard sparse-graph truncation.

    Determinism contract: similarities enter as INTEGER ppm
    (``floor(score · 10⁶)`` of the IEEE-identical integer-state
    cosine, self-coverage = 10⁶ exactly), so every marginal gain is an
    int64 SUM — order-independent, engine-exact — and the greedy
    ``(gain DESC, id ASC)`` argmax never diverges from the DuckDB
    oracle (float gain sums would be summation-order-dependent across
    engines; this is the ``lineitem_corr`` integer-sufficient-stats
    convention applied to submodular greedy).

    Round r: one edge-keyed join of the symmetrized relation against
    the maintained ``best(id, best_ppm)`` coverage column, one
    map-combined ``sum(greatest(sim − best, 0))`` per candidate, one
    ``max(struct)`` argmax (no window), then the winner's incident
    edges fold in via ``greatest`` and the winner pins to 10⁶.
    Scale posture matches :func:`graph_diversity_select`: the n·k edge
    relation is scanned k times off one localCheckpoint, ``best`` is
    node-sized and truncated per round, driver state is k winners.

    No counterpart in the reference; extension operator — the fourth
    consumer of :func:`knn_graph` (dedup components, k-center
    diversity, label propagation being the first three)."""
    SELF = 1_000_000
    spark = edges.sparkSession
    sym = _symmetrized(
        edges, F.floor(F.max("score") * SELF).cast("long").alias("sim")
    )
    best = (
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("id"))
        .distinct()
        .withColumn("best", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    winners: list[int] = []
    out = []
    for r in range(1, k + 1):
        # per-candidate covered-gain: edges grouped by their *candidate*
        # endpoint (nb), each contributing its improvement over the
        # covered endpoint's current best — selected nodes sit pinned at
        # SELF so improvements over them are 0 without a filter
        g1 = (
            sym.join(best, "id")
            .groupBy("nb")
            .agg(
                F.sum(
                    F.greatest(F.col("sim") - F.col("best"), F.lit(0).cast("long"))
                ).alias("_g")
            )
        )
        cand = best.filter(~F.col("id").isin(winners)) if winners else best
        gains = cand.join(
            g1.select(F.col("nb").alias("id"), "_g"), "id", "left"
        ).select(
            "id",
            (
                F.coalesce(F.col("_g"), F.lit(0).cast("long"))
                + (F.lit(SELF).cast("long") - F.col("best"))
            ).alias("gain"),
        )
        w = gains.agg(F.max(F.struct(F.col("gain"), (-F.col("id")).alias("ni")))).first()[0]
        if w is None:
            break
        win_gain, win_id = int(w["gain"]), int(-w["ni"])
        winners.append(win_id)
        out.append((r, win_id, win_gain))
        upd = sym.filter(F.col("nb") == win_id).select(
            "id", F.col("sim").alias("_ns")
        )
        best = (
            best.join(upd, "id", "left")
            .select(
                "id",
                F.when(F.col("id") == win_id, F.lit(SELF).cast("long"))
                .otherwise(
                    F.greatest(
                        F.col("best"),
                        F.coalesce(F.col("_ns"), F.lit(0).cast("long")),
                    )
                )
                .alias("best"),
            )
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(out, "rank int, id long, gain_ppm long")


def label_propagation(
    edges: DataFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """``(id, label, round_converged)`` — semi-supervised label
    spreading over a kNN edge relation: seed nodes carry fixed labels
    (``round_converged = 0``); each of ``rounds`` bounded rounds,
    every still-unlabeled node adjacent to ≥1 labeled node adopts the
    MAJORITY label among its labeled neighbors (exact integer vote
    counts; ties → smallest label), stamped with the round it
    converged. Labels are sticky — once assigned, never revisited
    (seed clamping extended to every assignment), so the result is
    deterministic and each node appears at most once; nodes never
    reached within ``rounds`` are absent.

    ``edges`` is directed ``(id, nb)``; votes travel both ways
    (symmetrized, distinct). Per round: one anti-join isolates the
    unlabeled frontier, one id-keyed join + ``(id, label)`` count
    aggregate tallies votes, one ``max(struct(votes, -label))``
    argbest per node picks the winner — no window wider than the
    vote relation, no driver state. The label relation grows
    monotonically and is lineage-truncated per round
    (``localCheckpoint``, the :func:`knn_graph` convention — round
    count is a small constant, unlike ``connected_components``'s
    data-dependent loop which needs the parquet form). An empty
    frontier ends the loop early (later rounds provably add nothing).

    No counterpart in the reference; extension operator — the third
    named consumer of :func:`knn_graph`."""
    sym = _symmetrized(edges, None)
    sid, slab = seeds.columns[0], seeds.columns[1]
    labels = (
        seeds.select(
            F.col(sid).cast("long").alias("id"),
            F.col(slab).cast("long").alias("label"),
        )
        .withColumn("round_converged", F.lit(0))
        .localCheckpoint(eager=True)
    )
    for r in range(1, rounds + 1):
        frontier = sym.join(labels.select("id"), "id", "left_anti")
        votes = (
            frontier.join(
                labels.select(F.col("id").alias("nb"), "label"), "nb"
            )
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new = (
            votes.groupBy("id")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("w")
            )
            .select(
                "id",
                (-F.col("w.nl")).alias("label"),
                F.lit(r).alias("round_converged"),
            )
        )
        if new.limit(1).count() == 0:
            break
        # eager stays: a lazy checkpoint here was A/B'd 1.9 -> 2.2 s
        # (the same AQE-interaction trap as graph_search's hop loop)
        labels = labels.unionByName(new).localCheckpoint(eager=True)
    return labels


def _scored_vs_queries(
    pairs: DataFrame, q: DataFrame, qq: DataFrame
) -> DataFrame:
    """``(qid, id, score)`` for a ``(qid, id)`` candidate relation:
    the query-side twin of :func:`_scored` — the :func:`_int_cosine` of
    the quantized corpus vector against the quantized QUERY vector.
    The query relation is tiny (a handful of rows) and broadcasts;
    corpus vectors ride the id-keyed hash join."""
    qa = q.select("id", F.col("qv").alias("_qa"), F.col("ssq").alias("_sa"))
    qb = qq.select(
        F.col("id").alias("qid"),
        F.col("qv").alias("_qb"),
        F.col("ssq").alias("_sb"),
    )
    return (
        pairs.join(qa, "id")
        .join(F.broadcast(qb), "qid")
        .select("qid", "id", _int_cosine().alias("score"))
    )


def graph_search(
    edges: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    ef: int = 16,
    hops: int = 3,
    n_entry: int = 8,
    scale: int = 1024,
    entry_seed: int = 7,
    exclude_self: bool = True,
) -> DataFrame:
    """``(qid, id, score, rank)`` — batch greedy beam search over a
    prebuilt kNN graph: the SERVING-side consumer that turns the
    :func:`knn_graph` artifact (typically read back from a
    ``write_knn_graph`` sink) into an ANN index, the batch analogue of
    an HNSW ``ef``-walk (Malkov & Yashunin 2016) restricted to the
    single graph layer the engine materializes.

    Every query advances simultaneously — a hop is ONE edge join + one
    bounded per-query top-``ef``, so a batch of Q queries costs the
    same number of Spark jobs as one:

    - **entry points**: rendezvous-seeded — each query's ``n_entry``
      highest ``md5(seed:qid:id)`` nodes (the ``shard_manifest``
      rendezvous convention), so entry placement is deterministic,
      per-query diversified, and independent of any node's popularity.
      One scan of the node-ID relation per batch (ids only, no
      vectors); the per-query top-``n_entry`` has corpus-wide per-key
      input, cut to ``n_entry`` per map partition by the grouped
      top-k's partial limit before the shuffle.
    - **hops**: candidates = current beam ⋈ the symmetrized edge
      relation (each beam node proposes its graph neighbors);
      beam′ = top-``ef`` of beam ∪ scored candidates per query —
      monotone best-``ef`` pool refinement (a node dropped from the
      beam may re-enter later; no visited set to maintain, which a
      batch engine would pay a growing anti-join for). Fixed
      ``hops`` rounds keep the loop engine-deterministic and the
      oracle unrollable.
    - **scores** are the package's integer-state cosine
      (:func:`quantized_vectors` + exact int64 dot) — bit-identical
      across engines, so beam evolution and final ranks never diverge
      from the DuckDB oracle.

    Per-hop work is Q·ef·deg candidate scorings; the corpus is touched
    only through id-keyed hash joins of the beam against the vector
    relation — never scanned whole after entry seeding. Approximate by
    construction: pair with :func:`graph_search_recall` (the
    ``minhash_recall_audit`` discipline), never unchecked.

    No counterpart in the reference; extension operator — the serving
    consumer of :func:`knn_graph`."""
    from spark_ifs_spark.functions.hashing import md5_int60

    nav = (
        edges.select("id", "nb")
        .unionByName(
            edges.select(F.col("nb").alias("id"), F.col("id").alias("nb"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    q = quantized_vectors(vectors, id_col, vec_col, scale).localCheckpoint(
        eager=True
    )
    qq = quantized_vectors(queries, qid_col, qvec_col, scale)
    h = md5_int60(
        F.concat(
            F.lit(f"{entry_seed}:"),
            F.col("qid").cast("string"),
            F.lit(":"),
            F.col("id").cast("string"),
        )
    )
    ids = q.select("id")
    qids = qq.select(F.col("id").alias("qid"))
    entry = topk_per_key(
        ids.crossJoin(F.broadcast(qids)).select("qid", "id", h.alias("score")),
        ["qid"], "score", k=n_entry, tiebreak_cols=["id"],
    ).select("qid", "id")
    # Per-hop beams stay EAGER localCheckpoints. Two r14 A/Bs pinned
    # this shape: (1) lazy checkpoints measured ~1.3x slower across the
    # family (ann_topk_graph 3.4 -> 4.5 s, audit 4.2 -> 6.1 s — the r13
    # AQE-interaction trap again); (2) broadcast-hinting the beam side
    # of every hop join produced a BIT-IDENTICAL physical plan
    # (plans/r14/graph_search_hop_{before,after}.txt, 6 BroadcastHash-
    # Joins either way) because Dataset.localCheckpoint PRESERVES the
    # child plan's statistics, so the bounded beam already auto-
    # broadcasts — the hints were dead code and were removed.
    beam = topk_per_key(
        _scored_vs_queries(entry, q, qq),
        ["qid"], "score", k=ef, tiebreak_cols=["id"],
    ).select("qid", "id", "score").localCheckpoint(eager=True)
    for _ in range(hops):
        cand = (
            beam.select("qid", "id")
            .join(nav, "id")
            .select("qid", F.col("nb").alias("id"))
            .distinct()
        )
        pool = beam.unionByName(
            _scored_vs_queries(cand, q, qq)
        ).distinct()  # same (qid, id) scores are bit-identical
        beam = topk_per_key(
            pool, ["qid"], "score", k=ef, tiebreak_cols=["id"]
        ).select("qid", "id", "score").localCheckpoint(eager=True)
    if exclude_self:
        beam = beam.filter(F.col("qid") != F.col("id"))
    return topk_per_key(
        beam, ["qid"], "score", k=k, tiebreak_cols=["id"]
    ).select("qid", "id", "score", "rank")


def graph_search_recall(
    edges: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    ef: int = 16,
    hops: int = 3,
    n_entry: int = 8,
    scale: int = 1024,
    entry_seed: int = 7,
) -> DataFrame:
    """One row ``(n_queries, k, hits, possible, recall_ppm)`` —
    :func:`graph_search` results vs EXACT top-``k`` (same quantized
    metric, self excluded) for the same query set: the measured-recall
    audit every approximate path in this package ships. Truth keeps
    exactly k rows per query (score DESC, id ASC tie-cut, the
    :func:`knn_graph_recall` convention — boundary ties count as
    misses, recall only ever under-reports)."""
    got = graph_search(
        edges, vectors, id_col, vec_col, queries, qid_col, qvec_col,
        k=k, ef=ef, hops=hops, n_entry=n_entry, scale=scale,
        entry_seed=entry_seed, exclude_self=True,
    ).select("qid", "id")
    q = quantized_vectors(vectors, id_col, vec_col, scale)
    qq = quantized_vectors(queries, qid_col, qvec_col, scale)
    qids = qq.select(F.col("id").alias("qid"))
    pairs = (
        q.select("id")
        .crossJoin(F.broadcast(qids))
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id")
    )
    truth = topk_per_key(
        _scored_vs_queries(pairs, q, qq),
        ["qid"], "score", k=k, tiebreak_cols=["id"],
    ).select("qid", "id")
    # one pass over the expensive exact-truth subtree (corpus x queries
    # scoring + top-k): left join against the distinct search
    # results keeps exactly one row per truth pair, so count(*) is
    # `possible` and count(flag) is `hits` — graph_recall_audit's
    # restructure applied here too
    # got is <= |queries| x k rows (a bounded serving batch) but sits
    # behind localCheckpoints whose size statistics default to huge —
    # hint the broadcast so the truth side never rides an exchange
    flagged = truth.join(
        F.broadcast(got.withColumn("_hit", F.lit(1))), ["qid", "id"], "left"
    )
    hp = flagged.agg(
        F.count("_hit").alias("hits"), F.count(F.lit(1)).alias("possible")
    )
    nq = qq.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        nq.crossJoin(F.broadcast(hp))
        .select(
            "n_queries",
            F.lit(k).cast("int").alias("k"),
            "hits",
            "possible",
            F.when(F.col("possible") == 0, F.lit(1_000_000))
            .otherwise(F.floor(F.col("hits") * 1_000_000 / F.col("possible")))
            .cast("long")
            .alias("recall_ppm"),
        )
    )
