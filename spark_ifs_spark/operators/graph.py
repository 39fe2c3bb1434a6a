"""Connected components over a pair relation — the pairs → clusters step
of a dedup pipeline.

Near-dup detection (minhash LSH, simhash, embedding blocking) emits
*pairs*; deduplication needs *clusters* ("keep one doc per component of
the similarity graph"). This is the canonical iterative-graph step a
100 TB pipeline runs after any pairwise stage.

Algorithm: **min-hook + pointer-jump + edge contraction**. Each outer
round (a) hooks every node to the minimum of itself and its neighbors,
(b) flattens the resulting pointer forest to its roots by pointer
jumping (``p <- p(p)``, geometric in forest depth), (c) folds the roots
into the cumulative label relation, and (d) *contracts the edge
relation onto the roots*, dropping intra-component edges. Contraction
is what makes this fast on high-diameter graphs: label propagation
without it moves the min one graph hop per round (O(diameter) rounds —
measured: a 2M-node critical random graph was still unconverged after
40 rounds), whereas contraction merges every node into a super-node
each round, so the active graph shrinks geometrically and the total
round count is O(log n). Same family as the MapReduce CC algorithms of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14) and the CRACKER contraction algorithm (Lulli et al., IEEE
TPDS'17), expressed as DataFrame joins.

Scale posture: every shuffle is keyed on node ids, never payloads; the
edge relation only ever shrinks; the pointer relation shrinks with it.
Lineage is truncated every step with a **parquet round-trip** of the
two-column relations, not ``localCheckpoint``: measured at 1M edges,
eager localCheckpoint chains still compounded ~2× per round (the
self-join references its parent twice and the checkpointed plan kept
re-executing ancestry), so round time doubled until timeout. A parquet
write + re-read makes every round's plan a fresh scan — constant cost
per round — and is the same mechanism (a durable store, not
executor-pinned blocks) a real cluster needs for fault-tolerant
iteration anyway. Per-round writes are tiny: 16 bytes × |rows|,
columnar-compressed.

The reference engine has no graph stage (its selection loop is
driver-coordinated, ``InformationThFS.scala``); this is
pipeline-extension surface.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.operators.gates import collect_within

#: in-core gate of :func:`connected_components`, in edges, read at call
#: time: at or under it the pair graph is collected and solved with
#: driver union-find; past it the distributed contraction loop runs.
INCORE_EDGE_BUDGET = 1_000_000


def _union_find_incore(rows) -> dict[int, int]:
    """Driver-side union-find with min-id roots (path-halving find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    work_dir: str | None = None,
) -> DataFrame:
    """``(id, component)`` for every node appearing in ``edges``;
    ``component`` is the minimum node id of the connected component.

    Cost-based strategy, same house pattern as the selectors'
    ``INCORE_CELL_BUDGET``: a near-dup pair graph is usually *tiny*
    relative to the corpus (pairs ≪ documents), and the distributed
    loop pays ~10 Spark jobs of fixed overhead, so when the edge count
    is within :data:`INCORE_EDGE_BUDGET` the pairs are collected and solved
    with driver union-find (exact, O(E α(E))). Past the budget the
    distributed contraction loop below is the default — volume-validated
    at 1M edges / 2M nodes in SCALE.md; both paths are pinned to agree
    in ``tests/test_graph.py``. ``INCORE_EDGE_BUDGET = 0`` forces the
    distributed path for any non-empty edge set.

    Distributed path converges in O(log n) outer rounds (edge
    contraction shrinks the active graph geometrically); raises if
    ``max_iter`` rounds pass without the contracted graph emptying
    (silent truncation would mislabel — fail loud instead).

    ``work_dir`` holds the per-round snapshots (a temp dir by default;
    pass a durable URI — e.g. an object-store path — on a real
    cluster). With the default temp dir the result is eagerly
    materialized off the snapshot files before they are deleted; with a
    caller-supplied ``work_dir`` the result reads straight from the
    final snapshot and the snapshots are the caller's to clean up.
    """
    spark = edges.sparkSession
    e0 = edges.select(
        F.col(src).cast("long").alias("a"),
        F.col(dst).cast("long").alias("b"),
    ).where(F.col("a") != F.col("b"))
    head = collect_within(e0, INCORE_EDGE_BUDGET)
    if head is not None:
        # reset the accounting attribute so a reader after an
        # in-core call never sees a PREVIOUS distributed call's
        # stats (zeros = "no distributed rounds ran this call")
        connected_components.last_stats = {
            "outer_rounds": 0, "jumps": 0, "sum_checks": 0,
            "verify_checks": 0,
        }
        labels = _union_find_incore((r["a"], r["b"]) for r in head)
        return spark.createDataFrame(
            sorted(labels.items()), "id long, component long"
        )
    base = work_dir or tempfile.mkdtemp(prefix="spark_ifs_cc_")
    own_dir = work_dir is None
    # driver-sync accounting for the distributed path, readable after
    # the call as ``connected_components.last_stats`` — the job-count
    # regression tests pin that sum checks stay ~half the jump count
    last_stats = {"outer_rounds": 0, "jumps": 0, "sum_checks": 0, "verify_checks": 0}
    connected_components.last_stats = last_stats

    def _trunc(df: DataFrame, name: str) -> DataFrame:
        path = f"{base}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _finish(labels: DataFrame) -> DataFrame:
        out = labels.select("id", F.col("comp").alias("component"))
        if own_dir:
            # the snapshot dir is about to be deleted — detach the
            # result from it (the label relation is node-sized, not
            # corpus-sized, so an eager executor-memory persist is
            # proportionate)
            out = out.localCheckpoint(eager=True)
        return out

    try:
        e = e0
        g = _trunc(
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            .repartition("a"),
            "g_init",
        )
        labels = _trunc(
            g.select(F.col("a").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("comp")),
            "labels_init",
        )

        for outer in range(max_iter):
            if g.limit(1).count() == 0:
                return _finish(labels)
            last_stats["outer_rounds"] += 1
            # (a) hook: every active node points at min(self, neighbors)
            ptr = _trunc(
                g.groupBy("a")
                .agg(F.min("b").alias("mb"))
                .select(
                    F.col("a").alias("id"),
                    F.least("a", "mb").alias("p"),
                ),
                f"ptr_{outer % 2}_a",
            )
            # (b) pointer jumping: p <- p(p) until the forest is flat.
            # Jump j composes the pointer map 2^j times, and forest
            # depth is at most the active-node count, so
            # ceil(log2(n_active)) jumps ALWAYS flatten — that bound
            # caps the loop with a count already paid by the hook
            # aggregate's row count. Convergence is still detected
            # early (hook forests are usually much shallower than the
            # bound) via the pointer sum — p(x) <= x always, so the
            # sum strictly decreases until the fixpoint and an
            # unchanged sum IS convergence; decimal(38,0) keeps it
            # exact (no i64 wrap) — but the sum is a driver round-trip
            # per check, so it runs only every SECOND jump: at cluster
            # scale the jump count is latency, not throughput, and
            # halving the driver syncs halves the idle gaps without
            # giving up early exit. Stats land in ``last_stats`` for
            # the job-count regression test.
            n_active = ptr.count()
            max_jumps = max(1, (max(n_active, 2) - 1).bit_length())
            prev_sum = object()
            flat = False
            for j in range(max_jumps):
                x = ptr.alias("x")
                y = ptr.alias("y")
                ptr = _trunc(
                    x.join(y, F.col("x.p") == F.col("y.id"), "left").select(
                        F.col("x.id").alias("id"),
                        F.coalesce(F.col("y.p"), F.col("x.p")).alias("p"),
                    ),
                    f"ptr_{outer % 2}_{'b' if j % 2 == 0 else 'a'}",
                )
                last_stats["jumps"] += 1
                if j % 2 == 1 and j + 1 < max_jumps:
                    cur_sum = ptr.agg(
                        F.sum(F.col("p").cast("decimal(38,0)")).alias("s")
                    ).collect()[0]["s"]
                    last_stats["sum_checks"] += 1
                    if cur_sum == prev_sum:
                        flat = True
                        break
                    prev_sum = cur_sum
            if not flat:
                # ran to the log2 cap (or a 1-jump forest): one final
                # verification aggregate — a row whose parent's pointer
                # differs means the cap math was violated; fail loud.
                x = ptr.alias("x")
                y = ptr.alias("y")
                bad = (
                    x.join(y, F.col("x.p") == F.col("y.id"))
                    .where(F.col("y.p") != F.col("x.p"))
                    .limit(1)
                    .count()
                )
                last_stats["verify_checks"] += 1
                if bad:
                    raise RuntimeError(
                        "connected_components: pointer jumping not flat "
                        f"after {max_jumps} jumps (n_active={n_active})"
                    )
            # (c) fold this round's roots into the cumulative labels.
            # labels.comp values are ids of the previous round's active
            # graph, exactly ptr's key space.
            lab = labels.alias("l")
            pr = ptr.alias("r")
            labels = _trunc(
                lab.join(pr, F.col("l.comp") == F.col("r.id"), "left")
                .select(
                    F.col("l.id").alias("id"),
                    F.coalesce(F.col("r.p"), F.col("l.comp")).alias("comp"),
                ),
                f"labels_{outer % 2}",
            )
            # (d) contract: rewrite edges onto roots, drop the (now
            # intra-component) resolved edges. The relation only shrinks.
            pa = ptr.alias("pa")
            pb = ptr.alias("pb")
            ga = g.join(pa, g["a"] == F.col("pa.id")).select(
                F.col("pa.p").alias("ra"), g["b"].alias("ob")
            )
            g = _trunc(
                ga.join(pb, F.col("ob") == F.col("pb.id"))
                .select(F.col("ra").alias("a"), F.col("pb.p").alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct()
                .repartition("a"),
                f"g_{outer % 2}",
            )
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    finally:
        if own_dir:
            shutil.rmtree(base, ignore_errors=True)


def cluster_representatives(
    components: DataFrame, keep: str = "min"
) -> DataFrame:
    """``(component, keep_id, n_members)`` — one winner per cluster.

    With min-id components the winner IS the component label; computed
    with an aggregate anyway so a different ``keep`` policy (e.g. max)
    slots in without relabeling.
    """
    agg = F.min("id") if keep == "min" else F.max("id")
    return components.groupBy("component").agg(
        agg.alias("keep_id"), F.count(F.lit(1)).alias("n_members")
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 2,
    damping: float = 0.85,
) -> DataFrame:
    """``(id, pr_micro)`` — PageRank after ``iters`` power iterations
    over a DIRECTED ``(src, dst)`` edge relation, in exact integer
    micro-units.

    Update: ``pr' = floor((1−d)·1e6) + floor(d · Σ_in (pr // deg))`` —
    every per-edge contribution is truncating integer division (SQL
    ``//`` on signed ints), the in-sum is an exact integer sum, and the
    one float product per node per iteration (``d · S``, with S exact in
    a double) floors identically on both engines. Dangling nodes (no
    out-edges) contribute nothing — their mass leaks, the standard
    simple variant; add a dangling-mass term if conservation matters.

    Plan per iteration — the shape that survives 100 TB graphs:
    out-degrees are ONE edge aggregate computed once; each iteration is
    one ranks⋈edges join keyed on the source plus one dst-keyed sum.
    Ranks never leave the cluster (no driver state at all, unlike the
    O(d) loops of `lr_train`/`power_iteration` — the rank vector is
    node-sized). Iteration count is a constant, so lineage stays
    shallow; for deep loops truncate like `connected_components` does.
    """
    n = nodes.select(F.col(nodes.columns[0]).alias("id"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base_micro = 1_000_000
    teleport = int((1.0 - damping) * base_micro)
    ranks = n.select("id", F.lit(base_micro).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            ranks.join(edges, ranks["id"] == edges["src"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("pr") / F.col("deg")).cast("long").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            n.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.lit(teleport)
                    + F.floor(
                        F.lit(damping) * F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    )
                ).cast("long").alias("pr"),
            )
        )
    return ranks.select("id", F.col("pr").alias("pr_micro"))


def triangle_count(
    edges: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """``(id, n_triangles)`` — per-vertex triangle participation counts
    over an undirected simple graph given as canonical distinct pairs
    (``a < b``, no self-loops); only vertices in at least one triangle
    appear.

    Degree-ordered node-iterator (the MapReduce triangle pattern of
    Suri & Vassilvitskii, WWW'11; Cohen, CiSE'09): orient every edge
    from its smaller endpoint to its larger under the total order
    ``(degree, id)``. Every triangle then has exactly one *apex* with
    out-edges to both other vertices, so triangles = oriented wedges
    ``(apex → x, apex → y)`` whose closing edge ``x → y`` exists in the
    oriented relation. The orientation is the whole trick at scale: a
    vertex's out-degree is bounded by ~sqrt(2E) regardless of its raw
    degree, so wedge volume — the only super-linear intermediate — is
    O(E^1.5) worst-case instead of the O(Σ deg²) a hub vertex would
    force on the naive wedge join (a 10M-degree hub contributes ZERO
    wedges if its neighbors all out-rank it).

    Plan: one degree aggregate, two vertex-keyed joins to attach
    endpoint degrees, one self-join on the apex, one pair-keyed
    semi-equi-join for closure, one explode-by-3 + count. Every shuffle
    key is a vertex or vertex pair — no payloads.

    The reference engine has no graph stage; pipeline-extension surface
    (triangle counts feed clustering-coefficient quality signals on
    near-dup / co-occurrence graphs)."""
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withdeg = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    # order the wedge's two endpoints by the SAME (deg, id) total order,
    # so the closing edge (if present) is oriented exactly lo -> hi
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .where(
            (F.col("x.dst_deg") < F.col("y.dst_deg"))
            | (
                (F.col("x.dst_deg") == F.col("y.dst_deg"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        )
        .select(
            F.col("x.src").alias("apex"),
            F.col("x.dst").alias("lo"),
            F.col("y.dst").alias("hi"),
        )
    )
    closed = wedges.join(
        oriented.select(F.col("src").alias("lo"), F.col("dst").alias("hi")),
        ["lo", "hi"],
        "left_semi",
    )
    return (
        closed.select(
            F.explode(F.array(F.col("apex"), F.col("lo"), F.col("hi"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
