"""Benchmark harness, the one place registry queries are timed.

    python bench.py [name ...] [--plans TAG] [--scale N ...]

Runs the named queries (default: every registered query, in registry
order ``ORDER``) on the tables in $SPARK_GRAFT_SF_DIR (default: the
sf0.1 test data) on local[$SPARK_GRAFT_CPUS] (default 32).

Default mode prints the full JSON report line {"metric", "value",
"unit", "queries", "sf", ...}, then a top-40 slowest line, then a
compact summary line (total/n/errors/config) short enough to survive a
2000-char tail truncation of the output. The full report, plus a
per-query ``records`` entry (construct/exec split and Spark job count
of the best rep), is also written to the untracked bench_out.json, or
to the committed canonical vector bench_full.json when
SPARK_GRAFT_BENCH_CANONICAL=1, so reruns never dirty the committed
vector.

Mirrors BASELINE.md's protocol: B1 round-1 relevance, B2/B3 full greedy
mRMR in both encodings, B4 the reference CLI's cross-encoding identity
check (a hard assert), B5 the synthetic 10k×50 matrix selection, plus
the pipeline-extension queries. B4 runs when both encodings are named;
B5 runs only with the default query list.

``--plans TAG`` also writes each query's formatted plan, taken before
execution and outside the timed region, to plans/TAG/<name>.txt, and
adds its ``exchanges``/``py_nodes`` counts to the record.

``--scale N ...`` is the replica scale run: for each factor N it
writes an N× replica of the SF dir's documents, embeddings, orders and
events under $TMPDIR/spark_ifs_scale/xN (see :func:`replicate`), runs
each named query once with its full output forced through a hash fold
(see :func:`fold`), and prints a markdown table for SCALE.md: wall
seconds, rows out, and the shuffle bytes the query's own jobs wrote,
read from the Spark event log once the session has stopped. Queries
over tables the replica does not hold fail as errors, so name the
queries to run.

Failure protocol: every query runs in its own try/except, a failing
query records an ``errors[name]`` message instead of aborting the run,
the report is ALWAYS printed (partial timings included), and the exit
code is nonzero iff anything failed — so a crash is loud but never
silent about the queries that did complete.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

#: plan operators that run Python workers
_PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
)


def parse_args(argv=None) -> argparse.Namespace:
    """CLI arguments; ``queries`` is the resolved list to run."""
    from spark_ifs_spark.registry._order import ORDER

    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("names", nargs="*", help="queries to run (default: all, in ORDER)")
    p.add_argument("--plans", metavar="TAG", help="write formatted plans to plans/TAG/")
    p.add_argument("--scale", nargs="+", default=[], metavar="N", help="replica factors")
    args = p.parse_args(argv)
    # --scale takes every following word: query names are never all
    # digits, so the digit words are the factors and the rest are names
    args.factors = [int(a) for a in args.scale if a.isdigit()]
    args.names += [a for a in args.scale if not a.isdigit()]
    if args.scale and not args.factors:
        p.error("--scale needs at least one integer factor")
    unknown = sorted(set(args.names) - set(ORDER))
    if unknown:
        p.error(f"unknown queries: {' '.join(unknown)}")
    args.queries = args.names or list(ORDER)
    return args


def _job_group(sf_dir: str, name: str, rep: int) -> str:
    return f"bench {sf_dir} {name} {rep}"


def _collect(df) -> list:
    return df.collect()


def fold(df) -> list:
    """``[Row(n, h)]``: the row count and a hash over every column of
    every row. A bare ``count()`` lets Catalyst prune value columns and
    eliminate unique-keyed joins (one such join measured 0.9 s with zero
    shuffle); the fold forces the full output. pmod keeps the sum inside
    int64 under ANSI mode, where a raw xxhash64 sum overflows."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))).alias("h"),
    ).collect()


def run_queries(
    spark,
    sf_dir: str,
    queries,
    names: list[str],
    repeats: int = 2,
    action=_collect,
    plan_dir: str | None = None,
) -> tuple[dict[str, float], dict[str, list], dict[str, str], dict[str, dict]]:
    """Time each named query (min-of-``repeats``), isolating failures.

    Returns ``(timings, results, errors, records)`` — a query that raises
    on any repeat lands in ``errors`` (first line of the exception, for
    the JSON report) and in no other dict; the remaining queries still
    run.

    The timed region is the query's construction plus ``action`` on its
    frame (``collect`` by default). Each rep runs under its own Spark job
    group; ``records[name]`` splits the best rep into ``construct_sec``
    and ``exec_sec`` and counts its Spark ``jobs``. With ``plan_dir``,
    the first rep's formatted plan, taken between construction and
    execution, goes to ``<plan_dir>/<name>.txt`` and the record gains
    its ``exchanges`` and ``py_nodes`` counts.

    min-of-2 per query (the protocol B5 always used, extended to every
    entry in round 2): timings in one long shared local[32] session are
    contention/GC-noisy (observed 2-5x swings on identical plans) and
    the first few entries otherwise absorb JVM + parquet-footer warmup
    that is not query cost. The min is the reproducible per-query
    number; correctness asserts (B4) still check the collected rows.
    """
    from spark_ifs_spark.plans import explain_str

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)
    timings: dict[str, float] = {}
    results: dict[str, list] = {}
    errors: dict[str, str] = {}
    records: dict[str, dict] = {}
    for name in names:
        best = float("inf")
        shape: dict[str, int] = {}
        try:
            for rep in range(repeats):
                group = _job_group(sf_dir, name, rep)
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                df = queries[name](spark, sf_dir)
                construct = time.perf_counter() - t0
                if plan_dir and rep == 0:
                    plan = explain_str(df)
                    with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                        f.write(plan)
                    shape = {
                        "exchanges": plan.count("Exchange"),
                        "py_nodes": sum(plan.count(n) for n in _PY_NODES),
                    }
                t1 = time.perf_counter()
                rows = action(df)
                exec_ = time.perf_counter() - t1
                if construct + exec_ < best:
                    best = construct + exec_
                    record = {
                        "construct_sec": round(construct, 3),
                        "exec_sec": round(exec_, 3),
                        "jobs": len(tracker.getJobIdsForGroup(group)),
                    }
        except Exception as exc:  # isolate: one bad query must not kill the run
            errors[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            traceback.print_exc(file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        results[name] = rows
        records[name] = {**record, **shape}
    sc.setLocalProperty("spark.jobGroup.id", None)
    return timings, results, errors, records


def replicate(spark, src: str, out: str, factor: int) -> None:
    """Write a ``factor``× replica of ``src``'s documents, embeddings,
    orders and events tables under ``out``.

    Replicas get distinct ids and every content word is tagged with the
    replica id, so replicas are mutually dissimilar (cross-replica
    Jaccard ≈ 0, like genuinely fresh corpus shards) while the near-dup
    structure WITHIN each replica is preserved — output sizes scale
    linearly with the factor, as a real corpus's would, and the engine
    work is the variable under test."""
    from pyspark.sql import functions as F

    reps = spark.range(factor).select(F.col("id").alias("rep"))
    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_docs = docs.count()
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    # stopwords stay untagged so quality scoring keeps
                    # working; content words carry the replica tag, so
                    # cross-replica Jaccard stays ~0 (nearly every
                    # 3-shingle contains a content word)
                    lambda w: F.when(
                        w.isin("the", "a", "of", "and", "is", "to", "in"), w
                    ).otherwise(
                        F.concat(w, F.lit("_"), F.col("rep").cast("string"))
                    ),
                ),
                " ",
            ).alias("text"),
            "lang",
            "source",
            F.col("n_chars").alias("n_chars"),
        )
        .withColumn("n_chars", F.length("text"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    n_emb = emb.count()
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n_emb).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: x + (F.col("rep") % 7).cast("float") * F.lit(0.001),
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )
    # orders: custkey shifted per replica so the 2-D (custkey, date)
    # domain grows linearly in x — the zorder_layout audit sees N× the
    # files over an N×-wider key range, like a real multi-tenant lake
    orders = spark.read.parquet(f"{src}/orders.parquet")
    n_ord, n_cust = orders.agg(F.max("o_orderkey") + 1, F.max("o_custkey") + 1).first()
    (
        orders.crossJoin(reps)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * n_ord)
        .withColumn("o_custkey", F.col("o_custkey") + F.col("rep") * n_cust)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/orders.parquet")
    )
    # events: user_id (and event_id) shifted per replica — the user
    # POPULATION grows N× inside the same 30-day span, like real
    # product growth: per-user event counts, session shapes and
    # conversation lengths stay fixed while row counts scale linearly,
    # so user-keyed operators (sft_pack, sessionization, CUPED) face
    # N× more groups of unchanged size — the shape they must scale on
    ev = spark.read.parquet(f"{src}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    n_usr = ev.agg(F.max("user_id")).first()[0] + 1
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * n_usr).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )


def shuffle_bytes(jobs, stages) -> dict[str, int]:
    """Shuffle bytes written per job group: the summed writes of the
    distinct stages that the group's jobs list (``Job``/``StageTotals``
    from ``perfbench.tracing.read_event_log``). A stage a later job
    reuses is listed again but ran once, so it counts once."""
    ids: dict[str, set[int]] = {}
    for j in jobs:
        ids.setdefault(j.group, set()).update(j.stages)
    return {
        g: sum(stages[s].shuffle_w for s in ss if s in stages) for g, ss in ids.items()
    }


def scale(spark, src: str, names, factors, log_dir: str, plan_dir: str | None) -> int:
    """The ``--scale`` run; stops ``spark`` so the event log is complete."""
    from perfbench.tracing import read_event_log
    from spark_ifs_spark.registry import QUERIES

    rows, failed = [], {}
    for factor in factors:
        sf_dir = os.path.join(tempfile.gettempdir(), "spark_ifs_scale", f"x{factor}")
        replicate(spark, src, sf_dir, factor)
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        timings, results, errors, _ = run_queries(
            spark, sf_dir, QUERIES, names, repeats=1, action=fold, plan_dir=plan_dir
        )
        rows += [
            (factor, n_docs, name, sec, results[name][0]["n"], _job_group(sf_dir, name, 0))
            for name, sec in timings.items()
        ]
        failed.update({f"{name} x{factor}": msg for name, msg in errors.items()})
    # stopping drains the listener bus and closes the event log
    spark.stop()
    shuffle = shuffle_bytes(*read_event_log(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)
    print("| factor | rows(docs) | query | wall s | rows out | shuffle MB |")
    print("|---|---|---|---|---|---|")
    for factor, n_docs, name, sec, n_out, group in rows:
        mb = shuffle.get(group, 0) / 1e6
        print(f"| {factor}x | {n_docs} | {name} | {sec:.1f} | {n_out} | {mb:.1f} |")
    if failed:
        print(json.dumps({"errors": failed}))
    return 1 if failed else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    plan_dir = os.path.join(REPO, "plans", args.plans) if args.plans else None

    if args.factors:
        # an uncompressed, non-rolling event log, read back by
        # perfbench.tracing.read_event_log; submit args are read when
        # the session below launches its JVM
        log_dir = tempfile.mkdtemp(prefix="spark_ifs_eventlog_")
        conf = [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
        prior = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {shlex.quote(c)}" for c in conf] + [prior]
        )

    from spark_ifs_spark.session import get_spark

    spark = get_spark("spark_ifs_bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    if args.factors:
        return scale(spark, sf_dir, args.queries, args.factors, log_dir, plan_dir)

    from spark_ifs_spark.operators.select_columns import select_columns
    from spark_ifs_spark.registry import QUERIES
    from spark_ifs_spark.sources.generator import random_conventional_df

    timings, results, errors, records = run_queries(
        spark, sf_dir, QUERIES, args.queries, plan_dir=plan_dir
    )

    # B4: cross-encoding identity on the embeddings selection (CL:167-169)
    if {"mrmr_select_k5", "row_select_k5"} <= set(args.queries):
        try:
            conv = [(r["rank"], r["feature"]) for r in results["mrmr_select_k5"]]
            alt = [(r["rank"], r["feature"]) for r in results["row_select_k5"]]
            assert conv == alt, f"encoding mismatch: {conv} vs {alt}"
        except Exception as exc:
            errors["cross_encoding_identity"] = (
                f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            )
            traceback.print_exc(file=sys.stderr)

    # B5: synthetic 10k x 50 categorical matrix, full greedy k=10.
    # fixture generation is staged (and materialized) OUTSIDE the timed
    # region — the entry measures the selector, not the RNG fixture
    if not args.names:
        try:
            wide, names = random_conventional_df(spark, rows=10_000, cols=51, seed=42)
            wide = wide.localCheckpoint(eager=True)
            b5 = []
            for _ in range(2):
                t0 = time.perf_counter()
                sel = select_columns(wide, "label", names, num=10)
                assert len(sel) == 10
                b5.append(time.perf_counter() - t0)
            timings["mrmr_k10_synthetic_10kx50"] = round(min(b5), 3)
        except Exception as exc:
            errors["mrmr_k10_synthetic_10kx50"] = (
                f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            )
            traceback.print_exc(file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # One-time session-staging builds (minhash pairs/clusters, kNN edges,
    # bigram LL, ...) are paid on the first consumer's rep 1, which the
    # min-of-2 protocol discards — charge them explicitly so the reported
    # vector accounts for every second of computed work (r13 verdict,
    # "What's wrong" #1). Accounting only: the timed region, the timing
    # protocol, and every existing queries-entry are unchanged.
    from spark_ifs_spark.registry._common import STAGED_BUILD_SECS

    staged_builds = {k: round(v, 3) for k, v in sorted(STAGED_BUILD_SECS.items())}
    staged_total = round(sum(staged_builds.values()), 3)
    report = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "staged_builds": staged_builds,
        "staged_builds_sec": staged_total,
        "config": {
            "pyspark": spark.version,
            "master": f"local[{cpus}]",
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        },
    }
    if errors:
        report["errors"] = errors
    print(json.dumps(report))
    # The driver keeps only the LAST ~2000 chars of bench output, so a
    # single big JSON line loses its head (metric/value/total) to
    # truncation — BENCH_r02..r06 have no recoverable total. Emit a
    # SECOND compact summary line LAST (always < 2000 chars, so it
    # always survives the tail), and persist the full per-query report
    # to bench_full.json so the complete timing history lives in git.
    # Compact per-query signal for the driver (r13 verdict, "What's
    # wrong" #2): the full report line above is ~6 KB and loses its head
    # to the driver's 2000-char tail, so ALSO print the top-40 slowest
    # entries as their own short line (~1.3 KB) ahead of the final
    # summary — additions only, both existing lines are unchanged.
    top40 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:40])
    print(
        json.dumps(
            {
                "metric": "top_slowest_sec",
                "top": top40,
                "staged_builds_sec": staged_total,
                "sf": sf,
            }
        )
    )
    summary = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "n_errors": len(errors),
        "staged_builds_sec": staged_total,
        "sf": sf,
        "config": report["config"],
    }
    if errors:
        summary["error_names"] = sorted(errors)[:20]
    print(json.dumps(summary))
    # The committed bench_full.json is the CANONICAL per-round vector —
    # the next round's ratio denominator. Driver verify reruns used to
    # clobber it in the working tree (flagged by the r11 and r12
    # verdicts), so by default the full report now goes to the
    # untracked bench_out.json; only an explicit
    # SPARK_GRAFT_BENCH_CANONICAL=1 run (the builder producing the
    # round-end canonical commit) writes bench_full.json.
    out_name = (
        "bench_full.json"
        if os.environ.get("SPARK_GRAFT_BENCH_CANONICAL") == "1"
        else "bench_out.json"
    )
    try:
        with open(os.path.join(REPO, out_name), "w") as f:
            json.dump({**report, "records": records}, f, indent=1)
    except OSError:
        pass  # read-only checkout must not fail the bench
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
