"""Bench harness: the failure protocol (a crashing query must be
isolated — recorded in ``errors``, other queries still timed — so a
partial report is always published; round 2's bench crashed mid-run and
published nothing, which this pins against), the per-query record and
plan capture, and the scale mode's replica writer and shuffle
attribution."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_run_queries_isolates_failing_query(spark, sf_dir):
    from bench import run_queries

    def ok(sp, d):
        return sp.range(3)

    def boom(sp, d):
        raise ValueError("forced failure")

    timings, results, errors, records = run_queries(
        spark, sf_dir, {"ok": ok, "boom": boom, "ok2": ok},
        ["ok", "boom", "ok2"], repeats=1,
    )
    # the failure is captured, not raised; later queries still ran
    assert set(timings) == {"ok", "ok2"}
    assert len(results["ok"]) == 3
    assert list(errors) == ["boom"]
    assert errors["boom"].startswith("ValueError: forced failure")
    # the error payload survives the JSON report round-trip
    assert json.loads(json.dumps({"queries": timings, "errors": errors}))


def test_run_queries_records_split_jobs_and_plans(spark, sf_dir, tmp_path):
    from bench import run_queries

    def shuffled(sp, d):
        return sp.range(100).groupBy((F.col("id") % 3).alias("k")).count()

    timings, results, errors, records = run_queries(
        spark, sf_dir, {"shuffled": shuffled}, ["shuffled"], plan_dir=str(tmp_path)
    )
    assert not errors and len(results["shuffled"]) == 3
    rec = records["shuffled"]
    # the best rep's construct/exec split adds up to its timing
    assert abs(rec["construct_sec"] + rec["exec_sec"] - timings["shuffled"]) <= 0.002
    assert rec["jobs"] >= 1
    # the plan is captured with its shape counts
    plan = (tmp_path / "shuffled.txt").read_text()
    assert rec["exchanges"] == plan.count("Exchange") >= 1
    assert rec["py_nodes"] == 0


def test_replicate_doubles_tables_with_distinct_ids(spark, sf_dir, tmp_path):
    from bench import replicate

    replicate(spark, sf_dir, str(tmp_path), 2)
    for table, key in [
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
    ]:
        src = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        out = spark.read.parquet(os.path.join(str(tmp_path), f"{table}.parquet"))
        n = src.count()
        assert out.count() == 2 * n, table
        assert out.select(key).distinct().count() == 2 * n, table
    # content words carry the replica tag; the stopwords stay untagged
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    stop = {"the", "a", "of", "and", "is", "to", "in"}
    docs = spark.read.parquet(os.path.join(str(tmp_path), "documents.parquet")).collect()
    for r in docs:
        tag = f"_{r['doc_id'] // n_docs}"
        assert all(w in stop or w.endswith(tag) for w in r["text"].split(" "))
        assert r["n_chars"] == len(r["text"])


def test_shuffle_bytes_sums_each_groups_stages():
    from bench import shuffle_bytes
    from perfbench.tracing import Job, StageTotals

    jobs = [
        Job("a", 0.0, 1.0, [0, 1]),
        # a later job of the same group lists the reused stage 1 again
        Job("a", 1.0, 2.0, [1, 2]),
        Job("b", 2.0, 3.0, [3]),
        Job("", 3.0, 4.0, [4]),
    ]
    stages = {
        0: StageTotals(shuffle_w=10, shuffle_r=1000),
        1: StageTotals(shuffle_w=20),
        2: StageTotals(shuffle_w=0, shuffle_r=20),
        3: StageTotals(shuffle_w=7),
        4: StageTotals(shuffle_w=500),
    }
    out = shuffle_bytes(jobs, stages)
    assert out["a"] == 30
    assert out["b"] == 7
