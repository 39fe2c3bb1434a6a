"""Skew-safe top-k: the grouped top-k (Catalyst's partial/final
window-group limit) must equal a plain per-key sort under a total order,
including on a deliberately skewed key."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ifs_spark.operators.topk import topk_per_key


def _rows(df):
    rows = df.collect() if hasattr(df, "collect") else df
    return sorted((r["event_type"], r["rank"], r["event_id"]) for r in rows)


def _python_topk(df, k):
    """Per-key top-``k`` of the collected input by (value DESC,
    event_id ASC), ranked 1..k — the reference the window must equal."""
    by_key: dict = {}
    for r in df.collect():
        by_key.setdefault(r["event_type"], []).append(r)
    return [
        {"event_type": key, "rank": i, "event_id": r["event_id"]}
        for key, rows in by_key.items()
        for i, r in enumerate(
            sorted(rows, key=lambda r: (-r["value"], r["event_id"]))[:k], start=1
        )
    ]


def test_salted_equals_single_stage(spark, sf_dir):
    from spark_ifs_spark.sources.parquet import load_events

    ev = load_events(spark, sf_dir)
    a = topk_per_key(ev, ["event_type"], "value", k=5, tiebreak_cols=["event_id"])
    b = _python_topk(ev, 5)
    assert _rows(a) == _rows(b)
    assert len(_rows(a)) > 0


def test_salted_topk_on_skewed_key(spark):
    # one key holds 90% of rows; per-key results must still be exact
    df = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("event_type"),
        F.col("id").alias("event_id"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    a = topk_per_key(df, ["event_type"], "value", k=4, tiebreak_cols=["event_id"])
    b = _python_topk(df, 4)
    assert _rows(a) == _rows(b)
    got = {r["event_type"] for r in a.collect()}
    assert got == {"hot", "cold"}


def test_compact_latest_ties_and_payload(spark):
    """Deterministic winner under order-column ties (tiebreak decides),
    payload columns carried through unchanged."""
    from spark_ifs_spark.operators.topk import compact_latest

    rows = [
        (1, 10, 100, "a"),
        (1, 10, 101, "b"),   # same order value — higher tiebreak wins
        (1, 9, 999, "c"),
        (2, 5, 7, "d"),
    ]
    df = spark.createDataFrame(rows, "k int, o int, tb int, payload string")
    got = {
        r["k"]: (r["o"], r["tb"], r["payload"])
        for r in compact_latest(df, ["k"], "o", tiebreak_cols=["tb"]).collect()
    }
    assert got == {1: (10, 101, "b"), 2: (5, 7, "d")}


def test_compact_latest_equals_window_formulation(spark, sf_dir):
    """The aggregate form must select exactly the rows the window
    formulation selects (unique (order, tiebreak) per key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_ifs_spark.operators.topk import compact_latest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts", "value"
    )
    got = {
        r["user_id"]: r["event_id"]
        for r in compact_latest(ev, ["user_id"], "ts", ["event_id"]).collect()
    }
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        r["user_id"]: r["event_id"]
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == want


def test_grouped_topk_has_one_spelling():
    """Source guard: ``topk_per_key`` is the package's only grouped
    top-k — the retired salted variant and the tf-idf join-strategy
    option do not re-grow, and ``monotonically_increasing_id(`` (whose
    values depend on the input partitioning, so a retried task may
    re-number its rows) is called only where the CSV source assigns ids."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "spark_ifs_spark")
    csv_source = os.path.join(pkg, "sources", "csv.py")
    offenders = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py"):
                continue
            txt = open(path).read()
            offenders += [
                (os.path.relpath(path, repo), tok)
                for tok in ("salted_topk_per_key", "broadcast_vocab")
                if tok in txt
            ]
            if "monotonically_increasing_id(" in txt and path != csv_source:
                offenders.append((os.path.relpath(path, repo), "monotonically_increasing_id("))
    assert not offenders, f"retired top-k spellings in the package: {offenders}"
