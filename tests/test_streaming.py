"""Streaming parity: the same transform body must produce identical
results through spark.readStream (file source → memory sink, one
micro-batch) as through the batch reader."""

from __future__ import annotations

import shutil

import pytest

from spark_ifs_spark.sources.parquet import load_events
from spark_ifs_spark.streaming.events import sessionize, windowed_event_counts


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    # file-source streaming needs a directory; ns-timestamps need the
    # nanosAsLong conf already set by load_events
    d = tmp_path_factory.mktemp("events_stream")
    batch = load_events(spark, sf_dir)
    batch.write.mode("overwrite").parquet(str(d / "events"))
    return str(d / "events"), batch


def _run_stream(spark, path, schema, transform, name):
    stream = spark.readStream.schema(schema).parquet(path)
    out = transform(stream)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_stream_equals_batch(spark, events_stream_dir):
    path, batch = events_stream_dir
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in windowed_event_counts(batch).collect()
    }
    got_df = _run_stream(
        spark, path, batch.schema, lambda df: windowed_event_counts(df), "win_counts"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in got_df.collect()
    }
    assert got == want
    assert len(got) > 0


def test_sessionize_stream_equals_batch(spark, events_stream_dir):
    path, batch = events_stream_dir
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessionize(batch).collect()
    }
    got_df = _run_stream(spark, path, batch.schema, lambda df: sessionize(df), "sessions")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in got_df.collect()
    }
    assert got == want
    assert len(got) > 0


def test_sessionize_gap_boundary_matches_oracle(spark):
    """Pin the exact-gap boundary semantics: Spark's session_window MERGES
    an event landing at exactly last_ts + gap into the running session
    (verified here), so the DuckDB oracle's strictly-greater break
    condition (`ts - lag(ts) > gap`) is the correct mirror — switching it
    to >= would break agreement on boundary timestamps."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=30), 2.0),          # == gap: same session
        (1, base + dt.timedelta(minutes=60, seconds=1), 4.0),  # gap+1s: new session
        (2, base, 1.0),
        (2, base + dt.timedelta(minutes=29, seconds=59), 8.0),  # under gap
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in sessionize(df, gap="30 minutes").collect()
    }
    assert got[(1, base)] == (2, 3.0)  # boundary event merged
    assert got[(1, base + dt.timedelta(minutes=60, seconds=1))] == (1, 4.0)
    assert got[(2, base)] == (2, 9.0)

    con = duckdb.connect()
    con.execute("CREATE TABLE ev (user_id INT, ts TIMESTAMP, value DOUBLE)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)", rows)
    oracle = con.execute(
        """
        WITH o AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        )
        SELECT user_id, min(ts), count(*), sum(value) FROM s GROUP BY user_id, sid
        """
    ).fetchall()
    want = {(u, s): (n, v) for u, s, n, v in oracle}
    assert got == want


def test_stateful_user_stats_multi_batch(spark, sf_dir):
    """applyInPandasWithState must fold state ACROSS micro-batches: with a
    2-file source and maxFilesPerTrigger=1, a user seen in both batches
    gets two update rows whose final state equals the batch aggregate."""
    from spark_ifs_spark.registry import q_events_user_stats
    from spark_ifs_spark.sources.parquet import load_events

    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in q_events_user_stats(spark, sf_dir).collect()
    }
    from pyspark.sql import functions as F

    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_dedup_events_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming dropDuplicatesWithinWatermark over a doubled input must
    recover exactly the batch-distinct row set."""
    from spark_ifs_spark.sources.parquet import load_events
    from spark_ifs_spark.streaming.events import dedup_events

    batch = load_events(spark, sf_dir)
    doubled = batch.union(batch)
    path = str(tmp_path / "doubled")
    doubled.write.mode("overwrite").parquet(path)

    want = dedup_events(doubled).count()
    assert want == batch.count()

    stream = spark.readStream.schema(batch.schema).parquet(path)
    out = dedup_events(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_ev")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql("SELECT count(DISTINCT event_id) AS n, count(*) AS total FROM dedup_ev").first()
    assert got["total"] == want
    assert got["n"] == want


def test_dedup_stream_late_duplicates_straddle_watermark(spark, tmp_path):
    """Pin dropDuplicatesWithinWatermark state-expiry semantics across
    micro-batches: after batch 1 advances the watermark, (a) a duplicate
    whose event time is still within the watermark horizon is dropped by
    state, (b) a duplicate of the same id at a later-but-within-horizon
    timestamp is also dropped, (c) a LATE duplicate older than the
    watermark is filtered as late input (NOT re-emitted after state
    expiry), and (d) genuinely new ids pass. Net: exactly one output row
    per event_id."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time

    from spark_ifs_spark.streaming.events import dedup_events

    sch = "event_id long, ts timestamp, value double"
    b = dt.datetime(2024, 1, 1, 10, 0, 0)
    batch1 = [(1, b, 1.0), (2, b + dt.timedelta(hours=2), 2.0)]
    batch2 = [
        (1, b, 1.0),                                       # (c) late dup, beyond watermark
        (2, b + dt.timedelta(hours=2), 2.0),               # (a) dup within watermark
        (2, b + dt.timedelta(hours=2, minutes=10), 2.5),   # (b) same id, later ts
        (3, b + dt.timedelta(hours=2, minutes=30), 3.0),   # (d) new id
    ]
    flat = str(tmp_path / "flat")
    os.makedirs(flat)

    def _stage(rows, prefix):
        staging = str(tmp_path / f"stage_{prefix}")
        spark.createDataFrame(rows, sch).coalesce(1).write.mode("overwrite").parquet(staging)
        for i, p in enumerate(sorted(glob.glob(os.path.join(staging, "*.parquet")))):
            shutil.copy(p, os.path.join(flat, f"{prefix}{i}.parquet"))

    _stage(batch1, "a")
    time.sleep(1.2)  # file source orders batches by modification time
    _stage(batch2, "b")

    stream = spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(flat)
    q = (
        dedup_events(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dd_straddle")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert q.lastProgress is not None
    got = [
        (r["event_id"], r["ts"], r["value"])
        for r in spark.sql("SELECT * FROM dd_straddle ORDER BY event_id, ts").collect()
    ]
    assert got == [
        (1, b, 1.0),
        (2, b + dt.timedelta(hours=2), 2.0),
        (3, b + dt.timedelta(hours=2, minutes=30), 3.0),
    ]


def test_streaming_parquet_sink_day_partitioned(spark, sf_dir, tmp_path):
    """writeStream -> day-partitioned parquet: files land under day=...,
    read-back equals the batch input, and a day filter partition-prunes."""
    import os

    from spark_ifs_spark.plans import explain_str
    from spark_ifs_spark.sources.parquet import load_events
    from spark_ifs_spark.streaming.events import write_events_stream

    batch = load_events(spark, sf_dir)
    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = write_events_stream(stream, out, ckpt)
    q.awaitTermination(120)
    assert any(d.startswith("day=") for d in os.listdir(out))

    back = spark.read.parquet(out)
    assert back.count() == batch.count()
    pruned = back.filter(back["day"] == back.select("day").first()["day"])
    assert "PartitionFilters" in explain_str(pruned)


def test_stream_static_enrichment_join(spark, sf_dir, tmp_path):
    """Stream-static join enriches every event without stream state;
    stream result == batch result."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.sources.parquet import load_events
    from spark_ifs_spark.streaming.events import join_events_to_user_profile

    batch = load_events(spark, sf_dir)
    profiles = batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_n_events"))
    want = join_events_to_user_profile(batch, profiles).filter(
        F.col("user_n_events").isNotNull()
    ).count()
    assert want == batch.count()

    src = str(tmp_path / "src2")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = join_events_to_user_profile(stream, profiles)
    q = (
        out.writeStream.format("memory")
        .queryName("enriched_ev")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n FROM enriched_ev WHERE user_n_events IS NOT NULL"
    ).first()["n"]
    assert got == want


def test_attribution_stream_stream_join_equals_batch(spark, events_stream_dir):
    """Stream-stream interval join (both sides unbounded, watermark +
    time-range bound the state) emits exactly the batch join's pairs."""
    from pyspark.sql import functions as F

    from spark_ifs_spark.streaming.events import attribute_events

    path, batch = events_stream_dir

    def body(df):
        views = df.where(F.col("event_type") == "view")
        clicks = df.where(F.col("event_type") == "click")
        return attribute_events(views, clicks, horizon="30 minutes")

    want = {(r["lead_id"], r["follow_id"]) for r in body(batch).collect()}
    stream = spark.readStream.schema(batch.schema).parquet(path)
    q = (
        body(stream)
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["lead_id"], r["follow_id"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    assert got == want
    assert len(got) > 0


def test_running_user_stats_tws_parity(spark, sf_dir, tmp_path):
    """transformWithStateInPandas operator ≡ batch GROUP BY (and hence ≡
    the applyInPandasWithState operator, which has the same pin). The
    TWS runtime needs google.protobuf for its state-server channel;
    where the real package is absent, the vendored pure-Python shim
    (vendor/protoshim) supplies it — this JVM round-trip is the shim's
    authoritative wire-format validation."""
    from spark_ifs_spark.streaming.stateful import ensure_protobuf

    assert ensure_protobuf(spark), "protobuf unavailable and shim failed"

    from pyspark.sql import functions as F

    from spark_ifs_spark.streaming.stateful import running_user_stats_tws

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "value")
    src = str(tmp_path / "tws_src")
    ev.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # TWS state cells are column families — only the RocksDB provider
    # (rocksdbjni ships in Spark's jars) supports them; the default
    # HDFS-backed provider refuses at query start.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            running_user_stats_tws(stream)
            .writeStream.format("memory")
            .queryName("tws_stats")
            .option("checkpointLocation", str(tmp_path / "tws_ck"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    got = {
        r["user_id"]: (r["n"], r["s"])
        for r in spark.sql(
            "SELECT user_id, max_by(n_events, n_events) AS n,"
            "       max_by(sum_value, n_events) AS s"
            " FROM tws_stats GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    assert all(
        got[u][0] == want[u][0] and abs(got[u][1] - want[u][1]) < 1e-6
        for u in want
    )


def test_tws_processor_logic_with_fake_handle(spark, sf_dir):
    """Executes the ``_RunningStatsProcessor`` fold for real — init,
    multi-batch handleInputRows, state round-trips, emission shape —
    against an in-memory fake of the TWS handle/ValueState API, and pins
    it row-for-row against the ``applyInPandasWithState`` transition on
    the same batches. The protobuf state-server channel is the ONLY part
    this can't cover (it is absent in this sandbox, which is why
    ``test_running_user_stats_tws_parity`` self-skips here); the
    operator's own logic does execute."""
    import pandas as pd

    from spark_ifs_spark.streaming.stateful import (
        _RunningStatsProcessor,
        _update_user_stats,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    class FakeGroupState:  # applyInPandasWithState-side equivalent
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    proc = _RunningStatsProcessor()
    handle = FakeHandle()
    proc.init(handle)
    gs = FakeGroupState()

    batches = [
        [pd.DataFrame({"value": [1.0, 2.5]})],
        [pd.DataFrame({"value": [0.5]}), pd.DataFrame({"value": [3.0, -1.0]})],
    ]
    for rows in batches:
        tws_out = pd.concat(list(proc.handleInputRows((7,), iter(rows), None)))
        aip_out = pd.concat(list(_update_user_stats((7,), iter(rows), gs)))
        pd.testing.assert_frame_equal(
            tws_out.reset_index(drop=True), aip_out.reset_index(drop=True)
        )
    # both APIs hold identical folded state after two micro-batches
    assert handle.states["agg"].get() == gs.get == (5, 6.0)
    proc.close()


def test_streaming_sink_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed file sink across restarts: a second run over the
    same source must be a no-op, and a run after new files arrive must
    emit ONLY the new rows — the exactly-once/idempotent-restart
    contract a 100 TB event lake depends on (reprocessing after a
    failure must never double-write history)."""
    import os
    import shutil

    from spark_ifs_spark.sources.parquet import load_events
    from spark_ifs_spark.streaming.events import write_events_stream

    batch = load_events(spark, sf_dir).limit(2000).localCheckpoint(eager=True)
    half1 = batch.filter(batch["event_id"] % 2 == 0)
    half2 = batch.filter(batch["event_id"] % 2 == 1)

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    half1.coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = write_events_stream(stream, out, ckpt)
        assert q.awaitTermination(120)

    run()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()

    # restart with nothing new: must write zero rows
    run()
    assert spark.read.parquet(out).count() == n1

    # new files arrive; restart picks up ONLY those
    half2.coalesce(1).write.mode("append").parquet(src)
    run()
    back = spark.read.parquet(out)
    assert back.count() == batch.count()
    assert back.select("event_id").distinct().count() == batch.count()


def test_upsert_materialized_view_two_batches(spark, tmp_path):
    """Drive the foreachBatch MERGE over two real micro-batches: batch 2
    must replace keys it carries newer versions for, insert new keys,
    and carry over untouched keys; the final view must equal one-shot
    compaction of the full feed."""
    from spark_ifs_spark.operators.topk import compact_latest
    from spark_ifs_spark.streaming.events import upsert_materialized_view

    src = tmp_path / "feed"
    view = tmp_path / "view"
    ckpt = tmp_path / "ckpt"
    b1 = spark.createDataFrame(
        [(1, 10, "a1"), (2, 10, "b1"), (3, 10, "c1")], ["k", "v", "payload"]
    )
    b2 = spark.createDataFrame(
        [(2, 20, "b2"), (4, 5, "d1")], ["k", "v", "payload"]
    )
    b1.write.parquet(str(src / "f1.parquet"))
    schema = b1.schema

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = upsert_materialized_view(
            stream, str(view), str(ckpt), ["k"], "v", []
        )
        q.awaitTermination(120)

    run()
    got1 = {r["k"]: (r["v"], r["payload"]) for r in spark.read.parquet(str(view)).collect()}
    assert got1 == {1: (10, "a1"), 2: (10, "b1"), 3: (10, "c1")}

    b2.write.parquet(str(src / "f2.parquet"))
    run()  # second availableNow run picks up only the new file
    got2 = {r["k"]: (r["v"], r["payload"]) for r in spark.read.parquet(str(view)).collect()}
    assert got2 == {1: (10, "a1"), 2: (20, "b2"), 3: (10, "c1"), 4: (5, "d1")}

    # equivalence: the incremental view == one-shot compaction of the feed
    full = compact_latest(b1.unionByName(b2), ["k"], "v")
    expect = {r["k"]: (r["v"], r["payload"]) for r in full.collect()}
    assert got2 == expect


def test_upsert_view_stale_batch_does_not_regress(spark, tmp_path):
    """A batch carrying an OLDER version of an existing key must not
    overwrite the newer state already in the view (the merge compacts
    by (order, tiebreaks), not by arrival)."""
    from spark_ifs_spark.streaming.events import upsert_materialized_view

    src = tmp_path / "feed"
    view = tmp_path / "view"
    ckpt = tmp_path / "ckpt"
    schema = "k long, v long, payload string"
    spark.createDataFrame([(1, 50, "new")], schema).write.parquet(str(src / "f1.parquet"))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        upsert_materialized_view(
            stream, str(view), str(ckpt), ["k"], "v", []
        ).awaitTermination(120)

    run()
    spark.createDataFrame([(1, 10, "stale")], schema).write.parquet(str(src / "f2.parquet"))
    run()
    got = {r["k"]: (r["v"], r["payload"]) for r in spark.read.parquet(str(view)).collect()}
    assert got == {1: (50, "new")}
