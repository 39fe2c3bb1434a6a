"""Event analytics: sessions, funnels, cohorts, SCD2, streaming parity."""

from spark_ifs_spark.registry._common import *  # noqa: F401,F403
from spark_ifs_spark.registry._common import (  # noqa: F401
    _BENFORD_PPM,
    _PROFILE_SKETCH_COLS,
    _SQL_SHINGLES,
    _SQL_WORDS,
    _lr_features,
    _quantized_wide,
    _read,
    _sql_bpe_round,
    _sql_count_word,
    _sql_emb_long,
    _sql_emb_lsh_cand,
    _sql_pair_mi,
    _sql_unrolled_greedy,
    _t,
)


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="1 day")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def sql_events_daily() -> str:
    return """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_ifs_spark.functions.timeutil import epoch_us

    ev = _read(spark, sf_dir, "events")
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        "user_id",
        epoch_us(out, "session_start").alias("session_start_us"),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def sql_events_sessionize() -> str:
    return """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_events_asof_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event matched to the user's most recent signup
    event at-or-before it (union + window carry-forward plan, one
    shuffle). Oracle is DuckDB's native ASOF LEFT JOIN — a built-in the
    engine composes from DataFrame ops (SURVEY custom-operator case)."""
    from spark_ifs_spark.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "ts", F.col("event_id").alias("signup_event"))
    )
    out = asof_join(
        ev, signups, by_cols=["user_id"], ts_col="ts", value_cols=["signup_event"]
    )
    return out.select("event_id", "user_id", "signup_event")


def sql_events_asof_signup() -> str:
    return """
SELECT l.event_id, l.user_id, r.event_id AS signup_event
FROM events l
ASOF LEFT JOIN (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup'
) r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_events_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe top-3 events by value per event type (the grouped
    top-k: each map partition keeps at most 3 rows per type before the
    one shuffle, so task input is bounded under any key skew)."""
    from spark_ifs_spark.operators.topk import topk_per_key

    ev = _read(spark, sf_dir, "events")
    out = topk_per_key(ev, ["event_type"], "value", k=3, tiebreak_cols=["event_id"])
    return out.select(
        "event_type", "rank", "event_id", F.round("value", 6).alias("value")
    )


def sql_events_topk_per_type() -> str:
    return """
SELECT event_type, rank, event_id, round(value, 6) AS value
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank
  FROM events
)
WHERE rank <= 3
"""


@staged("user_stats_src", "events")
def _user_stats_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``(user_id, value)`` events projection as a 2-file streaming
    source for the two stateful user-stats queries, session-staged so a
    repeat call times the stream, not the staging."""
    ev = _read(spark, sf_dir, "events").select("user_id", "value")
    return ev.repartition(2)


def q_events_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``)
    driven for real: the events table is re-staged as a 2-file streaming
    source so the state store folds ≥2 micro-batches, then the memory
    sink's per-batch updates are reduced to each user's final state —
    which must equal the plain batch ``GROUP BY`` the oracle runs."""
    import os
    import shutil
    import tempfile
    import uuid

    from spark_ifs_spark.streaming.stateful import running_user_stats

    name = f"user_stats_{uuid.uuid4().hex[:8]}"
    src = _user_stats_src.path(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="sis_stateful_ckpt_")
    try:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            running_user_stats(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # partial state would silently pass the shape checks — fail loud
        # on timeout instead of reading a half-folded table
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("events_user_stats stream did not finish in 600s")
    finally:
        # the memory sink holds the results in the session; the staged
        # source and checkpoint are only needed while the stream runs
        shutil.rmtree(d, ignore_errors=True)
    updates = spark.table(name)
    # n_events is strictly increasing per user across its update rows, so
    # max_by picks the final state deterministically.
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("sum_value", "n_events"), 6).alias("sum_value"),
    )


def sql_events_user_stats() -> str:
    return """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY user_id
"""


def q_events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-7-day user activity (count + value sum) — the
    time-range window frame (``RANGE BETWEEN``) every feature-store
    backfill needs. The frame is keyed on ``unix_micros(ts)`` so both
    engines use the identical numeric range; one shuffle on user_id.
    Scale note: a pathologically hot user serializes its partition —
    beyond that, split the frame into (tumbling-window partial sums) +
    (per-event tail correction), which trades one window for two
    bounded aggregations."""
    from pyspark.sql import Window

    from spark_ifs_spark.functions.timeutil import epoch_us

    ev = _read(spark, sf_dir, "events")
    us = epoch_us(ev, "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.round(F.sum("value").over(w), 6).alias("sum_7d"),
    )


def sql_events_rolling_7d() -> str:
    return """
SELECT event_id, user_id,
       count(*) OVER w AS n_7d,
       round(sum(value) OVER w, 6) AS sum_7d
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
)
"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→click attribution pairs within 30 minutes per user — the
    batch body of the stream-stream interval join
    (``streaming/events.py:attribute_events``); streaming parity is
    pinned in ``tests/test_streaming.py``."""
    from spark_ifs_spark.streaming.events import attribute_events

    ev = _read(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view")
    clicks = ev.where(F.col("event_type") == "click")
    return attribute_events(views, clicks, horizon="30 minutes")


def sql_events_attribution() -> str:
    return """
SELECT v.user_id,
       v.event_id AS lead_id,
       c.event_id AS follow_id,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 30 MINUTE
"""


def q_events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: each user's most recent event — see
    :func:`~spark_ifs_spark.operators.topk.compact_latest` for why this
    is one map-combined aggregate and not a window sort."""
    from spark_ifs_spark.functions.timeutil import epoch_us
    from spark_ifs_spark.operators.topk import compact_latest

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    out = compact_latest(ev, ["user_id"], "ts", tiebreak_cols=["event_id"])
    return out.select(
        "user_id",
        "event_id",
        epoch_us(out, "ts").alias("ts_us"),
        "event_type",
        F.round("value", 6).alias("value"),
    )


def sql_events_latest_state() -> str:
    return """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
       round(value, 6) AS value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
)
WHERE rn = 1
"""


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized value sums — see :func:`~spark_ifs_spark.
    operators.textstats.winsorize_by_key` (bounded quantile aggregate
    broadcast back; corpus never shuffles)."""
    from spark_ifs_spark.operators.textstats import winsorize_by_key

    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    w = winsorize_by_key(ev, "event_type", "value", 0.01, 0.99)
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value_clipped"), 4).alias("sum_clipped"),
    )


def sql_events_winsorized() -> str:
    return """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS qlo,
         quantile_cont(value, 0.99) AS qhi
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       round(sum(least(greatest(e.value, q.qlo), q.qhi)), 4) AS sum_clipped
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
"""


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column with
    an EXPLICIT schema (``from_json`` — schema inference over a 100 TB
    JSON column is a second full scan, same rule as the JSONL source)
    and aggregate on the extracted field. The parse is a scan-fused
    projection; the aggregate keys on event_type — bounded."""
    ev = _read(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_high"),
        )
    )


def sql_events_props_json() -> str:
    return """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in ONE pass: ``ROLLUP(event_type, day)``
    emits (type, day), (type, ·), and (·, ·) aggregation levels from a
    single shuffle — the subtotal report that would otherwise be three
    unioned aggregates scanning the corpus three times. Grouping-set
    expansion happens map-side; the key space stays bounded
    (types × days + types + 1)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
        )
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def sql_events_rollup() -> str:
    return """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, weekday): all four aggregation levels —
    (t,w), (t,·), (·,w), (·,·) — from ONE shuffle, completing the
    grouping-sets family next to ROLLUP (which omits (·,w)). Key space
    stays types × 7 + types + 7 + 1."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", F.date_format("ts", "E").alias("weekday"), "value"
        )
        .cube("event_type", "weekday")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def sql_events_cube() -> str:
    # DuckDB strftime('%a') gives the same abbreviated weekday names as
    # Spark's 'E' pattern under the C/POSIX default locale
    return """
SELECT event_type, strftime(ts, '%a') AS weekday,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%a'))
"""


def q_events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational transpose: one row per day, one value column per
    event type (``df.groupBy().pivot()`` with an EXPLICIT type list —
    the implicit form runs a distinct-scan first and bakes data into
    the plan, which a 100 TB pipeline never wants). Compiles to the
    same single CASE-aggregate pass as the Q12 shape."""
    ev = _read(spark, sf_dir, "events")
    types = ["view", "click", "purchase"]
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type", "value"
        )
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 4))
    )


def sql_events_type_pivot() -> str:
    arms = ", ".join(
        f"round(sum(CASE WHEN event_type = '{t}' THEN value END), 4) AS \"{t}\""
        for t in ["view", "click", "purchase"]
    )
    return f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, {arms}
FROM events GROUP BY 1
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel (view → click-after-view →
    purchase-after-click): per-user conditional-min chains, every join
    user-keyed — see ``operators/events_analytics.funnel_counts``."""
    from spark_ifs_spark.operators import events_analytics

    ev = _read(spark, sf_dir, "events")
    return events_analytics.funnel_counts(
        ev, "user_id", "ts", "event_type", FUNNEL_STAGES
    )


def sql_events_funnel() -> str:
    s0, s1, s2 = FUNNEL_STAGES
    return f"""
WITH s0 AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = '{s0}' GROUP BY 1
), s1 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s0 ON s0.user_id = e.user_id
  WHERE e.event_type = '{s1}' AND e.ts > s0.t0
  GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = '{s2}' AND e.ts > s1.t1
  GROUP BY 1
)
SELECT '{s0}' AS stage, CAST(count(*) AS BIGINT) AS users FROM s0
UNION ALL SELECT '{s1}', CAST(count(*) AS BIGINT) FROM s1
UNION ALL SELECT '{s2}', CAST(count(*) AS BIGINT) FROM s2
"""


def q_events_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention grid (first-activity-week × week offset)
    — ``operators/events_analytics.cohort_retention``."""
    from spark_ifs_spark.operators import events_analytics

    ev = _read(spark, sf_dir, "events")
    return events_analytics.cohort_retention(ev, "user_id", "ts")


def sql_events_cohorts() -> str:
    return """
WITH first AS (
  SELECT user_id, min(ts) AS f FROM events GROUP BY 1
), cohort AS (
  SELECT user_id, date_trunc('week', f) AS cw FROM first
), act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cw, wk) / 7 AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM act JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → SCD2 validity intervals per user (one entity-keyed
    window, ties total-ordered by event id) —
    ``operators/events_analytics.scd2_intervals``."""
    from spark_ifs_spark.operators import events_analytics

    ev = _read(spark, sf_dir, "events")
    return events_analytics.scd2_intervals(
        ev, "user_id", "ts", "event_id", ["event_type", "value"]
    )


def sql_events_scd2() -> str:
    return """
SELECT user_id, event_id, event_type, value,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       ) AS valid_to_us
FROM events
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive
    per-user events (``events_analytics.transition_matrix``) — integer
    ppm conditionals."""
    from spark_ifs_spark.operators import events_analytics

    ev = _read(spark, sf_dir, "events")
    return events_analytics.transition_matrix(
        ev, "user_id", "ts", "event_id", "event_type"
    )


def sql_event_transitions() -> str:
    return """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, c,
       CAST(floor(c * 1000000 / sum(c) OVER (PARTITION BY from_type)) AS BIGINT) AS p_micro
FROM counts
"""


def q_session_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: gap-sessionized (12 h inactivity) per-session
    event sequences, counted corpus-wide
    (``events_analytics.session_journeys`` — batch gap sessionization
    via stacked windows over ONE user-keyed sort, order-embedded
    journey aggregate, TakeOrdered cut)."""
    from spark_ifs_spark.operators import events_analytics

    ev = _read(spark, sf_dir, "events")
    return events_analytics.session_journeys(
        ev, "user_id", "ts", "event_id", "event_type",
        gap_s=JOURNEY_GAP_S, k=JOURNEY_K,
    )


def sql_session_journeys() -> str:
    gap_us = JOURNEY_GAP_S * 1_000_000
    return f"""
WITH base AS (
  SELECT user_id AS u, event_id AS id, event_type AS t, epoch_us(ts) AS us
  FROM events
), flagged AS (
  SELECT u, id, t, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY u ORDER BY us, id) > {gap_us}
              THEN 1 ELSE 0 END AS strt
  FROM base
), sess AS (
  SELECT u, id, t, us,
         sum(strt) OVER (PARTITION BY u ORDER BY us, id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), j AS (
  SELECT u, sid, string_agg(t, '>' ORDER BY us, id) AS journey
  FROM sess GROUP BY 1, 2
)
SELECT journey, CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY 1
ORDER BY n DESC, journey ASC
LIMIT {JOURNEY_K}
"""


def q_events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly scoring: each (event_type, day)'s count z-scored
    against that type's full daily history — the monitoring query every
    event pipeline alerts on. Exactness: daily counts are integers, so
    the z-score uses the same exact-integer sufficient-statistic form
    as ``supplier_zscore`` (``(n·x−S)/sqrt(n·Q−S²)``) — no float
    aggregate anywhere. Plan: ONE corpus-scale map-combined aggregate
    to (type, day); everything after runs on the bounded types×days
    relation (per-type stats broadcast back)."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s_"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    disc = F.col("n") * F.col("q") - F.col("s_") * F.col("s_")
    z = F.when(
        disc > 0,
        F.floor(
            (F.col("n") * F.col("c") - F.col("s_")).cast("double")
            * F.lit(1000000.0)
            / F.sqrt(disc.cast("double"))
        ).cast("long"),
    )
    return daily.join(F.broadcast(stats), "event_type").select(
        "event_type", "day", "c", z.alias("z_micro")
    )


def sql_events_daily_anomaly() -> str:
    return """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s_, CAST(sum(c * c) AS BIGINT) AS q
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.c,
       CASE WHEN st.n * st.q - st.s_ * st.s_ > 0
            THEN CAST(floor(CAST(st.n * d.c - st.s_ AS DOUBLE) * 1000000.0
                            / sqrt(CAST(st.n * st.q - st.s_ * st.s_ AS DOUBLE))) AS BIGINT)
       END AS z_micro
FROM daily d JOIN stats st USING (event_type)
"""


def q_events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users: portable-HLL estimate side by side
    with the exact count — the incremental corpus statistic (sketches
    merge by bucket-max; union = merge, no re-scan) with its error
    visible in the result. The HLL is md5-based with exact integer
    register arithmetic, so the DuckDB oracle reproduces the estimate
    bit-for-bit — approximate, but differentially TESTED (unlike
    ``approx_count_distinct``, whose engine-specific HLL++ no oracle
    can check). See :func:`~spark_ifs_spark.operators.sketches.
    hll_distinct`."""
    from spark_ifs_spark.operators.sketches import hll_distinct

    ev = _read(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id", p=HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        F.round("est_distinct", 4).alias("est_distinct"),
        "exact_distinct",
    )


def sql_events_hll_users() -> str:
    from spark_ifs_spark.operators.sketches import sql_hll_distinct

    hll = sql_hll_distinct("events", ["event_type"], "user_id", p=HLL_P)
    return f"""
WITH hll AS ({hll}),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT h.event_type, round(h.est_distinct, 4) AS est_distinct, e.exact_distinct
FROM hll h JOIN exact e USING (event_type)
"""


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands shape (day_number − row_number() is constant
    within an island), the one classic windowed-SQL pattern the
    registry did not yet cover. Plan: the corpus folds to DISTINCT
    (user, day) first (one hash aggregate, map-combined), so the two
    windows and the two bounded aggregates all run on the
    users × days relation, never on raw events."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("dy")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dy")
    grp = (
        F.datediff(F.col("dy"), F.lit("2024-01-01").cast("date"))
        - F.row_number().over(w)
    )
    islands = days.select("user_id", grp.alias("grp"))
    return (
        islands.groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("longest_streak"))
    )


def sql_user_streaks() -> str:
    return """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events),
g AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', dy)
           - row_number() OVER (PARTITION BY user_id ORDER BY dy) AS grp
  FROM d
)
SELECT user_id, max(len) AS longest_streak
FROM (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2) s
GROUP BY user_id
"""


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics: mean and max gap between a
    user's consecutive events of the same type — the workload-cadence
    profile capacity planning reads. Exact integer arithmetic
    throughout: gaps are epoch-microsecond differences, the mean is
    ``floor(Σgap / n)`` — no float aggregation. ONE (user, type)-keyed
    lag window over the events projection, then a bounded per-type
    aggregate."""
    from pyspark.sql import Window

    from spark_ifs_spark.functions.timeutil import epoch_us

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = epoch_us(ev, "ts")
    gaps = (
        ev.select(
            "event_type",
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.floor(F.sum("gap_us") / F.count(F.lit(1))).cast("long").alias("mean_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def sql_events_interarrival() -> str:
    return """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
       count(*) AS n_gaps,
       CAST(floor(sum(gap_us) * 1.0 / count(*)) AS BIGINT) AS mean_gap_us,
       max(gap_us) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


def q_user_value_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user — each value weighted
    by how long it was "current" (until the user's next event): the
    billing/sensor aggregation where a plain mean over-counts bursts.
    Exact integer core: values quantize to cents, durations are
    epoch-µs lag differences, and Σ(v_c·Δt) / ΣΔt accumulates as
    decimal(38,0)/HUGEINT products — the one double division happens on
    exact inputs. ONE user-keyed lead window + one bounded aggregate."""
    from pyspark.sql import Window

    from spark_ifs_spark.functions.timeutil import epoch_us

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us(ev, "ts")
    spans = (
        ev.select(
            "user_id",
            F.floor(F.col("value") * 100).cast("long").alias("vc"),
            (F.lead(us).over(w) - us).alias("dt"),
        )
        .filter(F.col("dt").isNotNull())
    )
    return (
        spans.groupBy("user_id")
        .agg(
            # operand cast BEFORE the multiply (ab_cuped convention):
            # the int64 product vc*dt would wrap silently at large spans
            F.sum(F.col("vc").cast("decimal(38,0)") * F.col("dt")).alias("_num"),
            F.sum("dt").alias("_den"),
        )
        .select(
            "user_id",
            F.round(
                F.col("_num").cast("double") / F.col("_den").cast("double") / 100.0, 6
            ).alias("twa_value"),
        )
    )


def sql_user_value_twa() -> str:
    return """
WITH spans AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT) AS vc,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt
  FROM events
)
SELECT user_id,
       round(CAST(sum(vc * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE) / 100.0, 6)
         AS twa_value
FROM spans WHERE dt IS NOT NULL
GROUP BY user_id
"""


def q_orders_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfilment SLA by priority: the share of orders whose
    EVERY lineitem shipped within 60 days — relational division
    ("for all") folded into one aggregate: ``min(shipped_in_sla)`` per
    order instead of NOT EXISTS probing, then an integer-ppm rollup per
    priority. Two aggregates, both map-combined; the orders⋈lineitem
    join keys on the natural co-partitioned key."""
    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    per_order = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                F.col("l_shipdate")
                <= F.col("o_orderdate") + F.expr(f"INTERVAL {SLA_DAYS} DAYS")
            ).cast("int").alias("in_sla"),
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.min("in_sla").alias("all_in_sla"))
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.floor(
            F.sum("all_in_sla") * F.lit(1_000_000) / F.count(F.lit(1))
        ).cast("long").alias("sla_ppm"),
    )


def sql_orders_sla() -> str:
    return f"""
WITH per_order AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         min(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL {SLA_DAYS} DAY
                  THEN 1 ELSE 0 END) AS all_in_sla
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(floor(sum(all_in_sla) * 1000000.0 / count(*)) AS BIGINT) AS sla_ppm
FROM per_order
GROUP BY o_orderpriority
"""


def q_events_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT users per day — the rolling-uniques
    dashboard metric that exact windowing cannot do incrementally
    (distinct doesn't decompose over sliding windows) and the portable
    HLL does by construction: per-day register files build once from
    the corpus, and each day's trailing window is a bucket-max MERGE of
    ≤7 bounded register sets (days × 2^p cells — the corpus is touched
    exactly once). THE use case mergeable sketches exist for, with the
    estimate still exactly reproduced by the DuckDB oracle."""
    from spark_ifs_spark.operators.sketches import hll_estimate, hll_registers

    ev = _read(spark, sf_dir, "events")
    daily = hll_registers(
        ev.select(F.to_date("ts").alias("dy"), "user_id"), ["dy"], "user_id", p=HLL_P
    )
    days = daily.select("dy").distinct()
    win = days.select(F.col("dy").alias("win_day")).join(
        daily,
        (F.col("dy") <= F.col("win_day"))
        & (F.col("dy") >= F.date_sub(F.col("win_day"), 6)),
    )
    merged = win.groupBy("win_day", "_b").agg(F.max("_M").alias("_M"))
    out = hll_estimate(merged, ["win_day"], p=HLL_P)
    return out.select(
        F.date_format("win_day", "yyyy-MM-dd").alias("day"),
        F.round("est_distinct", 4).alias("est_users_7d"),
    )


def sql_events_rolling_7d_users() -> str:
    from spark_ifs_spark.operators.sketches import _hll_alpha

    m = 1 << HLL_P
    wbits = 60 - HLL_P
    K = wbits + 1
    num = _hll_alpha(m) * m * m * float(1 << K)
    from spark_ifs_spark.functions.hashing import sql_md5_int60

    h = sql_md5_int60("CAST(user_id AS VARCHAR)")
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS dy, ({h}) % {m} AS b,
         max(CASE WHEN ({h}) // {m} > 0
             THEN {wbits} - length(bin(({h}) // {m})) + 1
             ELSE {K} END) AS M
  FROM events
  GROUP BY 1, 2
),
days AS (SELECT DISTINCT dy AS win_day FROM daily),
merged AS (
  SELECT d.win_day, r.b, max(r.M) AS M
  FROM days d JOIN daily r
    ON r.dy <= d.win_day AND r.dy >= d.win_day - INTERVAL 6 DAY
  GROUP BY 1, 2
),
per_day AS (
  SELECT win_day,
         CAST(sum(1::BIGINT << ({K} - M)) AS BIGINT) AS s_present,
         count(*) AS n_present
  FROM merged GROUP BY 1
),
scored AS (
  SELECT win_day, n_present,
         CAST({num!r} AS DOUBLE)
           / CAST(s_present + ({m} - n_present) * (1::BIGINT << {K}) AS DOUBLE) AS raw
  FROM per_day
)
SELECT strftime(win_day, '%Y-%m-%d') AS day,
       round(CASE WHEN raw <= {2.5 * m!r} AND {m} - n_present > 0
                  THEN CAST({float(m)!r} AS DOUBLE)
                       * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - n_present AS DOUBLE))
                  ELSE raw END, 4) AS est_users_7d
FROM scored
"""


def q_events_autocorr7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation of daily event volume — "is there a weekly
    cycle?" — as exact-integer Pearson over the (day, day+7) pairs of
    the BOUNDED daily-counts relation (corpus folds to one count per
    day first; the self-join and the five sufficient sums touch ~30
    rows). Same decimal-exact convention as ``lineitem_corr``."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("dy")).agg(
        F.count(F.lit(1)).alias("x")
    )
    lead = daily.select(
        F.date_sub(F.col("dy"), 7).alias("dy"), F.col("x").alias("y")
    )
    pairs = daily.join(lead, "dy").select("x", "y")
    # operand cast BEFORE the multiply (ab_cuped convention): decimal
    # products never pass through a wrappable int64 intermediate
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dx * F.col("y")).alias("sxy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") * n - sx * sy
    vx = F.col("sxx").cast("double") * n - sx * sx
    vy = F.col("syy").cast("double") * n - sy * sy
    return stats.select(
        "n", F.round(cov / F.sqrt(vx * vy), 6).alias("autocorr_lag7")
    )


def sql_events_autocorr7() -> str:
    return """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS dy, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.x, b.x AS y
  FROM daily a JOIN daily b ON b.dy = a.dy + INTERVAL 7 DAY
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs
)
SELECT n,
       round((CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(syy AS DOUBLE) * CAST(n AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS autocorr_lag7
FROM s
"""


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile: for users who viewed then purchased,
    the exact lower-median and max of the view→purchase delay — the
    "how long does conversion take" companion to the funnel counts.
    Delays are exact epoch-µs differences (first view to first
    purchase per user, min-folded — no window needed); the median is
    the integer cumulative-count crossing over the bounded
    converted-users relation."""
    from pyspark.sql import Window

    from spark_ifs_spark.functions.timeutil import epoch_us

    ev = _read(spark, sf_dir, "events")
    us = epoch_us(ev, "ts")
    firsts = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", us)).alias("first_view"),
            F.min(F.when(F.col("event_type") == "purchase", us)).alias("first_buy"),
        )
        .filter(
            F.col("first_view").isNotNull()
            & F.col("first_buy").isNotNull()
            & (F.col("first_buy") > F.col("first_view"))
        )
        .select(
            "user_id", (F.col("first_buy") - F.col("first_view")).alias("delay_us")
        )
    )
    cum = Window.orderBy("delay_us", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    flagged = firsts.select(
        "delay_us",
        F.count(F.lit(1)).over(cum).alias("_cn"),
        F.count(F.lit(1)).over(tot).alias("_tn"),
    )
    return flagged.agg(
        F.max("_tn").alias("n_converted"),
        F.min(F.when(F.col("_cn") * 2 >= F.col("_tn"), F.col("delay_us"))).alias(
            "median_delay_us"
        ),
        F.max("delay_us").alias("max_delay_us"),
    )


def sql_funnel_latency() -> str:
    return """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_buy
  FROM events
  WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
),
delays AS (
  SELECT user_id, first_buy - first_view AS delay_us
  FROM firsts
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy > first_view
),
c AS (
  SELECT delay_us,
         count(*) OVER (ORDER BY delay_us, user_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         count(*) OVER () AS tn
  FROM delays
)
SELECT max(tn) AS n_converted,
       min(CASE WHEN cn * 2 >= tn THEN delay_us END) AS median_delay_us,
       max(delay_us) AS max_delay_us
FROM c
"""


def q_events_imputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation: values for ``event_id % 13 == 0`` play
    the missing set and are replaced by their event type's exact
    lower-median of the OBSERVED values — the standard repair step
    before feature extraction. Reported as per-type (n_missing,
    imputed_value, observed_mean) so the oracle compares the full
    repair compactly. Median machinery is the integer cumulative-count
    crossing, per type, over the observed relation."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    marked = ev.select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % IMPUTE_MISSING_MOD == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    observed = marked.filter(F.col("v").isNotNull())
    cum = Window.partitionBy("event_type").orderBy("v", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("event_type")
    med = (
        observed.select(
            "event_type",
            "v",
            F.count(F.lit(1)).over(cum).alias("_cn"),
            F.count(F.lit(1)).over(tot).alias("_tn"),
        )
        .filter(F.col("_cn") * 2 >= F.col("_tn"))
        .groupBy("event_type")
        .agg(F.min("v").alias("imputed_value"))
    )
    stats = marked.groupBy("event_type").agg(
        F.sum(F.col("v").isNull().cast("long")).alias("n_missing"),
        F.round(F.avg("v"), 6).alias("observed_mean"),
    )
    return stats.join(med, "event_type").select(
        "event_type",
        "n_missing",
        F.round("imputed_value", 4).alias("imputed_value"),
        "observed_mean",
    )


def sql_events_imputed() -> str:
    m = IMPUTE_MISSING_MOD
    return f"""
WITH marked AS (
  SELECT event_type, event_id,
         CASE WHEN event_id % {m} = 0 THEN NULL ELSE value END AS v
  FROM events
),
c AS (
  SELECT event_type, v,
         count(*) OVER (PARTITION BY event_type ORDER BY v, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         count(*) OVER (PARTITION BY event_type) AS tn
  FROM marked WHERE v IS NOT NULL
),
med AS (
  SELECT event_type, min(v) AS imputed_value
  FROM c WHERE cn * 2 >= tn GROUP BY 1
),
stats AS (
  SELECT event_type,
         CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
         round(avg(v), 6) AS observed_mean
  FROM marked GROUP BY 1
)
SELECT s.event_type, s.n_missing, round(m.imputed_value, 4) AS imputed_value,
       s.observed_mean
FROM stats s JOIN med m USING (event_type)
"""


def q_events_value_pcts_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of event values per type from the fixed-bin
    histogram — the MERGEABLE quantile sketch completing the portable
    sketch family (CMS = frequency, HLL = distinct, histogram CDF =
    quantiles): bin counts add across partitions/batches, state is
    types × bins, and the estimate (linear interpolation inside the
    crossing bin) is deterministic double arithmetic over exact integer
    cumulative counts — identical in both engines, like every sketch
    here. Exactly one bin satisfies ``cum ≥ q·N > cum − n``, so each
    percentile resolves without ties. Bounded-relation window only;
    the corpus folds in one map-combined aggregate. Unlike
    ``approx_percentile`` (engine-specific, unverifiable), this sketch
    has an exact oracle; unlike the exact window quantiles
    (``doc_length_quantiles``), it needs no per-group sort of the
    corpus — the 100 TB trade, made checkable."""
    from pyspark.sql import Window

    w_ = float(HIST_BIN_WIDTH)
    ev = _read(spark, sf_dir, "events")
    bins = (
        ev.select(
            "event_type",
            F.floor(F.col("value") / HIST_BIN_WIDTH).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cumw = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totw = Window.partitionBy("event_type")
    c = bins.select(
        "event_type",
        "bin",
        "n",
        F.sum("n").over(cumw).alias("cum"),
        F.sum("n").over(totw).alias("tot"),
    )

    def pct(q: float):
        qt = F.lit(q) * F.col("tot").cast("double")
        crossing = (F.col("cum").cast("double") >= qt) & (
            (F.col("cum") - F.col("n")).cast("double") < qt
        )
        interp = F.col("bin").cast("double") * w_ + F.lit(w_) * (
            qt - (F.col("cum") - F.col("n")).cast("double")
        ) / F.col("n").cast("double")
        return F.round(F.min(F.when(crossing, interp)), 4).alias(
            f"p{int(q * 100)}"
        )

    return c.groupBy("event_type").agg(*[pct(q) for q in HIST_QUANTILES])


def sql_events_value_pcts_hist() -> str:
    w_ = float(HIST_BIN_WIDTH)
    parts = []
    for q in HIST_QUANTILES:
        qt = f"({q!r} * CAST(tot AS DOUBLE))"
        interp = (
            f"CAST(bin AS DOUBLE) * {w_!r} + {w_!r} * ({qt} - CAST(cum - n AS DOUBLE))"
            f" / CAST(n AS DOUBLE)"
        )
        parts.append(
            f"round(min(CASE WHEN CAST(cum AS DOUBLE) >= {qt}"
            f" AND CAST(cum - n AS DOUBLE) < {qt} THEN {interp} END), 4)"
            f" AS p{int(q * 100)}"
        )
    cols = ",\n       ".join(parts)
    return f"""
WITH bins AS (
  SELECT event_type, CAST(floor(value / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin, n,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
  FROM bins
)
SELECT event_type,
       {cols}
FROM c
GROUP BY event_type
"""




def q_events_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-user running-stats fold driven through Spark 4's
    ``transformWithStateInPandas`` (typed state cells + the protobuf
    state-server channel — vendored shim where the real package is
    absent, see ``streaming.stateful.ensure_protobuf``). Requires the
    RocksDB state store (TWS state cells are column families); the
    session conf is set for the duration of the stream and restored.
    Same oracle as ``events_user_stats`` — both stateful APIs must
    equal the batch GROUP BY."""
    import os
    import shutil
    import tempfile
    import uuid

    from spark_ifs_spark.streaming.stateful import running_user_stats_tws

    name = f"user_stats_tws_{uuid.uuid4().hex[:8]}"
    src = _user_stats_src.path(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="sis_tws_ckpt_")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    # Production-posture RocksDB commit path (r13 verdict item 6):
    # changelog checkpointing uploads the per-batch changelog instead of
    # snapshotting every store at every commit — the recommended setting
    # for RocksDB state stores, and the measured local lever
    ckpt_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    prev_ckpt = spark.conf.get(ckpt_key, None)
    spark.conf.set(ckpt_key, "true")
    try:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            running_user_stats_tws(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("events_user_stats_tws stream did not finish in 600s")
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
        if prev_ckpt is None:
            spark.conf.unset(ckpt_key)
        else:
            spark.conf.set(ckpt_key, prev_ckpt)
        shutil.rmtree(d, ignore_errors=True)
    updates = spark.table(name)
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("sum_value", "n_events"), 6).alias("sum_value"),
    )


def sql_events_user_stats_tws() -> str:
    return sql_events_user_stats()


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user session concurrency: for every 30-minute-gap session,
    how many OTHER users' sessions overlap it in time — driven through
    the binned interval-overlap join (`asof.interval_overlap_join`, the
    range-join pattern Spark lacks natively: explode to time-grid bins,
    equi-join on bin, later-start-bin attribution instead of a dedup,
    exact predicate last). Bin width 1 h ≈ the session scale. Output is
    one row per session with ≥1 overlap."""
    from pyspark.sql import Window as W

    from spark_ifs_spark.functions.timeutil import epoch_us
    from spark_ifs_spark.operators.asof import interval_overlap_join

    ev = _read(spark, sf_dir, "events")
    # TIMESTAMP_NTZ-portable epoch first, then plain integer arithmetic
    ev = ev.select("user_id", epoch_us(ev, "ts").alias("t_us"))
    win = W.partitionBy("user_id").orderBy("t_us")
    o = ev.select(
        "user_id",
        "t_us",
        F.when(
            F.lag("t_us").over(win).isNull()
            | (F.col("t_us") - F.lag("t_us").over(win) > 30 * 60 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    s = o.withColumn(
        "sid",
        F.sum("brk").over(win.rowsBetween(W.unboundedPreceding, 0)),
    )
    sessions = s.groupBy("user_id", "sid").agg(
        F.min("t_us").alias("start_us"),
        F.max("t_us").alias("end_us"),
    )
    left = sessions.select(
        F.col("user_id").alias("u_a"),
        F.col("start_us").alias("a_start"),
        F.col("end_us").alias("a_end"),
    )
    right = sessions.select(
        F.col("user_id").alias("u_b"),
        F.col("start_us").alias("b_start"),
        F.col("end_us").alias("b_end"),
    )
    pairs = interval_overlap_join(
        left, right, "a_start", "a_end", "b_start", "b_end",
        bin_width=3_600_000_000,
        extra_condition=F.col("u_a") != F.col("u_b"),
    )
    return pairs.groupBy(
        F.col("u_a").alias("user_id"), F.col("a_start").alias("session_start_us")
    ).agg(F.count(F.lit(1)).alias("n_concurrent"))


def sql_session_concurrency() -> str:
    return """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), sessions AS (
  SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
  FROM s GROUP BY user_id, sid
)
SELECT a.user_id, a.start_us AS session_start_us,
       CAST(count(*) AS BIGINT) AS n_concurrent
FROM sessions a JOIN sessions b
  ON a.user_id <> b.user_id
 AND a.start_us <= b.end_us AND b.start_us <= a.end_us
GROUP BY 1, 2
"""


#: CUPED pre/post boundary: pre-period = first 15 generated days.
#: Data-independent constant (the events generator spans 2024-01).
AB_CUPED_SPLIT_DATE = "2024-01-15"


def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013): users hash into two arms (``user_id % 2`` — the
    package's deterministic assignment stand-in), the experiment
    metric is per-user post-period spend, and the pre-period spend is
    the CUPED covariate — ``ŷ = y − θ·(x − x̄)`` with θ = cov(x, y)/
    var(x) pooled across arms (the standard single-θ CUPED). Reports
    per arm the raw and adjusted post-period means plus the variance
    reduction CUPED bought.

    Exactness: per-user pre/post spends quantize to integer cents
    (``floor(value·100)``), all sufficient statistics (Σx, Σy, Σxy,
    Σx², Σy²) accumulate as decimal(38,0)/HUGEINT — no float addition
    anywhere — and θ, means and variances are single double
    expressions over bit-identical integer inputs, structurally
    identical in the oracle (the ``lineitem_corr`` convention). One
    user-keyed aggregate + one 2-group aggregate + one broadcast of
    the 1-row pooled stats; shuffle is |users| then 2 rows, and the
    per-user combine absorbs event skew map-side. Scales as a plain
    two-level aggregate at 100 TB.

    No counterpart in the reference; extension operator (experiment
    analytics over the event stream)."""
    ev = _read(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    pre = F.to_date("ts") <= F.lit(AB_CUPED_SPLIT_DATE).cast("date")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, cents).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(~pre, cents).otherwise(F.lit(0))).alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"), "x", "y"
        )
    )
    # cast an OPERAND to decimal before the multiply (not the int64
    # product after it): per-user cent sums >= ~3.04e9 would wrap the
    # int64 product silently under non-ANSI Spark while DuckDB raises —
    # pre-widening keeps both engines exact and identical at any spend
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    sufficient = [
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dx * F.col("y")).alias("sxy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
    ]
    pooled = per_user.agg(*sufficient).select(
        F.col("n").alias("gn"), F.col("sx").alias("gsx"),
        F.col("sy").alias("gsy"), F.col("sxy").alias("gsxy"),
        F.col("sxx").alias("gsxx"),
    )
    arms = per_user.groupBy("arm").agg(*sufficient)
    gn = F.col("gn").cast("double")
    gsx = F.col("gsx").cast("double")
    gsy = F.col("gsy").cast("double")
    theta_den = gn * F.col("gsxx").cast("double") - gsx * gsx
    theta = F.when(theta_den == 0, F.lit(0.0)).otherwise(
        (gn * F.col("gsxy").cast("double") - gsx * gsy) / theta_den
    )
    na = F.col("n").cast("double")
    sxa = F.col("sx").cast("double")
    sya = F.col("sy").cast("double")
    mean_post = sya / na / 100
    mean_cuped = mean_post - F.col("_th") * (sxa / na - gsx / gn) / 100
    var_y = (na * F.col("syy").cast("double") - sya * sya) / (na * na)
    cov_a = (na * F.col("sxy").cast("double") - sxa * sya) / (na * na)
    var_x = (na * F.col("sxx").cast("double") - sxa * sxa) / (na * na)
    var_adj = var_y - 2 * F.col("_th") * cov_a + F.col("_th") * F.col("_th") * var_x
    return (
        arms.crossJoin(F.broadcast(pooled))
        .withColumn("_th", theta)
        .select(
            "arm",
            F.col("n").alias("n_users"),
            F.round(mean_post, 6).alias("mean_post"),
            F.round(mean_cuped, 6).alias("mean_post_cuped"),
            F.round(
                F.when(var_y == 0, F.lit(0.0)).otherwise(1 - var_adj / var_y), 6
            ).alias("var_reduction"),
            F.round(F.col("_th"), 6).alias("theta"),
        )
        .orderBy("arm")
    )


def sql_ab_cuped() -> str:
    d = AB_CUPED_SPLIT_DATE
    return f"""
WITH per_user AS (
  SELECT user_id % 2 AS arm,
         sum(CASE WHEN CAST(ts AS DATE) <= DATE '{d}'
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS x,
         sum(CASE WHEN NOT (CAST(ts AS DATE) <= DATE '{d}')
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
pooled AS (
  SELECT count(*) AS gn, sum(x) AS gsx, sum(y) AS gsy,
         sum(CAST(x AS HUGEINT) * y) AS gsxy,
         sum(CAST(x AS HUGEINT) * x) AS gsxx
  FROM per_user
),
arms AS (
  SELECT arm, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM per_user GROUP BY arm
),
j AS (
  SELECT a.*, p.gn, p.gsx, p.gsy, p.gsxy, p.gsxx,
         CASE WHEN CAST(p.gn AS DOUBLE) * CAST(p.gsxx AS DOUBLE)
                   - CAST(p.gsx AS DOUBLE) * CAST(p.gsx AS DOUBLE) = 0 THEN 0.0
              ELSE (CAST(p.gn AS DOUBLE) * CAST(p.gsxy AS DOUBLE)
                    - CAST(p.gsx AS DOUBLE) * CAST(p.gsy AS DOUBLE))
                   / (CAST(p.gn AS DOUBLE) * CAST(p.gsxx AS DOUBLE)
                      - CAST(p.gsx AS DOUBLE) * CAST(p.gsx AS DOUBLE)) END AS th
  FROM arms a CROSS JOIN pooled p
)
SELECT CAST(arm AS INTEGER) AS arm,
       CAST(n AS BIGINT) AS n_users,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100, 6) AS mean_post,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100
             - th * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(gsx AS DOUBLE) / CAST(gn AS DOUBLE)) / 100,
             6) AS mean_post_cuped,
       round(CASE WHEN (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 0 THEN 0.0
                  ELSE 1 - ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                            - 2 * th * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                            + th * th * ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                           / ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END,
             6) AS var_reduction,
       round(th, 6) AS theta
FROM j
ORDER BY arm
"""


#: per-task row budget for the static salting plan (events.user_id —
#: the relation every sessionize/attribution join shuffles on)
JOIN_SKEW_CAP = 80


def q_join_skew_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static salting plan for joins keyed on ``events.user_id``: the
    heavy keys (> ``JOIN_SKEW_CAP`` rows), their replication factors,
    and their traffic share; see
    :func:`~spark_ifs_spark.operators.layout.skew_salt_plan`."""
    from spark_ifs_spark.operators.layout import skew_salt_plan

    ev = _read(spark, sf_dir, "events")
    return skew_salt_plan(ev, "user_id", cap=JOIN_SKEW_CAP).withColumnRenamed(
        "key", "user_id"
    )


def sql_join_skew_plan() -> str:
    cap = JOIN_SKEW_CAP
    return f"""
WITH counts AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
tot AS (SELECT sum(cnt) AS total FROM counts)
SELECT key AS user_id, cnt,
       CAST((cnt + {cap} - 1) // {cap} AS BIGINT) AS salt_factor,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm
FROM counts CROSS JOIN tot
WHERE cnt > {cap}
ORDER BY cnt DESC, key ASC
"""


SFT_CTX = 8192          # training sequence length for the SFT packing demo
SFT_QUANTUM = 512       # pad-to-slot quantum (SFT_CTX must be a multiple)
SFT_LOSS_ROLE = "purchase"  # the "assistant" role stand-in on the events table


def q_sft_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT multi-turn conversation packing over the events table:
    user_id = conversation, event_id = total turn order, event_type =
    role, with a deterministic per-turn token count (``1 + (event_id %
    97)·(1 + user_id % 3)`` — the user_id factor spreads conversation
    totals so the one gate row exercises BOTH behaviors: short
    conversations co-pack into shared sequences AND long ones truncate
    with clipped turns); see
    :func:`~spark_ifs_spark.operators.chunking.sft_pack`. Turns past a
    truncated conversation's budget come back clipped with the loss
    mask forced false."""
    from spark_ifs_spark.operators.chunking import sft_pack

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(
            "CAST(1 + (event_id % 97) * (1 + user_id % 3) AS BIGINT)"
        ).alias("n_tok"),
    )
    return sft_pack(
        ev, "user_id", "event_id", "event_type", "n_tok",
        ctx_len=SFT_CTX, loss_role=SFT_LOSS_ROLE, quantum=SFT_QUANTUM,
    )


def sql_sft_pack() -> str:
    L, Q, role = SFT_CTX, SFT_QUANTUM, SFT_LOSS_ROLE
    return f"""
WITH t AS (
  SELECT user_id AS conv_id, event_id AS ord, event_type AS role,
         CAST(1 + (event_id % 97) * (1 + user_id % 3) AS BIGINT) AS n_tok
  FROM events
),
turns AS (
  SELECT conv_id, role, n_tok,
         CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ord) - 1
              AS INTEGER) AS turn_idx,
         CAST(coalesce(sum(n_tok) OVER (PARTITION BY conv_id ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum
  FROM t
),
totals AS (
  SELECT conv_id, CAST(sum(n_tok) AS BIGINT) AS conv_tok FROM t GROUP BY 1
),
cl AS (
  SELECT conv_id,
         GREATEST(LEAST(((conv_tok + {Q} - 1) // {Q}) * {Q}, {L}), 1) AS cs
  FROM totals
),
rn AS (
  SELECT conv_id, cs,
         row_number() OVER (PARTITION BY cs ORDER BY conv_id) - 1 AS rn
  FROM cl
),
caps AS (
  SELECT cs, CAST(count(*) AS BIGINT) AS cnt, GREATEST({L} // cs, 1) AS cap
  FROM rn GROUP BY cs
),
offs AS (
  SELECT cs, cap,
         CAST(coalesce(sum((cnt + cap - 1) // cap) OVER (ORDER BY cs DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS bin0
  FROM caps
),
bins AS (
  SELECT r.conv_id, CAST(r.cs AS BIGINT) AS seq_len,
         CAST(o.bin0 + r.rn // o.cap AS BIGINT) AS bin_id,
         CAST((r.rn % o.cap) * r.cs AS BIGINT) AS tok_offset
  FROM rn r JOIN offs o USING (cs)
)
SELECT tu.conv_id, tu.turn_idx, tu.role, tu.n_tok,
       b.bin_id AS seq_id,
       CAST(b.tok_offset + tu.cum AS BIGINT) AS start_offset,
       (tu.cum + tu.n_tok) > b.seq_len AS clipped,
       (tu.role = '{role}' AND NOT ((tu.cum + tu.n_tok) > b.seq_len))
         AS loss_mask
FROM turns tu JOIN bins b USING (conv_id)
"""
