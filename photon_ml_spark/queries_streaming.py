"""Oracle-checked queries for the streaming extension (SURVEY §2.8).

Each query runs the batch side of a batch/stream dual-use operator from
streaming/events.py — the identical code runs under readStream (see
tests/test_streaming.py for micro-batch parity). The reference has no
streaming surface (batch-only, SURVEY §2.8); prefix e = extension.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from photon_ml_spark.queries import register
from photon_ml_spark.sources.datasets import load_events


E1_EVENT_WINDOW_AGG_SQL = """
SELECT strftime(time_bucket(INTERVAL '15 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(ROUND(value * 100)) / 100 AS value_sum
FROM events GROUP BY 1, 2
"""


def e1_event_window_agg(spark, sf_dir):
    """streaming/e1: tumbling 15-min event-time window counts + exact
    cents-grid value sums — same code path as the readStream variant
    (watermark-bounded state)"""
    from photon_ml_spark.streaming.events import windowed_event_counts

    ev = load_events(spark, sf_dir)
    return windowed_event_counts(ev, window="15 minutes")


@register(
    "e2_event_json_props",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
""",
)
def e2_event_json_props(spark, sf_dir):
    """streaming/e2: typed JSON property extraction (F3 map-value-cast
    analog, AvroDataReader.scala:453-468) + aggregation by derived key"""
    from photon_ml_spark.streaming.events import extract_props

    ev = extract_props(
        load_events(spark, sf_dir), {"k": "$.k"}
    )
    return (
        ev.groupBy((F.col("k").cast("long") % 7).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


E4_STREAM_SCORING_SQL = """
SELECT event_id,
       ROUND(-1.0 + value * 0.5 + CAST(json_extract_string(props, '$.k') AS DOUBLE) * 0.01, 6)
         AS score
FROM events WHERE event_id % 17 = 0
"""


def e4_stream_scoring(spark, sf_dir):
    """streaming/e4: stateless literal-model scoring over the event
    stream (GameScoringDriver over readStream — same code path scores
    micro-batches; see tests/test_streaming.py)"""
    from photon_ml_spark.streaming.events import extract_props, score_events

    ev = load_events(spark, sf_dir).filter(F.col("event_id") % 17 == 0)
    ev = extract_props(ev, {"k": "$.k"}).withColumn(
        "k", F.col("k").cast("double")
    )
    scored = score_events(
        ev, coefficients=[0.5, 0.01], intercept=-1.0, feature_cols=["value", "k"]
    )
    return scored.select("event_id", F.round(F.col("score"), 6).alias("score"))


@register(
    "e5_stream_first_seen",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
       event_id AS first_event_id,
       CAST(n AS BIGINT) AS n_occurrences
FROM r WHERE rn = 1
""",
)
def e5_stream_first_seen(spark, sf_dir):
    """streaming/e5: exact-dedup bookkeeping — first occurrence per
    (user, event_type) by event time (deterministic (ts, id) tie-break)
    + duplicate count; ONE aggregation state row per key under
    readStream (the scalable streaming dropDuplicates)"""
    from photon_ml_spark.streaming.events import first_seen

    return first_seen(load_events(spark, sf_dir))


E6_ASOF_JOIN_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_id % 3 = 0
),
r AS (
  SELECT user_id, ts, CAST(MAX(ROUND(value * 100)) AS BIGINT) AS snap_v
  FROM events WHERE event_id % 7 = 0 GROUP BY 1, 2
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts,
       r.snap_v AS asof_snap_v
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def e6_asof_join(spark, sf_dir):
    """temporal/as-of join: attach the most recent per-user snapshot
    (right_ts <= left_ts, inclusive) to each event — union + tagged
    per-key ordered window carrying the last right payload forward (one
    shuffle + one sort, the merge-join shape); oracle is DuckDB's native
    ASOF LEFT JOIN"""
    from photon_ml_spark.operators.temporal import as_of_join

    ev = load_events(spark, sf_dir)
    left = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_id") % 7 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max(F.round(F.col("value") * 100)).cast("long").alias("snap_v"))
    )
    out = as_of_join(left, right, on="user_id", payload_cols=["snap_v"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("asof_ts"),
        F.col("asof_snap_v"),
    )


E7_RANGE_JOIN_SQL = """
WITH l AS (
  SELECT event_id, user_id, CAST(epoch(ts) AS BIGINT) AS t
  FROM events WHERE event_id % 5 = 0
),
r AS (
  SELECT event_id AS anchor_id, user_id,
         CAST(epoch(ts) AS BIGINT) AS t_start,
         CAST(epoch(ts) AS BIGINT) + 600 AS t_end
  FROM events WHERE event_id % 11 = 0
)
SELECT l.event_id, r.anchor_id, l.user_id
FROM l JOIN r ON l.user_id = r.user_id
               AND l.t >= r.t_start AND l.t <= r.t_end
"""


def e7_range_join(spark, sf_dir):
    """temporal/range join: events joined to every same-user 10-min
    interval containing them — right intervals exploded over fixed-width
    time buckets, equi-join on (user, bucket) + exact range filter (the
    interval-join decomposition; a raw BETWEEN predicate would
    BroadcastNestedLoopJoin); oracle is the plain quadratic BETWEEN join"""
    from photon_ml_spark.operators.temporal import range_join

    ev = load_events(spark, sf_dir).withColumn(
        "t", F.unix_timestamp("ts")
    )
    left = ev.filter(F.col("event_id") % 5 == 0).select(
        "event_id", "user_id", "t"
    )
    right = ev.filter(F.col("event_id") % 11 == 0).select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("t").alias("t_start"),
        (F.col("t") + 600).alias("t_end"),
    )
    out = range_join(
        left, right, on="user_id", left_ts="t",
        right_start="t_start", right_end="t_end", bucket_width=600,
    )
    return out.select("event_id", "anchor_id", "user_id")


E3_EVENT_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts, ROUND(value * 100) AS v,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      >= INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts, v,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS start_ts, COUNT(*) AS n_events,
         SUM(v) / 100 AS value_sum
  FROM s GROUP BY user_id, sid
)
SELECT user_id, strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(n_events AS BIGINT) AS n_events, value_sum
FROM sess
"""


def e3_event_sessions(spark, sf_dir):
    """streaming/e3: per-user session_window aggregation (5-min gap,
    half-open merge) — oracle reproduces it as gaps-and-islands;
    stateful-streaming capable via watermark"""
    from photon_ml_spark.streaming.events import sessionize

    ev = load_events(spark, sf_dir)
    return sessionize(ev, gap="5 minutes")


E8_INTERVAL_JOIN_SQL = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 3 = 0),
r AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 5 = 0)
SELECT l.user_id,
       l.event_id AS l_event_id, r.event_id AS r_event_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS l_ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS r_ts
FROM l JOIN r ON l.user_id = r.user_id
             AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
"""


def e8_interval_join(spark, sf_dir):
    """streaming/e8: batch side of the stream-stream interval join
    (attribution window: same-user right events within [l_ts, l_ts + 10
    min]); identical code runs under readStream with watermarks on both
    sides bounding join state — parity in
    tests/test_streaming.py::test_interval_join_stream_matches_batch"""
    from photon_ml_spark.streaming.events import interval_join_events

    ev = load_events(spark, sf_dir)
    return interval_join_events(
        ev.filter(F.col("event_id") % 3 == 0),
        ev.filter(F.col("event_id") % 5 == 0),
        gap="10 minutes",
    )
