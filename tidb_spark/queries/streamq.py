"""Event-time windowing query corpus over the ``events`` fixture.

Each entry runs the SAME transformation functions the Structured Streaming
layer uses (tidb_spark/streaming/events.py) — Spark's unified model means
one implementation serves batch and stream; tests/test_streaming.py proves
stream == batch on these exact transformations.

Oracles: tumbling/sliding windows are epoch-aligned (DuckDB time_bucket /
date_trunc mirror Spark's window()); sessions are lag/cumsum
sessionization; sums are decimal-accumulated then presented as double so
both engines agree bit-exactly (FP sum order is engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tidb_spark.catalog import load_table
from tidb_spark.operators.width import spread_small
from tidb_spark.queries import register
from tidb_spark.streaming import events as ev

_SUM = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"


TUMBLING_ORACLE = f"""
SELECT date_trunc('hour', ts)                    AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR  AS window_end,
       event_type,
       COUNT(*)   AS n_events,
       {_SUM}     AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


@register("stream_tumbling_hour", oracle=TUMBLING_ORACLE, tags=("streaming",))
def stream_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event_type (window() — the
    same call a readStream pipeline makes)."""
    df = load_table(spark, sf_dir, "events")
    return ev.tumbling_agg(df, "1 hour").orderBy("window_start", "event_type")


SLIDING_ORACLE = f"""
WITH hopped AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - i.i * INTERVAL 15 MINUTE AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT UNNEST(range(4)) AS i) i
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {_SUM}   AS sum_value
FROM hopped
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


@register("stream_sliding_1h_15m", oracle=SLIDING_ORACLE, tags=("streaming",))
def stream_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows hopping every 15 minutes: each event lands in 4
    windows (oracle: explicit hop expansion via range join)."""
    df = load_table(spark, sf_dir, "events")
    return ev.sliding_agg(df, "1 hour", "15 minutes").orderBy(
        "window_start", "event_type"
    )


SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {_SUM}   AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@register("stream_session_30m", oracle=SESSION_ORACLE, tags=("streaming",))
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-based session windows (session_window, gap 30 min);
    oracle sessionizes with the classic lag/cumsum pattern and mirrors
    Spark's end = last event + gap."""
    # Spread the single-split events scan on the session key: the
    # repartition it adds REPLACES the exchange the session-window
    # aggregate needed (hashpartitioning(user_id) satisfies it), so the
    # per-row session state partial no longer runs on one core (r12,
    # guide §2.5 unsplittable input; stats-gated — never fires at
    # cluster scale).
    df = spread_small(load_table(spark, sf_dir, "events"), "user_id")
    return ev.session_agg(df, "30 minutes").orderBy("user_id", "session_start")


DEDUP_ORACLE = """
SELECT user_id, event_type,
       MIN(ts)       AS first_ts,
       MIN(event_id) AS first_event_id,
       COUNT(*)      AS n_dups
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


@register("stream_dedup_keys", oracle=DEDUP_ORACLE, tags=("streaming",))
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed dedup (earliest per (user, type)) — the batch
    analog of dropDuplicatesWithinWatermark; the streaming form is tested in
    tests/test_streaming.py."""
    df = load_table(spark, sf_dir, "events")
    return ev.earliest_per_key(df).orderBy("user_id", "event_type")


INTERVAL_JOIN_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id, c.ts AS click_ts,
       e.event_id AS error_id, e.ts AS error_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
ORDER BY click_id, error_id
"""


@register("stream_interval_join", oracle=INTERVAL_JOIN_ORACLE, tags=("streaming", "join"))
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user click→error pairs within 10 minutes — the stream-stream
    time-interval join run in batch mode (tests prove the readStream form
    is identical)."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    return ev.click_error_interval_join(
        events.where(F.col("event_type") == "click"),
        events.where(F.col("event_type") == "error"),
    ).orderBy("click_id", "error_id")


CASCADE_ORACLE = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {_SUM}   AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@register("stream_cascade_rollup", oracle=CASCADE_ORACLE, tags=("streaming",))
def stream_cascade_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute→hour cascading rollup (streaming/events.py cascade_rollup);
    the oracle aggregates hours DIRECTLY from raw events, pinning that
    re-aggregating decomposable partials is lossless."""
    # NOT spread (r12 negative result): repartitioning the raw scan on
    # ts to parallelize the minute-tier partial measured 0.77 → 1.00 s
    # interleaved — the raw-row exchange costs more than the one-core
    # decimal partial it parallelizes (the partial compresses 60× before
    # the existing exchange, so the shuffle it feeds is already tiny).
    df = load_table(spark, sf_dir, "events")
    return ev.cascade_rollup(df).orderBy("window_start", "event_type")


LEFT_OUTER_JOIN_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id, c.ts AS click_ts,
       e.event_id AS error_id, e.ts AS error_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 10 MINUTE
ORDER BY click_id, error_id
"""


@register(
    "stream_left_outer_join",
    oracle=LEFT_OUTER_JOIN_ORACLE,
    tags=("streaming", "join"),
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: clicks with no error in
    the following 10 minutes surface with NULL error columns.  In
    streaming mode the NULL row is held until the watermark proves no
    match can arrive (state eviction, tests/test_streaming.py); batch
    mode — run here — is the plain left join of the same code."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    return ev.click_error_left_join(
        events.where(F.col("event_type") == "click"),
        events.where(F.col("event_type") == "error"),
    ).orderBy("click_id", "error_id")
