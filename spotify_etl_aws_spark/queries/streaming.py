"""Streaming + event-time query inventory (SURVEY.md §2.9 gap) over
``events``.

The streaming queries run a real Structured Streaming job
(file source -> Trigger.AvailableNow -> memory sink) and return the
materialized result, so the DuckDB oracle checks end-to-end streaming
semantics against the equivalent batch SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import run_concurrently
from ..sources.readers import load_table as t
from ..streaming.pipeline import read_table_stream, run_available_now
from ..streaming.stateful import running_user_totals

SESSION_GAP = "30 minutes"


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1-hour) AND sliding (1 hour long, every 30 minutes —
    each event lands in exactly 2 overlapping windows) event-time window
    aggregations per event_type, two streaming jobs unioned with a
    ``kind`` tag. Both run in append mode: a window is emitted exactly
    once, when the watermark passes its end, and its state is then
    purged — the only output mode whose state stays bounded on an
    unbounded stream. (AvailableNow runs a final no-data microbatch that
    advances the watermark past max(ts), flushing every window.)"""

    def windowed(win: F.Column, name: str, kind: str) -> DataFrame:
        src = read_table_stream(spark, sf_dir, "events")
        agg = (
            src.withWatermark("ts", "1 hour")
            .groupBy(win.alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                # + 0.0 collapses IEEE -0.0 (a sum rounding to zero from
                # below) to 0.0, matching the oracle's identical nudge.
                (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("sum_value"),
            )
        )
        out = run_available_now(agg, name, output_mode="append")
        return out.select(
            F.lit(kind).alias("kind"),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )

    # The two streaming jobs are INDEPENDENT (separate sources, sinks,
    # checkpoints) — overlap them from a 2-thread pool (guide §2.6)
    # so the second doesn't serially re-pay the stream start/stop +
    # microbatch floor (~1 s at sf0.1; measured 2.4 -> 1.5 s
    # interleaved). Results are the same two materialized memory
    # tables; the union below is unchanged.
    tumbling, sliding = run_concurrently(
        spark,
        lambda args: windowed(*args),
        [
            (F.window("ts", "1 hour"), "windowed_counts", "tumbling"),
            (F.window("ts", "1 hour", "30 minutes"), "sliding_counts", "sliding"),
        ],
    )
    return tumbling.unionByName(sliding)


# Append-mode twin: Spark emits a window only once the watermark
# (= ms-truncated max event time - 1h delay) passes the window END, so the
# oracle applies the identical cutoff. Spark tracks event-time stats at
# millisecond precision, hence the // 1000 truncation. For the sliding
# side, each event expands to its two covering 30-min-aligned window
# starts under the same cutoff.
ORACLE_WINDOWED = """
WITH wm AS (
  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
),
ex AS (
  SELECT event_type, value,
         unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
             AS w_start
  FROM events
)
SELECT 'tumbling' AS kind,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) + 0.0 AS sum_value
FROM events, wm
WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= wm_us
GROUP BY 1, 2, 3
UNION ALL
SELECT 'sliding' AS kind,
       strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) + 0.0 AS sum_value
FROM ex, wm
WHERE epoch_us(w_start) + 3600000000 <= wm_us
GROUP BY 1, 2, 3
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first occurrence of each
    (user_id, event_type) pair wins; unbounded state (no watermark) so the
    result is exactly SELECT DISTINCT."""
    src = read_table_stream(spark, sf_dir, "events")
    deduped = src.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_available_now(deduped, "dedup_events", output_mode="append")


ORACLE_STREAM_DEDUP = "SELECT DISTINCT user_id, event_type FROM events"


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via session_window
    (merging event-time windows). A new session starts when the gap from
    the previous event is >= 30 minutes."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_SESSIONIZE = """
WITH x AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
              ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 2) + 0.0 AS sum_value
FROM s
GROUP BY user_id, sid
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a STREAMING query: session_window merges
    per-user windows in state; append mode emits a session once the
    watermark passes its end (last event + gap) and purges it. The
    batch twin (sessionize_events) has no cutoff; here the oracle
    applies the same watermark condition Spark uses for emission."""
    src = read_table_stream(spark, sf_dir, "events")
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("sum_value"),
        )
    )
    out = run_available_now(agg, "stream_sessions", output_mode="append")
    return out.select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "sum_value",
    )


# Same gaps-and-islands CTE as the batch oracle, plus the append-mode
# cutoff: a session is emitted iff its end (last event + 30 min) is at
# or before the final watermark (ms-truncated max ts - 1h).
ORACLE_STREAM_SESSIONIZE = """
WITH wm AS (
  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events
),
x AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
              ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM x
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       round(sum(value), 2) + 0.0 AS sum_value
FROM s, wm
GROUP BY user_id, sid, wm_us
HAVING epoch_us(max(ts)) + 1800000000 <= wm_us
"""


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, matched to the
    same user's clicks in the preceding 30 minutes, or null-padded when
    no such click exists. Both sides are watermarked and the join
    carries a time-range condition, so each side's buffered state is
    purged once the other side's watermark passes the range — and the
    null-padded row for an unmatched purchase is emitted exactly at
    that eviction point (never before: a qualifying click could still
    arrive). An unmatched purchase younger than the final watermark is
    still in state when the stream ends and is NOT emitted — the state-
    eviction correctness case the oracle replicates with the same
    watermark cutoff."""
    clicks = (
        read_table_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_table_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("user_id", "click_id", "purchase_id")
    return run_available_now(joined, "ss_join", output_mode="append")


# Matched rows are the plain inner join (AvailableNow processes the
# whole file, so every true match is found). Null-padded rows appear
# only for purchases EVICTED from join state by the final watermark.
# Three semantics details, each pinned empirically with planted
# boundary fixtures (test_stream_stream_left_outer_boundary):
#   1. Each side's watermark comes from ITS OWN filtered stream's max
#      event time (ms-truncated) - 1h, and the global watermark is the
#      MIN of the two sides (multipleWatermarkPolicy=min default).
#   2. Spark's StreamingJoinHelper subtracts 1 ms when deriving the
#      state-value watermark, so eviction is ts_us <= wm_us - 1000
#      (non-strict at exactly wm - 1ms; a purchase at wm - 999us
#      stays buffered).
#   3. Unmatched purchases younger than that die in state, unemitted.
ORACLE_STREAM_STREAM = """
WITH wm AS (
  SELECT least(
           (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'click'),
           (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'purchase')
         ) * 1000 - 3600000000 AS wm_us
)
SELECT p.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
CROSS JOIN wm
WHERE p.event_type = 'purchase'
  AND (c.event_id IS NOT NULL OR epoch_us(p.ts) + 1000 <= wm_us)
"""


def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState
    (streaming/stateful.py): per-user GroupState running totals. One
    AvailableNow pass makes the final state equal the batch aggregate,
    so the custom-state lane is fully oracle-checked."""
    src = read_table_stream(spark, sf_dir, "events").select("user_id", "value")
    totals = running_user_totals(src)
    out = run_available_now(totals, "stateful_totals", output_mode="update")
    return out.select(
        "user_id",
        "n_events",
        # + 0.0 collapses IEEE -0.0 to 0.0 (oracle applies the same nudge).
        (F.round("total_value", 2) + F.lit(0.0)).alias("total_value"),
    )


ORACLE_STATEFUL_TOTALS = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) + 0.0 AS total_value
FROM events
GROUP BY user_id
"""


def streaming_type_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-state stateful operator (streaming/stateful.py:
    user_type_profiles_gs — per-user row count + event-type histogram
    in one GroupState tuple; the transformWithStateInPandas twin
    ``user_type_profiles`` is kept behind the documented protobuf
    seam). One AvailableNow pass makes the emitted profile equal the
    batch aggregate, so the composite-state lane is fully
    oracle-checked; top_type tie-breaks on the smallest type string on
    both engines. All columns integer/string — hash-exact."""
    from ..streaming.stateful import user_type_profiles_gs

    src = read_table_stream(spark, sf_dir, "events").select(
        "user_id", "event_type"
    )
    return run_available_now(
        user_type_profiles_gs(src), "type_profiles", output_mode="update"
    )


ORACLE_TWS_PROFILES = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
),
r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type) AS rn
  FROM c
)
SELECT c.user_id,
       CAST(sum(c.cnt) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       min(r.event_type) AS top_type
FROM c JOIN r ON r.user_id = c.user_id AND r.rn = 1
GROUP BY c.user_id
"""


QUERIES = {
    "streaming_windowed_counts": streaming_windowed_counts,
    "streaming_dedup_events": streaming_dedup_events,
    "sessionize_events": sessionize_events,
    "streaming_sessionize": streaming_sessionize,
    "streaming_stream_stream_join": streaming_stream_stream_join,
    "streaming_stateful_user_totals": streaming_stateful_user_totals,
    # streaming_tws_type_profiles registers in queries/sqlsurface.py:
    # new lanes append AFTER the driver's frozen 50-query window.
}

ORACLE = {
    "streaming_windowed_counts": ORACLE_WINDOWED,
    "streaming_dedup_events": ORACLE_STREAM_DEDUP,
    "sessionize_events": ORACLE_SESSIONIZE,
    "streaming_sessionize": ORACLE_STREAM_SESSIONIZE,
    "streaming_stream_stream_join": ORACLE_STREAM_STREAM,
    "streaming_stateful_user_totals": ORACLE_STATEFUL_TOTALS,
}
