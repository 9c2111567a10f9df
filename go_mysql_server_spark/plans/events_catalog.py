"""Event-stream operators over the `events` table (batch form).

The reference has no streaming subsystem (SURVEY.md §2.13) — these are the
additive stream-analytics surface: tumbling/sliding/session windows and
keyed dedup, written so the same logic runs under Structured Streaming
(go_mysql_server_spark/streaming/ wires the readStream variants with
watermarks; the batch forms here are oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import sorted_result, t
from .registry import query


@query(
    "events_tumbling_window",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY date_trunc('day', ts), event_type
ORDER BY window_start, event_type
""",
)
def events_tumbling_window(spark, sf_dir):
    """Tumbling event-time window: F.window(ts, '1 day'). In streaming mode
    the identical expression runs incrementally behind a watermark."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


@query(
    "events_sliding_window",
    oracle="""
SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - (o.off * INTERVAL 1 DAY) AS window_start, event_id
  FROM events, (VALUES (0), (1)) o(off)
)
GROUP BY window_start
ORDER BY window_start
""",
)
def events_sliding_window(spark, sf_dir):
    """Sliding window (2-day window, 1-day slide): every event lands in two
    windows — F.window(ts, '2 days', '1 day')."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


@query(
    "events_sessionization",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id, value,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def events_sessionization(spark, sf_dir):
    """Sessionization with a 30-min inactivity gap — the lag/cumsum batch
    formulation; the streaming twin is F.session_window (streaming/events.py).
    Reference analogue: none (GMS has no session semantics) — additive."""
    e = t(spark, sf_dir, "events")
    t(spark, sf_dir, "events").createOrReplaceTempView("v_events_sess")
    return sorted_result(spark.sql(
        """
        WITH marked AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTES OR
                           LAG(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS is_new_session
          FROM v_events_sess
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
          SELECT user_id, event_id, value,
                 SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS session_id
          FROM marked
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS session_value
        FROM sessions
        GROUP BY user_id, session_id
        """
    ), "user_id", "session_id")


@query(
    "events_keyed_dedup",
    oracle="""
SELECT user_id, event_type,
       ARG_MIN(event_id, ts) AS first_event_id,
       MIN(ts) AS first_ts
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""",
)
def events_keyed_dedup(spark, sf_dir):
    """Keyed dedup keep-earliest (streaming twin: dropDuplicates within
    watermark). min_by on ts; ts ties broken by event_id monotonicity —
    the synthetic stream has unique (user_id, ts)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.min_by("event_id", "ts").alias("first_event_id"),
            F.min("ts").alias("first_ts"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "events_type_pivot",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS n_view,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       ROUND(COALESCE(SUM(value) FILTER (WHERE event_type = 'purchase'), 0.0), 4)
           AS purchase_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def events_type_pivot(spark, sf_dir):
    """Pivot-style conditional aggregation (MySQL idiom: SUM(IF(...)))."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                    F.lit(0.0),
                ),
                4,
            ).alias("purchase_value"),
        )
        .orderBy("user_id")
    )


@query(
    "events_asof_join",
    oracle="""
WITH p AS (
  SELECT user_id, ts, MAX(event_id) AS purchase_id,
         ROUND(SUM(value), 4) AS amount
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
v AS (
  SELECT user_id, ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.user_id, p.purchase_id, p.amount, v.view_id AS view_id_r
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY p.user_id, p.purchase_id
""",
)
def events_asof_join(spark, sf_dir):
    """ASOF JOIN: each purchase matched to the same user's most recent view
    at or before it (operators/asof.py — union + one keyed window, never a
    quadratic per-key theta join). Oracle is DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join
    e = t(spark, sf_dir, "events")
    p = (e.filter(F.col("event_type") == "purchase")
         .groupBy("user_id", "ts")
         .agg(F.max("event_id").alias("purchase_id"),
              F.round(F.sum("value"), 4).alias("amount")))
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id", "ts")
         .agg(F.max("event_id").alias("view_id")))
    return (
        asof_join(p, v, on="ts", key="user_id")
        .select("user_id", "purchase_id", "amount", "view_id_r")
        .orderBy("user_id", "purchase_id")
    )


@query(
    "events_rollup_totals",
    oracle="""
SELECT event_type,
       CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total
FROM events
GROUP BY ROLLUP(event_type, EXTRACT(hour FROM ts))
ORDER BY event_type NULLS FIRST, hr NULLS FIRST
""",
)
def events_rollup_totals(spark, sf_dir):
    """GROUP BY ... WITH ROLLUP (MySQL super-aggregate rows; reference
    planbuilder rollup support) → Spark's native rollup — Catalyst expands
    to a single Expand + hash aggregate, one shuffle for all grouping
    levels."""
    e = t(spark, sf_dir, "events")
    return (
        e.rollup("event_type", F.hour("ts").cast("int").alias("hr"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .orderBy(F.col("event_type").asc_nulls_first(),
                 F.col("hr").asc_nulls_first())
    )


@query(
    "events_exact_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def events_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (MySQL 8 lacks percentile functions;
    the reference corpus uses window tricks — Spark's percentile() is the
    declarative form; both engines use linear interpolation so the oracle
    is exact after rounding)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "events_rollup_grouping_fn",
    oracle="""
SELECT COALESCE(event_type, '(all)') AS etype,
       CAST(GROUPING(event_type) AS BIGINT) AS is_super,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 2) AS total
FROM events
GROUP BY ROLLUP(event_type)
ORDER BY is_super, etype
""",
)
def events_rollup_grouping_fn(spark, sf_dir):
    """GROUPING() super-aggregate indicator (MySQL 8 GROUPING() over WITH
    ROLLUP; reference planbuilder grouping support): distinguishes the
    rollup total row from a genuine NULL group key — same Expand plan as
    the plain rollup, the indicator is a metadata column, no extra
    shuffle."""
    e = t(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("total"),
             F.grouping("event_type").cast("long").alias("is_super"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("etype"),
            "is_super", "n", "total",
        )
        .orderBy("is_super", "etype")
    )
