"""Window functions — SURVEY.md §2.5.

The reference materializes each partition and runs framers over it
(reference sql/expression/function/aggregation/window_partition.go:87,
window_framer.go — PartitionFramer/PeerGroupFramer/row+range framers, all 40
ROWS/RANGE bound combinations in window_frame.og.go). Spark's Window exec
covers the same surface: partitionBy/orderBy + rowsBetween/rangeBetween.

Determinism convention: every orderBy inside a window spec ends with a
unique key so row_number/lag/lead never depend on engine-internal order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._util import sorted_result, t
from .registry import query


@query(
    "window_row_number_topn_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) x
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def window_row_number(spark, sf_dir):
    """row_number (reference window_functions.go RowNumber:1148) — the
    scalable top-N-per-group idiom: one shuffle on the partition key."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return sorted_result(
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice",
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3),
        "o_custkey", "rn",
    )


@query(
    "window_rank_dense_percent",
    oracle="""
SELECT c_custkey, c_nationkey,
       RANK()         OVER w AS rnk,
       DENSE_RANK()   OVER w AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_custkey
""",
)
def window_rank_dense_percent(spark, sf_dir):
    """rank/dense_rank/percent_rank (reference Rank:1245, DenseRank:1290,
    PercentRank:1260) + named-window reuse (namedwindows.go)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey", "c_nationkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
        )
        .orderBy("c_custkey")
    )


@query(
    "window_ntile",
    oracle="""
SELECT o_orderkey, NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
FROM orders
ORDER BY o_orderkey
""",
)
def window_ntile(spark, sf_dir):
    """ntile (reference NTile:1328). Global (unpartitioned) window — on a
    cluster this is a single-task sort; acceptable for ranking outputs,
    flagged as the non-scalable variant (use partitioned ntile at 100 TB)."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", F.ntile(4).over(w).alias("quartile"))
        .orderBy("o_orderkey")
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT user_id, event_id, value,
       LAG(value, 1)  OVER w AS prev_value,
       LEAD(value, 1, -1.0) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def window_lag_lead(spark, sf_dir):
    """lag/lead with offset + default (reference Lag:1416, Lead:1430)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        .select(
            "user_id", "event_id", "value",
            F.lag("value", 1).over(w).alias("prev_value"),
            F.lead("value", 1, -1.0).over(w).alias("next_value"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "window_rows_frame_moving",
    oracle="""
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_sum,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
FROM events
ORDER BY user_id, event_id
""",
)
def window_rows_frame_moving(spark, sf_dir):
    """ROWS frame (reference rowFramerBase, window_framer.go:190)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        t(spark, sf_dir, "events")
        .select(
            "user_id", "event_id",
            F.round(F.sum("value").over(w), 4).alias("moving_sum"),
            F.round(F.avg("value").over(w), 6).alias("moving_avg"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "window_range_frame",
    oracle="""
SELECT o_orderkey, o_totalprice,
       CAST(COUNT(*) OVER (ORDER BY o_totalprice
                           RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_within_1000
FROM orders
ORDER BY o_orderkey
""",
)
def window_range_frame(spark, sf_dir):
    """RANGE frame with a value offset (reference rangeFramerBase,
    window_framer.go:321) — peers counted by value distance, not row count.
    PySpark's Window.rangeBetween only takes integer offsets; fractional
    value offsets need the SQL frame syntax."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_rf")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               COUNT(*) OVER (ORDER BY o_totalprice
                              RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
                   AS n_within_1000
        FROM v_orders_rf
        ORDER BY o_orderkey
        """
    )


@query(
    "window_running_total",
    oracle="""
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
           AS running_total,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS event_seq
FROM events
ORDER BY user_id, event_id
""",
)
def window_running_total(spark, sf_dir):
    """Default frame (UNBOUNDED PRECEDING..CURRENT ROW) cumulative agg."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        .select(
            "user_id", "event_id",
            F.round(F.sum("value").over(w), 4).alias("running_total"),
            F.count("*").over(w).alias("event_seq"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "window_first_last_value",
    oracle="""
SELECT user_id, event_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS last_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def window_first_last_value(spark, sf_dir):
    """first_value/last_value (reference FirstAgg:680/LastAgg:624);
    last_value needs the full-partition frame to mean 'partition last'."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        t(spark, sf_dir, "events")
        .select(
            "user_id", "event_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w_full).alias("last_type"),
        )
        .orderBy("user_id", "event_id")
    )
