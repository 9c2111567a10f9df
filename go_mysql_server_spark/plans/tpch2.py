"""Second batch of TPC-H-shaped queries (reference tpch_plans.go coverage),
adapted to the reduced schema (no partsupp). These target the harder
planner shapes: left join with extra ON predicates (q13), view + scalar-max
(q15), correlated aggregate subquery (q17), double-correlated
EXISTS/NOT EXISTS (q21), market-share conditional ratio (q8), multi-dim
profit rollup (q9).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import revenue, sorted_result, t
from .registry import query


@query(
    "tpch_q8_market_share",
    oracle="""
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n1.n_name AS nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def q8(spark, sf_dir):
    """Supplier-nation market share within the European customer market."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    supp = t(spark, sf_dir, "supplier")
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").alias("n1")
    n2 = t(spark, sf_dir, "nation").alias("n2")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1.n_nationkey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2.n_nationkey"))
        .join(F.broadcast(region), F.col("n2.n_regionkey") == region.r_regionkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue().alias("volume"),
            F.col("n1.n_name").alias("nation"),
        )
    )
    share = F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume"))
                  .otherwise(F.lit(0.0)))
    return (
        base.groupBy("o_year")
        .agg(F.round(share / F.sum("volume"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "tpch_q9_product_type_profit",
    oracle="""
SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.6 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%GREEN%' OR p_type = 'PROMO'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q9(spark, sf_dir):
    """Profit by supplier nation and year (supplycost ≈ 0.6·retailprice —
    the schema has no partsupp; the query shape is unchanged)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    part = t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%GREEN%") | (F.col("p_type") == "PROMO")
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    amount = revenue() - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    return sorted_result(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"),
                F.year("o_orderdate").alias("o_year"),
                amount.alias("amount"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit")),
        "nation", F.desc("o_year"),
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13(spark, sf_dir):
    """Left join with a compound ON predicate, then a distribution agg —
    the classic two-level aggregation."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
ORDER BY s_suppkey
""",
)
def q15(spark, sf_dir):
    """View + scalar-max subquery (the CREATE VIEW variant of q15)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(revenue()), 2).alias("total_revenue")
    ).createOrReplaceTempView("v_revenue0")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier_q15")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, total_revenue
        FROM v_supplier_q15 JOIN v_revenue0 ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM v_revenue0)
        ORDER BY s_suppkey
        """
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
""",
)
def q17(spark, sf_dir):
    """Correlated aggregate subquery per part — Catalyst decorrelates to an
    aggregate + join (reference unnests via hoist/unnest rules)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_q17")
    t(spark, sf_dir, "part").createOrReplaceTempView("v_part_q17")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM v_li_q17 JOIN v_part_q17 ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM v_li_q17 l2 WHERE l2.l_partkey = v_li_q17.l_partkey)
        """
    )


@query(
    "tpch_q21_suppliers_who_kept_waiting",
    oracle="""
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def q21(spark, sf_dir):
    """Double correlated EXISTS + NOT EXISTS on the same fact table —
    the hardest decorrelation shape in the TPC-H suite."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supp_q21")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_q21")
    t(spark, sf_dir, "orders").createOrReplaceTempView("v_ord_q21")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM v_supp_q21
        JOIN v_li_q21 l1 ON s_suppkey = l1.l_suppkey
        JOIN v_ord_q21 ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND EXISTS (SELECT 1 FROM v_li_q21 l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM v_li_q21 l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > l1.l_shipdate)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
        """
    )
