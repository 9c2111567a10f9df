"""TPC-H-style analytical queries adapted to the driver's testdata schema.

The reference proves coverage of all 22 TPC-H queries via golden plans
(reference enginetest/queries/tpch_plans.go:19). The driver's tables are a
reduced TPC-H star (no partsupp; fewer columns), so these are the same query
*shapes* — scan→filter→join→agg→sort pipelines — adapted to the available
columns.

Scale notes (how each would behave at 100 TB):
- lineitem/orders joins are equi-joins on the fact keys → Spark sort-merge or
  shuffled-hash; AQE switches to broadcast when a filtered side is small.
- explicit F.broadcast ONLY on relations whose cardinality is bounded by
  construction (nation=25, region=5, nation aliases, single-row aggregates).
  customer/supplier/part/partsupp SCALE with the data — at 100 TB they are
  hundreds of GB, and a forced hint would bypass autoBroadcastJoinThreshold
  and AQE and OOM the executors. Those joins carry no hint: Catalyst's
  size stats (and AQE at runtime) still broadcast them at small SF, and
  switch to shuffled joins when they outgrow the threshold.
- Aggregates are partial+final (map-side combine) automatically; no
  collect()-driven logic anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import ravg, revenue, rsum, sorted_result, t
from .registry import query


@query(
    "tpch_q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
       ROUND(AVG(l_quantity), 6)                                            AS avg_qty,
       ROUND(AVG(l_extendedprice), 6)                                       AS avg_price,
       ROUND(AVG(l_discount), 6)                                            AS avg_disc,
       COUNT(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1(spark, sf_dir):
    """Scan → filter (pushed to parquet) → hash agg → sort.

    Reference: tpch_plans.go Q1; GroupBy exec reference sql/rowexec/agg.go:113.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-12-01"))
    disc_price = revenue()
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return sorted_result(
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            rsum("l_quantity").alias("sum_qty"),
            rsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            ravg("l_quantity").alias("avg_qty"),
            ravg("l_extendedprice").alias("avg_price"),
            ravg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        ),
        "l_returnflag", "l_linestatus",
    )


@query(
    "tpch_q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3(spark, sf_dir):
    """Dim-filter → fact join → agg → top-k (TakeOrderedAndProject).

    customer is broadcast (small dim); orders⋈lineitem is the fact equi-join.
    """
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4(spark, sf_dir):
    """EXISTS → left-semi join (reference existsIter, join_iters.go:361)."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle="""
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5(spark, sf_dir):
    """Six-way star join; all dims broadcast, facts equi-join on keys."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return sorted_result(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust,
              (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue")),
        F.desc("revenue"), "n_name",
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q6(spark, sf_dir):
    """Pure filter+agg — every predicate pushes to the parquet scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@query(
    "tpch_q7_volume_shipping",
    oracle="""
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7(spark, sf_dir):
    """Self-joined dimension (nation × nation) with OR-pair predicate."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").alias("n1")
    n2 = t(spark, sf_dir, "nation").alias("n2")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2.n_nationkey"))
        .filter(
            ((F.col("n1.n_name") == "NATION_1") & (F.col("n2.n_name") == "NATION_2"))
            | ((F.col("n1.n_name") == "NATION_2") & (F.col("n2.n_name") == "NATION_1"))
        )
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            revenue().alias("volume"),
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q12_priority_class",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q12(spark, sf_dir):
    """Conditional aggregation (CASE inside SUM; reference case.go:32)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q14_promo_effect",
    oracle="""
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def q14(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    part = t(spark, sf_dir, "part")
    rev = revenue()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(F.lit(100.0) * promo / F.sum(rev), 4).alias("promo_revenue"))
    )


@query(
    "tpch_q18_large_volume_customer",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 100)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18(spark, sf_dir):
    """IN-subquery over a HAVING aggregate → semi join against an agg.

    r9 (guide §2.4 remove shuffles outright): the old form scanned and
    aggregated lineitem TWICE — once for the HAVING set, once to re-sum
    quantities after the join. Every final group key is functionally
    dependent on o_orderkey (orders' primary key), so the per-order sum
    from the first aggregate IS sum_qty; the qualifying rows join orders
    directly and no second lineitem pass or re-aggregation exists.
    Oracle-verified identical."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", F.round(F.col("q"), 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40)
""",
)
def q19(spark, sf_dir):
    """Disjunction of conjunctive range predicates across the join."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(revenue()), 2).alias("revenue"))
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle="""
SELECT nk, CAST(COUNT(*) AS BIGINT) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM (
  SELECT c_nationkey AS nk, c_acctbal FROM customer
  WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 200000)
) custsale
GROUP BY nk
ORDER BY nk
""",
)
def q22(spark, sf_dir):
    """Scalar subquery + NOT EXISTS anti-join (reference join_iters.go:361).
    The anti-join side is restricted to orders over 200k so the result is
    non-vacuous in this testdata, where every customer has at least one
    order (r6 verdict; TPC-H's spec relies on order-less customers the
    generator here doesn't produce)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("a"))
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("nk")
    )
