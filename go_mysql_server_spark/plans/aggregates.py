"""Aggregation functions — SURVEY.md §2.4.

Reference buffers: AnyValue/Avg/BitAnd/BitOr/BitXor/Count/First/JsonArray/
Last/Max/Min/Sum/StdDevPop/StdDevSamp/VarPop/VarSamp
(reference sql/expression/function/aggregation/unary_aggs.og.go),
COUNT(DISTINCT …) (count_distinct.go), GROUP_CONCAT (group_concat.go —
covered in relational.py), JSON_ARRAYAGG (json_agg.go).

Spark runs these as partial+final hash aggregates with spill — the
single-level in-memory hash map of the reference (rowexec/agg.go:113)
replaced by a shuffle-parallel two-phase plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import sorted_result, t
from .registry import query


@query(
    "agg_basic_stats",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT)            AS n_rows,
       CAST(COUNT(l_quantity) AS BIGINT)   AS n_qty,
       ROUND(SUM(l_quantity), 2)           AS sum_qty,
       ROUND(AVG(l_quantity), 6)           AS avg_qty,
       MIN(l_quantity)                     AS min_qty,
       MAX(l_quantity)                     AS max_qty,
       MIN(l_shipdate)                     AS first_ship,
       MAX(l_shipdate)                     AS last_ship
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_basic_stats(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("l_quantity").alias("n_qty"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_count_distinct",
    oracle="""
SELECT l_linestatus,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)  AS n_supp,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT)  AS n_part,
       ROUND(SUM(DISTINCT l_quantity), 2)         AS sum_distinct_qty
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def agg_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT)/SUM(DISTINCT) (reference count_distinct.go,
    expression/distinct.go). Spark plans distinct aggs via expand+two-phase
    — no driver-side dedup."""
    li = t(spark, sf_dir, "lineitem")
    return sorted_result(
        li.groupBy("l_linestatus")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        ),
        "l_linestatus",
    )


@query(
    "agg_stddev_variance",
    oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_POP(l_extendedprice), 4)  AS sd_pop,
       ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_samp,
       ROUND(VAR_POP(l_extendedprice) / 1000000, 4)  AS var_pop_m,
       ROUND(VAR_SAMP(l_extendedprice) / 1000000, 4) AS var_samp_m
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_stddev_variance(spark, sf_dir):
    """stddev/variance pop+samp (reference unary_aggs.og.go:961-1198).
    Variance reported in millions so the rounding tolerance tracks the
    magnitude (cross-engine merge-order noise stays below the rounding)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_pop("l_extendedprice"), 4).alias("sd_pop"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_samp"),
            F.round(F.var_pop("l_extendedprice") / 1e6, 4).alias("var_pop_m"),
            F.round(F.var_samp("l_extendedprice") / 1e6, 4).alias("var_samp_m"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_bit_ops",
    oracle="""
SELECT o_orderstatus,
       CAST(BIT_AND(o_orderkey) AS BIGINT) AS band,
       CAST(BIT_OR(o_orderkey)  AS BIGINT) AS bor,
       CAST(BIT_XOR(o_orderkey) AS BIGINT) AS bxor
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_bit_ops(spark, sf_dir):
    """bit_and/bit_or/bit_xor (reference unary_aggs.og.go:171-329)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.bit_and("o_orderkey").alias("band"),
            F.bit_or("o_orderkey").alias("bor"),
            F.bit_xor("o_orderkey").alias("bxor"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_arg_min_max",
    oracle="""
SELECT o_custkey,
       ARG_MIN(o_orderdate, o_orderkey) AS first_key_date,
       ARG_MAX(o_totalprice, o_orderkey) AS last_key_price
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def agg_arg_min_max(spark, sf_dir):
    """first/last/any_value made deterministic: value at the min/max of a
    *unique* key (reference First/Last are iteration-order-defined, which
    only works in a single-threaded engine; min_by/max_by on a unique key
    is the order-free equivalent)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.min_by("o_orderdate", "o_orderkey").alias("first_key_date"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_key_price"),
        )
        .orderBy("o_custkey")
    )


@query(
    "agg_any_value_single_valued",
    oracle="""
SELECT n_regionkey, ANY_VALUE(r_name) AS region_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def agg_any_value(spark, sf_dir):
    """any_value (reference AnyValue buffer) on a functionally-dependent
    column — single-valued per group, so deterministic by construction."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_regionkey")
        .agg(
            F.any_value("r_name").alias("region_name"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "agg_json_arrayagg",
    oracle="""
SELECT r_regionkey,
       CAST(to_json(list_sort(list(n_name))) AS VARCHAR) AS nations_json
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_regionkey
ORDER BY r_regionkey
""",
)
def agg_json_arrayagg(spark, sf_dir):
    """JSON_ARRAYAGG (reference json_agg.go) — explicit sort for a
    deterministic array order (the reference emits insertion order, which a
    parallel engine must not rely on)."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_regionkey")
        .agg(F.to_json(F.array_sort(F.collect_list("n_name"))).alias("nations_json"))
        .orderBy("r_regionkey")
    )


@query(
    "agg_no_groupby_global",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total,
       ROUND(AVG(o_totalprice), 6) AS avg_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
""",
)
def agg_no_groupby_global(spark, sf_dir):
    """Global aggregate, no grouping exprs (reference groupByIter fast path,
    rowexec/agg.go:27-110)."""
    orders = t(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem
""",
)
def agg_approx_count_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++) — no reference equivalent (GMS has no
    sketches; SURVEY §2.4 'bonus'). Sketch estimates are engine-specific,
    so the oracle-checkable projection is: the exact distinct count plus a
    boolean asserting the HLL estimate landed within the 5% relative-error
    bound (rsd configured at 1%, so 5% is a generous deterministic bound)."""
    li = t(spark, sf_dir, "lineitem")
    # two separate global aggregates + 1-row join: mixing countDistinct and
    # approx_count_distinct in ONE agg makes Catalyst merge a 16 KB HLL
    # sketch per distinct key (the count-distinct rewrite keys the partial
    # by l_partkey) — per-key sketch merging is ~5× slower than two passes
    # over the single pruned column
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    approx = li.agg(F.approx_count_distinct("l_partkey", 0.01).alias("_a"))
    return exact.crossJoin(approx).select(
        "exact_parts",
        (F.abs(F.col("_a") - F.col("exact_parts"))
         <= 0.05 * F.col("exact_parts")).alias("within_bound"),
    )


@query(
    "agg_json_objectagg",
    oracle="""
SELECT r_regionkey,
       '{' || string_agg('"' || n_name || '":' || CAST(n_nationkey AS VARCHAR),
                         ',' ORDER BY n_name) || '}' AS nations_obj
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_regionkey
ORDER BY r_regionkey
""",
)
def agg_json_objectagg(spark, sf_dir):
    """JSON_OBJECTAGG(key, value) (reference
    sql/expression/function/aggregation/json_agg.go) — keys sorted for a
    deterministic object (MySQL emits last-wins insertion order, which a
    parallel engine must not rely on; both sides build the identical
    sorted serialization)."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    obj = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("n_name").alias("k"),
                             F.col("n_nationkey").alias("v")))),
                lambda s: F.concat(F.lit('"'), s["k"], F.lit('":'),
                                   s["v"].cast("string")),
            ), ","),
        F.lit("}"),
    )
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_regionkey")
        .agg(obj.alias("nations_obj"))
        .orderBy("r_regionkey")
    )
