"""Shared helpers for the query catalog."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table (applies session tuning: UTC, ANSI-off)."""
    return load(spark, sf_dir, name)


def sorted_result(df: DataFrame, *cols: Column | str) -> DataFrame:
    """The final ORDER BY of a result the caller collects whole.

    `orderBy` with no limit plans a range-partitioned exchange, and its
    RangePartitioner runs a sampling job of its own that re-runs every
    upstream stage before the real shuffle. Here one single-partition
    exchange feeds a local sort instead: one job fewer, same rows in the
    same order (the sort keys, directions and null ordering are the
    caller's, as with `orderBy`). Upstream stages keep their parallelism;
    only the sort of rows that all end in one driver anyway runs in one
    task (`repartition(1)`, not `coalesce(1)`, which would collapse the
    final aggregate's stage as well).

    Use it only for output the caller collects. When the row count is
    bounded by construction (a top-k, `qids × k`), use
    `orderBy(...).limit(bound)` instead, which plans a
    TakeOrderedAndProject and needs no exchange at all.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def rsum(col: Column | str, scale: int = 2) -> Column:
    """Deterministic float aggregate: round(sum(x), scale).

    Double summation order differs between Spark (partition-parallel) and the
    DuckDB oracle (sequential); rounding identically on both sides keeps the
    driver's value-hash stable. Scale 2 on ~1e8-magnitude sums leaves ~6
    orders of magnitude of headroom over accumulated double error.
    """
    return F.round(F.sum(col), scale)


def ravg(col: Column | str, scale: int = 6) -> Column:
    return F.round(F.avg(col), scale)


def revenue() -> Column:
    """l_extendedprice * (1 - l_discount) — the TPC-H revenue expression."""
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
