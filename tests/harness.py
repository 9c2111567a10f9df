"""Spark-vs-DuckDB comparison harness.

Canonicalization mirrors the driver's compare (see __spark_entry__
docstring): sort columns by name, sort rows, then compare cell-by-cell with
NULL-sentinel handling and float tolerance. Mirrors the reference's
golden-result style (reference enginetest/queries/queries.go:42-56) with a
computed oracle instead of checked-in rows.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-9


def _canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        return ("f", float(v))
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    if isinstance(v, datetime.time):
        # our TIME shim is a string column; DuckDB returns time objects
        return ("s", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon_cell(x) for x in v))
    if isinstance(v, bytes):
        return ("y", v)
    return ("s", str(v))


def _sort_key(row):
    out = []
    for cell in row:
        kind = cell[0]
        if kind == "f":
            out.append((kind, round(cell[1], 6)))
        else:
            out.append(cell)
    return repr(out)


def canonicalize(columns, rows):
    """→ (sorted column names, rows re-ordered by column name then sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    canon = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    canon.sort(key=_sort_key)
    return cols, canon


def _cells_equal(a, b) -> bool:
    if a[0] == "f" or b[0] == "f":
        # STRICT numeric-kind match: the driver hashes values after a
        # pandas round-trip, so an int on one side and a float on the
        # other ("900" vs "900.0") hash differently even when equal.
        # CORRECTNESS_r02 func_math_suite failed exactly this way.
        if a[0] != b[0]:
            return False
        x, y = float(a[1]), float(b[1])
        if math.isnan(x) and math.isnan(y):
            return True
        return math.isclose(x, y, rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    if a[0] == "l" and b[0] == "l":
        return len(a[1]) == len(b[1]) and all(
            _cells_equal(x, y) for x, y in zip(a[1], b[1])
        )
    return a == b


def driver_incompatible_columns(spark_df) -> list[str]:
    """Columns whose type the driver's pandas canonicalizer cannot hash.

    The driver sort_values-es every output column after an Arrow round
    trip; array/map/struct cells arrive as numpy arrays / dicts / Rows,
    all unhashable — CORRECTNESS_r03 pipeline_embedding_quantize red row
    ("TypeError: unhashable type: 'list'"). Registry entries must emit
    scalars only (join arrays with array_join / to_json first)."""
    from pyspark.sql import types as T

    bad = []
    for f in spark_df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            bad.append(f"{f.name}: {f.dataType.simpleString()}")
    return bad


def compare(spark_df, duck_rel) -> list[str]:
    """Returns a list of mismatch descriptions (empty = match)."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols = [d[0] for d in duck_rel.description]
    d_rows = duck_rel.fetchall()

    problems: list[str] = []
    sc, sr = canonicalize(s_cols, s_rows)
    dc, dr = canonicalize(d_cols, d_rows)
    if sc != dc:
        problems.append(f"column mismatch: spark={sc} duckdb={dc}")
        return problems
    if len(sr) != len(dr):
        problems.append(f"row count mismatch: spark={len(sr)} duckdb={len(dr)}")
        return problems
    for i, (a, b) in enumerate(zip(sr, dr)):
        for j, (x, y) in enumerate(zip(a, b)):
            if not _cells_equal(x, y):
                problems.append(
                    f"row {i} col {sc[j]}: spark={x!r} duckdb={y!r}"
                )
                if len(problems) >= 10:
                    return problems
    return problems


def count_jobs(spark, fn):
    """(Spark jobs `fn()` launched, its result). The jobs are tagged with
    a job group unique to this call; the status tracker learns of them
    through the listener bus, which is drained before reading."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result
