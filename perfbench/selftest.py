#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with a one-second traced run.

    python3 perfbench/selftest.py

For each workload it injects deliberately wrong expected answers and
checks that:
- the end-to-end and per-layer metric names are exactly those listed in
  BENCHMARK.json;
- the operations whose answer was corrupted, and only those, count as
  failed, so `failed` and `check.failed_frac` rise above 0.
Takes about a minute and a half on 4 cores. Exits non-zero on the first
failure.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import workloads  # noqa: E402


def corrupt_analytics():
    """The q1 oracle loses a row."""
    from go_mysql_server_spark import plans

    real = plans.all_oracles

    def wrong():
        oracles = dict(real())
        oracles["tpch_q1_pricing_summary"] = (
            f"SELECT * FROM ({oracles['tpch_q1_pricing_summary']}) "
            "ORDER BY ALL LIMIT 1")
        return oracles

    plans.all_oracles = wrong
    return {"tpch_q1_pricing_summary"}


def corrupt_sql_mix():
    """The point-lookup twin reads the wrong order, and the model expects
    one more row deleted than a DELETE removes."""
    mysql, duck = workloads.SQL_TEMPLATES["point_order"]
    workloads.SQL_TEMPLATES["point_order"] = (
        mysql, duck.replace("= {k}", "= {k} + 1"))
    real = workloads.OrdersModel._delete

    def wrong(self):
        kind, sql, n = real(self)
        return kind, sql, n + 1

    workloads.OrdersModel._delete = wrong
    return {"point_order", "delete"}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want_e2e = {m["name"] for m in spec["end_to_end"]}
    want_layers = {m["name"] for m in spec["per_layer"]}
    for cls in (workloads.Analytics, workloads.SqlMix):
        cls.sf = 0.001
    for name, corrupt in (("analytics", corrupt_analytics),
                          ("sql_mix", corrupt_sql_mix)):
        bad_kinds = corrupt()
        work = run.checkout_dirs(f"selftest-{name}")
        try:
            out = run.measure(name, seed=1, seconds=1.0, trace=True,
                              work=work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        failed_kinds = {op["kind"] for op in out["ops"] if not op["ok"]}
        checks = {
            "end-to-end names": set(out["e2e"]) == want_e2e,
            "per-layer names": set(out["layers"]) == want_layers,
            "only the corrupted kinds fail": failed_kinds == bad_kinds,
            "failed_frac rises": out["layers"]["check.failed_frac"][0] > 0,
        }
        for what, ok in checks.items():
            print(f"{name}: {what}: {'ok' if ok else 'FAIL'}", flush=True)
        if not all(checks.values()):
            print(f"  e2e diff {set(out['e2e']) ^ want_e2e}, layer diff "
                  f"{set(out['layers']) ^ want_layers}, failed kinds "
                  f"{failed_kinds}", flush=True)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
