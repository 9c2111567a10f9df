#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "jobs": {name: Spark jobs, ...},
   "sf": <sf>}

Every query runs end-to-end (plan + execute + collect); the first query is
preceded by a session warm-up so JVM/codegen startup isn't billed to it.

Measurement discipline (r2 showed ±30% run-to-run noise when the set
widened): fixed query order, SPARK_GRAFT_BENCH_REPS repetitions (default 3),
per-query *min* reported (the least-contended run is the plan's cost; means
absorb GC/compilation hiccups), per-query spread recorded in "spread" so
regressions can be told apart from noise.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from go_mysql_server_spark.plans import all_queries
from go_mysql_server_spark.session import build_session

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "agg_count_distinct",
    "window_row_number_topn_per_group",
    "events_sessionization",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_cosine",
    "text_features",
    "events_funnel",
    "multimodal_decode",
    "vocab_document_frequency",
    # round-2 additions (kept after the r1-comparable prefix)
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "pipeline_domain_mix",
    "pipeline_cluster_keep_best",
    # round-3 additions (kept after the r1/r2-comparable prefix)
    "pipeline_quality_rules",
    "pipeline_sequence_packing",
    "pipeline_char_lm_score",
    # round-4 additions: representatives of the r3-queued batch so they
    # get a round-over-round series from r4 on
    "similarity_ivf_pq_search",
    "pipeline_decontaminate",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = build_session("gms-spark-bench", cpus=cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    # Python-worker warm-up: first mapInPandas pays worker+Arrow startup
    import pandas as _pd

    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()

    import gc

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    queries = all_queries()
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # Spark jobs each query launched (build + collect), read from the
    # scheduler's job counter outside the timed region; the last
    # repetition's count is reported
    jobs: dict[str, int] = {}
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for rep in range(reps):
        for name in HEADLINE:  # fixed order every repetition
            fn = queries[name]
            jobs_before = scheduler.numTotalJobs()
            start = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            dt = round(time.perf_counter() - start, 3)
            jobs[name] = scheduler.numTotalJobs() - jobs_before
            samples[name].append(dt)
            print(f"# rep{rep} {name}: {dt:.3f}s ({len(rows)} rows)",
                  file=sys.stderr)
            # release checkpointed RDD blocks between queries so one query's
            # cached state doesn't distort the next measurement
            gc.collect()

    timings = {name: min(ts) for name, ts in samples.items()}
    spread = {name: round(max(ts) - min(ts), 3) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    # the first 14 entries are the round-1 headline set; report their
    # subtotal separately so cross-round totals stay comparable after the
    # set was widened in round 2
    r1_set = HEADLINE[:14]
    print(json.dumps({
        "metric": f"headline_queries_total_sf{sf}",
        "value": total,
        "unit": "sec",
        "value_r1_comparable_14q": round(
            sum(timings[n] for n in r1_set if n in timings), 3),
        "queries": timings,
        "spread": spread,
        "jobs": jobs,
        "reps": reps,
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
