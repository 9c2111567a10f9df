#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,sql_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It generates the workload's tables from
the seed into a work directory under perfbench/, sets the engine up
(timed as `setup_s`), measures operations for S seconds with tracing off,
and checks every output after the timed region. With --trace 1 it then
wraps the program's layer entry points and measures S more seconds,
reporting the per-layer split instead of the end-to-end metrics.

stdout ends with two JSON lines: the run's context (contention canary,
load average, cores, seed, versions) and the result
{"correct", "attempted", "failed", "metrics"}. Progress goes to stderr.
Spans of a traced run are written to perfbench/out/.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
WORKLOADS = ("analytics", "sql_mix")
T = time.perf_counter
# Spark's local cores: the remaining cores are left to the JIT compiler,
# the garbage collector and the callers, so that the benchmark does not
# run more busy threads than the machine has cores
SPARK_CORES = 2


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def canary_ms(spark) -> float:
    """Median of 5 `spark.range(1).count()` calls: the machine's health."""
    times = []
    for _ in range(5):
        t0 = T()
        spark.range(1).count()
        times.append((T() - t0) * 1000)
    return statistics.median(times)


class HostSpeed:
    """How fast the host runs at the moment, for scaling the run's
    latencies to a reference speed.

    A shared host's speed drifts by a third and more over minutes as other
    tenants come and go; CPU time drifts with wall time, so neither is
    steady on its own. Two probes, timed between operations, track the
    drift: the canary (an empty Spark job: job launch, scheduling and
    thread hand-offs) and a gather of 2M random elements from a 64 MB
    array (memory latency, which no Spark setting touches). A run's
    latency times `factor()` is its latency at the speed at which the
    probes take REF_CANARY_S and REF_GATHER_S. The probes run only while
    no operation is in flight; the raw figures stay in the per-layer
    metrics (`wall.*`) and the context line."""

    REF_CANARY_S = 0.050
    REF_GATHER_S = 0.030

    def __init__(self, spark):
        import numpy as np

        self.spark = spark
        self.array = np.arange(8_000_000, dtype=np.int64)
        self.index = np.random.default_rng(0).integers(
            0, len(self.array), 2_000_000)
        self.canary: list[float] = []
        self.gather: list[float] = []

    def sample(self, n: int = 1) -> None:
        for _ in range(n):
            t0 = T()
            self.spark.range(1).count()
            self.canary.append(T() - t0)
            t0 = T()
            int(self.array[self.index].sum())
            self.gather.append(T() - t0)

    def factor(self) -> float:
        return math.sqrt(
            self.REF_CANARY_S / statistics.median(self.canary)
            * self.REF_GATHER_S / statistics.median(self.gather))


def retained_heap_mb(spark) -> float:
    """The Spark JVM's heap in use after a full collection, in MB: the
    median of three collections, since Spark frees unreferenced blocks in
    the background."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 1e6)
        time.sleep(0.2)
    return statistics.median(used)


def git_head() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def latency_metrics(wl, ops: list[dict], wall_s: float) -> dict:
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        if op["kind"] not in getattr(wl, "GEOMEAN_SKIP", ()):
            by_kind.setdefault(op["kind"], []).append(op["s"])
    geomean = math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by_kind.values()))
    return {"ops_per_s": len(ops) / wall_s, "geomean_ms": geomean * 1000}


def layer_metrics(ops, rec, spark_stats, untraced_ops) -> dict:
    """Per-layer split of the traced phase; see perfbench/README.md.

    A layer's `_ms` and py4j figures are means per call of its entry point;
    `_per_op`, `dialect.calls`, `sources.*` and `spark.plan_ms`/`exec_ms`
    are per operation (query or statement)."""
    from workloads import Analytics

    n = len(ops)
    tot = rec.totals()

    def per_call(name, key="s", scale=1000.0):
        return tot[name][key] * scale / tot[name]["n"] if name in tot else 0.0

    def per_op(name, key="s", scale=1000.0):
        return tot[name][key] * scale / n if name in tot else 0.0

    m = {
        "plans.build_ms": (per_call("plans.build"), "ms"),
        "plans.build_py4j_calls": (per_call("plans.build", "py4j", 1),
                                   "count"),
        "plans.build_jobs": (statistics.fmean(
            op["build_jobs"] for op in ops) if "plans.build" in tot else 0.0,
            "count"),
        "sources.load_calls": (per_op("sources.load", "n", 1), "count"),
        "sources.load_ms": (per_op("sources.load"), "ms"),
        "spark.plan_ms": (per_op("spark.plan"), "ms"),
        "spark.exec_ms": (per_op("spark.exec"), "ms"),
        "dialect.calls": (per_op("dialect.transpile", "n", 1), "count"),
        "dialect.transpile_ms": (per_call("dialect.transpile"), "ms"),
        "engine.query_ms": (per_call("engine.query"), "ms"),
        "engine.self_ms": (per_call("engine.query", "self_s"), "ms"),
        "engine.py4j_per_stmt": (per_call("engine.query", "py4j", 1),
                                 "count"),
        "dbapi.self_ms": (per_call("dbapi.execute", "self_s"), "ms"),
    }
    # the server's share of a wire round trip: what the client waited for
    # minus the engine, plan and execute spans on the server's threads,
    # the only spans no benchmark caller tagged with a statement id
    # (leaves protocol work plus statement-lock wait)
    served = sum(s["dur"] for s in rec.spans
                 if s["parent"] is None and s["stmt"] is None)
    m["server.self_ms"] = ((tot["server.roundtrip"]["s"] - served) * 1000
                           / tot["server.roundtrip"]["n"]
                           if "server.roundtrip" in tot else 0.0, "ms")
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}_per_op"] = (spark_stats[key] / n, "count")
    m["spark.tasks_failed"] = (spark_stats["tasks_failed"], "count")
    m["spark.shuffle_write_mb_per_op"] = (
        spark_stats["shuffle_write_bytes"] / 1e6 / n, "MB")
    for name in Analytics.QUERIES:
        mine = [op for op in ops if op["kind"] == name]
        m[f"q.{name}.s"] = (
            statistics.median(op["s"] for op in mine) if mine else 0.0, "s")
        m[f"q.{name}.jobs"] = (
            statistics.median(op["jobs"] for op in mine) if mine else 0,
            "count")
    for kind in ("insert", "insert_multi", "update", "delete", "select",
                 "commit"):
        lat = [op["s"] for op in untraced_ops if op["kind"] == kind]
        m[f"dml.{kind}_p50_ms"] = (
            statistics.median(lat) * 1000 if lat else 0.0, "ms")
    return m


def measure(workload: str, seed: int, seconds: float, trace: bool,
            work: str) -> dict:
    """One run: returns the end-to-end metrics, the per-layer metrics of the
    traced phase (None when untraced), every checked operation and the
    run's context. Metrics are {name: (value, unit)}."""
    import datagen
    import workloads
    from tracing import Recorder, SparkCounters

    wl = workloads.make(workload, seed)
    data_dir = os.path.join(work, "data")
    t0 = T()
    rows = datagen.generate(data_dir, wl.sf, seed, wl.TABLES)
    log(f"generated sf{wl.sf} seed {seed} in {T() - t0:.1f}s: {rows}")
    cpus = len(os.sched_getaffinity(0))

    phases = workloads.Phases()
    with phases("session"):
        import pyspark

        from go_mysql_server_spark.session import build_session

        spark = build_session(f"perfbench-{workload}",
                              cpus=min(SPARK_CORES, cpus))
        spark.sparkContext.setLogLevel("ERROR")
    try:
        wl.setup(spark, data_dir, phases)
        setup_s = sum(v for k, v in phases.s.items() if k != "settle")
        log(f"setup {setup_s:.2f}s {phases.s}")
        canary_before = canary_ms(spark)

        speed = HostSpeed(spark)
        speed.sample(5)
        t0 = T()
        ops = wl.run(seconds, between=speed.sample)
        wall = T() - t0
        speed.sample(5)
        log(f"untraced: {len(ops)} ops in {wall:.2f}s")

        traced: list[dict] = []
        if trace:
            rec, counters = Recorder(), SparkCounters(spark)
            first_job, first_stage = counters.job_mark(), counters.stage_mark()
            restore = rec.install(spark)
            try:
                traced = wl.run(seconds, rec, counters)
            finally:
                restore()
            spark_stats = counters.stage_stats(first_stage)
            spark_stats["jobs"] = counters.job_mark() - first_job
            log(f"traced: {len(traced)} ops")
        heap_mb = retained_heap_mb(spark)
        rdds, rdd_mb = SparkCounters(spark).retained()
        canary_after = canary_ms(spark)

        checked = ops + traced + wl.check(ops + traced)
        failed = sum(1 for op in checked if not op["ok"])
        for op in checked:
            if not op["ok"]:
                log(f"FAILED {op['kind']}: {op.get('error') or op.get('sql')}")
    finally:
        wl.close()
        stop_spark(spark)

    wall_e2e = latency_metrics(wl, ops, wall)
    factor = speed.factor()
    e2e = {"setup_s": (setup_s, "s"),
           "geomean_ref_ms": (wall_e2e["geomean_ms"] * factor, "ms"),
           "ops_per_ref_s": (wall_e2e["ops_per_s"] / factor, "1/s"),
           "retained_heap_mb": (heap_mb, "MB")}
    layers = None
    if trace:
        layers = layer_metrics(traced, rec, spark_stats, ops)
        for name in ("session", "engine_init", "load", "warmup"):
            layers[f"setup.{name}_s"] = (phases.s.get(name, 0.0), "s")
        layers["spark.retained_rdds"] = (rdds, "count")
        layers["spark.retained_mb"] = (rdd_mb, "MB")
        layers["env.canary_ms_before"] = (canary_before, "ms")
        layers["env.canary_ms_after"] = (canary_after, "ms")
        layers["env.loadavg"] = (os.getloadavg()[0], "load")
        layers["env.speed_factor"] = (factor, "ratio")
        layers["wall.geomean_ms"] = (wall_e2e["geomean_ms"], "ms")
        layers["wall.ops_per_s"] = (wall_e2e["ops_per_s"], "1/s")
        layers["trace.overhead_frac"] = (
            statistics.fmean(op["s"] for op in traced)
            / statistics.fmean(op["s"] for op in ops) - 1, "ratio")
        layers["check.failed_frac"] = (failed / len(checked), "ratio")
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        rec.write(os.path.join(HERE, "out",
                               f"trace-{workload}-seed{seed}.jsonl"))
    context = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "seconds": seconds, "sf": wl.sf, "nproc": cpus,
        "spark_cores": min(SPARK_CORES, cpus), "speed_factor": factor,
        "wall": wall_e2e,
        "probe_ms": {"canary": statistics.median(speed.canary) * 1000,
                     "gather": statistics.median(speed.gather) * 1000},
        "loadavg": os.getloadavg(), "canary_ms_before": canary_before,
        "canary_ms_after": canary_after, "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "git_head": git_head(),
        "setup_phases_s": phases.s, "ops": len(ops), "traced_ops": len(traced),
        "rows": rows,
    }
    return {"e2e": e2e, "layers": layers, "ops": checked, "failed": failed,
            "context": context}


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def checkout_dirs(label: str) -> str:
    """Make a work directory under perfbench/ and point every temporary
    file of the run (Python, Spark, the JVM) into it; returns its path."""
    work = os.path.join(HERE, ".work", f"{label}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} pyspark-shell")
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # a 2g JVM heap holds the workloads' tables with room to spare; the
    # 8g default only lets the heap grow further before collecting
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("go_mysql_server_spark") is None:
        log(f"go_mysql_server_spark not found under {ROOT}")
        return 2
    work = checkout_dirs(args.workload)
    try:
        out = measure(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = out["layers"] if args.trace else out["e2e"]
    print(json.dumps({"context": out["context"]}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": len(out["ops"]),
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
