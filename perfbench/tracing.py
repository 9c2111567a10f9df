"""Span recorder and Spark counters for the traced run.

Nothing here edits the program. `Recorder.install` replaces a few public
functions and methods in memory with span-recording wrappers and returns
a function that puts the originals back; the untraced run never installs
them. A span records its name, start, end, parent, statement id, thread
and the py4j calls its thread made while it was the innermost open span.
Spans stay in memory and are written out once, when the run ends.

Self time is a span's duration minus the time its child spans cover.
Children are spans opened on the same thread while the parent was open,
so they never overlap each other.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PROGRAM = "go_mysql_server_spark"


class Recorder:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, nest: bool = True) -> dict:
        """Start a span; with nest=False later spans of this thread do not
        become its children."""
        stack = self._stack()
        span = {"id": next(self._ids), "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "stmt": getattr(self._local, "stmt", None),
                "thread": threading.current_thread().name,
                "py4j": 0, "start": time.perf_counter()}
        if nest:
            stack.append(span)
        return span

    def close(self, span: dict, busy: float | None = None) -> None:
        span["end"] = time.perf_counter()
        span["dur"] = span["end"] - span["start"] if busy is None else busy
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def statement(self, stmt_id) -> None:
        """Tag spans opened from now on by this thread with `stmt_id`."""
        self._local.stmt = stmt_id

    def _count_py4j(self) -> None:
        stack = getattr(self._local, "stack", None)
        if stack:
            stack[-1]["py4j"] += 1

    # -- wrappers

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _plan(self, df) -> None:
        """Force Catalyst planning as its own span; the action that follows
        reuses the planned `queryExecution`."""
        with self.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()

    def wrap_action(self, fn, plan: bool):
        """A DataFrame action: an optional `spark.plan` span, then a
        `spark.exec` span around the action."""
        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            if plan:
                self._plan(df)
            with self.span("spark.exec"):
                return fn(df, *args, **kwargs)

        return wrapper

    def wrap_iterator(self, fn):
        """`toLocalIterator` runs its jobs while the caller iterates, so its
        `spark.exec` span counts only the time spent inside `next()`, and
        spans the caller opens meanwhile do not become its children."""
        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            self._plan(df)
            span = self.open("spark.exec", nest=False)
            busy = 0.0
            t0 = time.perf_counter()
            try:
                it = iter(fn(df, *args, **kwargs))
                busy = time.perf_counter() - t0
                while True:
                    t0 = time.perf_counter()
                    try:
                        row = next(it)
                    except StopIteration:
                        return
                    finally:
                        busy += time.perf_counter() - t0
                    yield row
            finally:
                self.close(span, busy=busy)

        return wrapper

    def _counted(self, send):
        @functools.wraps(send)
        def counted_send(*args, **kwargs):
            self._count_py4j()
            return send(*args, **kwargs)

        return counted_send

    def install(self, spark) -> callable:
        """Wrap the program's layer entry points; returns the undo function."""
        from go_mysql_server_spark import dbapi
        from go_mysql_server_spark.dialect import transpiler
        from go_mysql_server_spark.engine import Engine
        from go_mysql_server_spark.server.client import Client
        from go_mysql_server_spark.sources import tables

        undo: list[tuple[object, str, object]] = []

        def patch(owner, attr, new):
            undo.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)

        def patch_method(cls, attr, make):
            # patch the class that defines it: pyspark 4's classic
            # DataFrame overrides the methods of pyspark.sql.DataFrame
            owner = next(c for c in cls.__mro__ if attr in c.__dict__)
            patch(owner, attr, make(owner.__dict__[attr]))

        def patch_function(fn, name):
            # `from x import f` copies the reference, so replace it in every
            # program module that holds it
            new = self.wrap(fn, name)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(PROGRAM):
                    for attr, val in list(vars(mod).items()):
                        if val is fn:
                            patch(mod, attr, new)

        patch_function(tables.load, "sources.load")
        patch_function(transpiler.transpile_select, "dialect.transpile")
        patch_method(Engine, "query", lambda f: self.wrap(f, "engine.query"))
        patch_method(type(spark), "sql", lambda f: self.wrap(f, "spark.sql"))
        df_cls = type(spark.range(1))
        patch_method(df_cls, "collect", lambda f: self.wrap_action(f, True))
        patch_method(df_cls, "toLocalIterator", self.wrap_iterator)
        patch_method(df_cls, "count", lambda f: self.wrap_action(f, False))
        patch_method(df_cls, "localCheckpoint",
                     lambda f: self.wrap_action(f, False))
        patch_method(Client, "query",
                     lambda f: self.wrap(f, "server.roundtrip"))
        patch_method(dbapi.Cursor, "execute",
                     lambda f: self.wrap(f, "dbapi.execute"))
        patch_method(type(spark.sparkContext._gateway._gateway_client),
                     "send_command", self._counted)

        def restore():
            for owner, attr, old in reversed(undo):
                setattr(owner, attr, old)

        return restore

    # -- analysis

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds, inclusive py4j."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        by_id = {s["id"]: s for s in self.spans}

        def inclusive_py4j(s):
            return s["py4j"] + sum(inclusive_py4j(c)
                                   for c in children[s["id"]])

        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"n": 0, "s": 0.0, "self_s": 0.0, "py4j": 0})
        for s in self.spans:
            t = out[s["name"]]
            t["n"] += 1
            t["s"] += s["dur"]
            t["self_s"] += s["dur"] - sum(c["dur"] for c in children[s["id"]])
            if s["parent"] is None or by_id.get(s["parent"], {}).get(
                    "name") != s["name"]:
                t["py4j"] += inclusive_py4j(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class SparkCounters:
    """Job, stage and task counts from Spark's status store, read
    between operations (never inside a timed span)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway

    def job_mark(self) -> int:
        """Jobs submitted so far (job ids count up from 0)."""
        return self._sc.dagScheduler().numTotalJobs()

    def stage_mark(self) -> int:
        """Stages created so far (stage ids count up from 0)."""
        return self._sc.dagScheduler().nextStageId()

    def stage_stats(self, first_stage: int) -> dict[str, float]:
        """Totals over the stages created since `first_stage` that ran
        (skipped stages reuse an earlier stage's shuffle output)."""
        from py4j.protocol import Py4JJavaError

        stats = {"stages": 0, "tasks": 0, "tasks_failed": 0,
                 "shuffle_write_bytes": 0}
        store = self._sc.statusStore()
        jvm = self._gateway.jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(jvm.double, 0)
        for sid in range(first_stage, self.stage_mark()):
            try:
                attempts = store.stageData(sid, False, no_status, False,
                                           no_quantiles)
            except Py4JJavaError:
                continue  # never submitted
            ran = False
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                ran = True
                stats["tasks"] += st.numTasks()
                stats["tasks_failed"] += st.numFailedTasks()
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
            stats["stages"] += ran
        return stats

    def retained(self) -> tuple[int, float]:
        """(RDDs held by the block manager, MB they hold in memory)."""
        infos = self._sc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() for i in infos) / 1e6
