"""The workloads: analytics and sql_mix.

Each workload is a closed loop: a caller sends its next operation only
after the previous one has replied. `setup` does the lazy work a user
pays once (engine construction, table registration, warm-up) and times
each phase; `run` measures operations for a given number of seconds and
keeps what is needed to check them; `check` compares outputs with an
independent answer after the timed region and marks every operation
`ok` or not.

An operation record is a dict with at least `kind` (query name, SQL
template or statement kind), `s` (latency in seconds) and, after
`check`, `ok`.
"""

from __future__ import annotations

import datetime
import decimal
import gc
import math
import random
import threading
import time
from contextlib import contextmanager

import duckdb

T = time.perf_counter
ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


class Phases:
    """Wall time of each named set-up phase."""

    def __init__(self):
        self.s: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = T()
        try:
            yield
        finally:
            self.s[name] = self.s.get(name, 0.0) + T() - t0


def duck_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# ---------------------------------------------------------------- analytics

class Analytics:
    """Headline DataFrame queries, one caller, fixed order, whole passes.

    The queries are a fixed subset of bench.py's HEADLINE list: at sf0.01
    on two Spark cores one pass over all 23 takes about 15 s warm and 34 s
    cold, which leaves too few passes in a run. The subset keeps one query
    per mechanism the roadmap targets: scan+aggregate (q1), a join (q3), a
    py4j-heavy build (simhash), `spread()` (vocab), and Spark jobs
    launched at build time (IVF-PQ's k-means).

    Query times keep falling for several passes while the JIT compiles
    Spark's planning and scheduling code. Set-up bills the first, cold
    pass as warm-up; the settling passes after it are billed to nothing.
    """

    name = "analytics"
    sf = 0.01
    QUERIES = (
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "dedup_simhash",
        "vocab_document_frequency",
        "similarity_ivf_pq_search",
    )
    TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")
    SETTLE_PASSES = 4

    def setup(self, spark, data_dir: str, phases: Phases) -> None:
        from go_mysql_server_spark.plans import all_queries
        from go_mysql_server_spark.sources import load

        self.spark, self.data_dir = spark, data_dir
        self.builders = {n: all_queries()[n] for n in self.QUERIES}
        with phases("load"):
            for t in self.TABLES:
                load(spark, data_dir, t)
        for phase, passes in (("warmup", 1), ("settle", self.SETTLE_PASSES)):
            with phases(phase):
                for _ in range(passes):
                    for name in self.QUERIES:
                        self.builders[name](spark, data_dir).collect()
                        gc.collect()

    def run(self, seconds: float, rec=None, counters=None,
            between=None) -> list[dict]:
        """`between`, if given, is called after every operation."""
        ops: list[dict] = []
        t_start = T()
        while T() - t_start < seconds:
            for name in self.QUERIES:
                ops.append(self._one(name, rec, counters))
                # drop the query's DataFrames so checkpointed blocks are
                # released before the next one (as bench.py does)
                gc.collect()
                if between is not None:
                    between()
        return ops

    def _one(self, name: str, rec, counters) -> dict:
        build = self.builders[name]
        if rec is None:
            t0 = T()
            df = build(self.spark, self.data_dir)
            rows = df.collect()
            op = {"kind": name, "s": T() - t0}
        else:
            j0 = counters.job_mark()
            t0 = T()
            with rec.span("plans.build") as span:
                df = build(self.spark, self.data_dir)
            j1 = counters.job_mark()
            rows = df.collect()
            op = {"kind": name, "s": T() - t0, "build_jobs": j1 - j0,
                  "jobs": counters.job_mark() - j0}
        op["rows"], op["columns"] = rows, df.columns
        return op

    def check(self, ops: list[dict]) -> list[dict]:
        from go_mysql_server_spark.plans import all_oracles
        from tests.harness import _cells_equal, canonicalize

        con = duck_views(self.data_dir, self.TABLES)
        expected = {}
        try:
            for name in self.QUERIES:
                rel = con.sql(all_oracles()[name])
                expected[name] = canonicalize(
                    [d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        for op in ops:
            cols, rows = canonicalize(op.pop("columns"),
                                      [tuple(r) for r in op.pop("rows")])
            want_cols, want = expected[op["kind"]]
            op["ok"] = (cols == want_cols and len(rows) == len(want) and all(
                _cells_equal(x, y)
                for a, b in zip(rows, want) for x, y in zip(a, b)))
        return []

    def close(self) -> None:
        pass


# ------------------------------------------------------------------ sql_mix

# (name, MySQL text sent over the wire, DuckDB text giving the same rows).
# Every template orders its rows totally, so rows compare in order.
SQL_TEMPLATES = {
    "point_order": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate FROM orders WHERE o_orderkey = {k}",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate FROM orders WHERE o_orderkey = {k}"),
    "point_customer": (
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = {c}",
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_custkey = {c}"),
    "range_lineitem": (
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, "
        "AVG(l_extendedprice) AS avg_price, MAX(l_shipdate) AS last_ship "
        "FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k} + 40",
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, "
        "AVG(l_extendedprice) AS avg_price, MAX(l_shipdate) AS last_ship "
        "FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k} + 40"),
    "range_orders_status": (
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM orders WHERE o_orderkey BETWEEN {k} AND {k} + 300 "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM orders WHERE o_orderkey BETWEEN {k} AND {k} + 300 "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "group_concat_nation": (
        "SELECT n_name, GROUP_CONCAT(DISTINCT c_mktsegment ORDER BY "
        "c_mktsegment SEPARATOR '|') AS segs, COUNT(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > {bal} GROUP BY n_name ORDER BY n_name "
        "LIMIT {off}, 10",
        "SELECT n_name, string_agg(DISTINCT c_mktsegment, '|' ORDER BY "
        "c_mktsegment) AS segs, COUNT(*) AS n "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > {bal} GROUP BY n_name ORDER BY n_name "
        "LIMIT 10 OFFSET {off}"),
    "month_status_if": (
        "SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS ym, "
        "IF(o_orderstatus = 'F', 'done', 'open') AS st, COUNT(*) AS n, "
        "SUM(o_custkey) DIV 1000 AS ck FROM orders "
        "WHERE o_orderdate >= '{day}' AND o_orderdate < '{day}' + "
        "INTERVAL 90 DAY GROUP BY ym, st ORDER BY ym, st LIMIT 0, 20",
        "SELECT strftime(o_orderdate, '%Y-%m') AS ym, "
        "CASE WHEN o_orderstatus = 'F' THEN 'done' ELSE 'open' END AS st, "
        "COUNT(*) AS n, SUM(o_custkey) // 1000 AS ck FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '{day}' AND o_orderdate < "
        "TIMESTAMP '{day}' + INTERVAL 90 DAY GROUP BY ym, st "
        "ORDER BY ym, st LIMIT 20"),
    "lax_cast_priority": (
        "SELECT CAST(o_orderpriority AS UNSIGNED) AS prio, COUNT(*) AS n, "
        "MIN(o_totalprice) AS lo FROM orders "
        "WHERE o_orderkey BETWEEN {k} AND {k} + 500 "
        "GROUP BY prio ORDER BY prio",
        "SELECT CAST(split_part(o_orderpriority, '-', 1) AS BIGINT) AS prio, "
        "COUNT(*) AS n, MIN(o_totalprice) AS lo FROM orders "
        "WHERE o_orderkey BETWEEN {k} AND {k} + 500 "
        "GROUP BY prio ORDER BY prio"),
}

# every 10 statements: 4 point lookups, 3 key ranges, 3 GROUP BYs with
# MySQL-only syntax; the deck is reshuffled each round, so every seed has
# the same mix and a different order and parameters
SQL_DECK = (["point_order"] * 2 + ["point_customer"] * 2
            + ["range_lineitem", "range_orders_status", "lax_cast_priority"]
            + ["group_concat_nation"] + ["month_status_if"] * 2)


def sql_statements(seed: int, n_orders: int, n_cust: int):
    """Endless seeded stream of (template, mysql_sql, duckdb_sql)."""
    rng = random.Random(seed)
    while True:
        deck = list(SQL_DECK)
        rng.shuffle(deck)
        for name in deck:
            day = datetime.date(1995, 1, 1) + datetime.timedelta(
                days=rng.randrange(0, 2300))
            params = {"k": rng.randrange(n_orders - 500),
                      "c": rng.randrange(n_cust),
                      "bal": rng.randrange(-900, 5000),
                      "off": rng.randrange(0, 15),
                      "day": day.isoformat()}
            mysql, duck = SQL_TEMPLATES[name]
            yield name, mysql.format(**params), duck.format(**params)


def text_cell_equal(cell: str | None, v) -> bool:
    """A MySQL text-protocol cell against a DuckDB value."""
    if cell is None or v is None:
        return cell is None and v is None
    if isinstance(v, bool):
        return cell == ("1" if v else "0")
    if isinstance(v, int):
        return cell == str(v)
    if isinstance(v, (float, decimal.Decimal)):
        try:
            return math.isclose(float(cell), float(v), rel_tol=1e-9,
                                abs_tol=1e-9)
        except ValueError:
            return False
    if isinstance(v, (datetime.date, datetime.datetime)):
        from go_mysql_server_spark.server.protocol import render_text_value

        return cell == render_text_value(v).decode()
    return cell == str(v)


class WireReads:
    """Seeded SELECT mix sent over the MySQL wire protocol by 2 client
    connections, each waiting for its reply."""

    CONNECTIONS = 2

    def __init__(self, seed: int):
        self.seed = seed

    def start(self, engine, data_dir: str) -> None:
        from go_mysql_server_spark.server import Client, MySQLServer

        self.data_dir = data_dir
        self.server = MySQLServer(engine, port=0).start()
        self.clients = [Client(self.server.host, self.server.port,
                               user="root")
                        for _ in range(self.CONNECTIONS)]
        con = duck_views(data_dir, ("orders", "customer"))
        try:
            n_orders, n_cust = (con.execute(f"SELECT count(*) FROM {t}")
                                .fetchone()[0]
                                for t in ("orders", "customer"))
        finally:
            con.close()
        self.stream = sql_statements(self.seed, n_orders, n_cust)
        self.lock = threading.Lock()

    def warmup(self, rounds: int) -> None:
        for _ in range(rounds):
            for mysql, _duck in SQL_TEMPLATES.values():
                self.clients[0].query(mysql.format(
                    k=1, c=1, bal=0, off=0, day="1996-01-01"))

    def run(self, seconds: float, rec=None) -> list[dict]:
        ops: list[dict] = []
        deadline = T() + seconds
        errors: list[BaseException] = []

        def caller(client):
            try:
                while T() < deadline:
                    with self.lock:
                        name, mysql, duck = next(self.stream)
                        op = {"kind": name, "sql": mysql, "duck": duck}
                        stmt = f"r{len(ops)}"
                        ops.append(op)
                    if rec is not None:
                        rec.statement(stmt)
                    t0 = T()
                    try:
                        op["rows"] = client.query(mysql).rows
                    except Exception as exc:  # noqa: BLE001 — counted failed
                        op["error"] = repr(exc)
                    op["s"] = T() - t0
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        threads = [threading.Thread(target=caller, args=(c,),
                                    name=f"bench-conn-{i}")
                   for i, c in enumerate(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 120)
            if t.is_alive():
                raise RuntimeError("wire caller did not finish")
        if errors:
            raise errors[0]
        return ops

    def check(self, ops: list[dict]) -> None:
        con = duck_views(self.data_dir, ALL_TABLES)
        try:
            for op in ops:
                rows = op.pop("rows", None)
                if rows is None:
                    op["ok"] = False
                    continue
                want = con.execute(op["duck"]).fetchall()
                op["ok"] = len(rows) == len(want) and all(
                    len(a) == len(b) and all(
                        text_cell_equal(x, y) for x, y in zip(a, b))
                    for a, b in zip(rows, want))
        finally:
            con.close()

    def close(self) -> None:
        for c in getattr(self, "clients", ()):
            c.close()
        if hasattr(self, "server"):
            self.server.close()


DML_TABLE = "bench_orders"
DML_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority")
# one transaction: BEGIN, 3 rows in, 3 rows out, 1 update, 4 point reads,
# COMMIT; the statement order inside is reshuffled per transaction
DML_BODY = ("insert", "insert_multi", "update", "delete",
            "select", "select", "select", "select")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


class OrdersModel:
    """Python dict model of the table; generates the seeded statements and
    the answer each one must give."""

    def __init__(self, rows, seed: int):
        self.rows = {r[0]: tuple(r[1:]) for r in rows}
        self.keys = list(self.rows)
        self.pos = {k: i for i, k in enumerate(self.keys)}
        self.rng = random.Random(seed)
        self.next_key = max(self.keys) + 1_000_000
        self.last_written = self.keys[0]

    def _add(self, key, row) -> None:
        self.rows[key] = row
        self.pos[key] = len(self.keys)
        self.keys.append(key)
        self.last_written = key

    def _remove(self, key) -> None:
        i = self.pos.pop(key)
        last = self.keys.pop()
        if last != key:
            self.keys[i] = last
            self.pos[last] = i
        del self.rows[key]
        if self.last_written == key:
            self.last_written = self.keys[0]

    def _new_row(self):
        key = self.next_key
        self.next_key += 1
        rng = self.rng
        return key, (rng.randrange(1500), rng.choice("OFP"),
                     rng.randrange(100_000, 50_000_000) / 100,
                     rng.choice(PRIORITIES))

    @staticmethod
    def _values(key, row) -> str:
        cust, status, price, prio = row
        return f"({key}, {cust}, '{status}', {price!r}, '{prio}')"

    def transaction(self) -> list[tuple[str, str, object]]:
        """[(kind, sql, expected)] for one transaction, applied to the
        model. expected is rows affected for DML and the row list for a
        SELECT."""
        body = list(DML_BODY)
        self.rng.shuffle(body)
        out = [("begin", "BEGIN", None)]
        for kind in body:
            out.append(getattr(self, "_" + kind)())
        out.append(("commit", "COMMIT", None))
        return out

    def _insert(self):
        key, row = self._new_row()
        self._add(key, row)
        return ("insert", f"INSERT INTO {DML_TABLE} VALUES "
                + self._values(key, row), 1)

    def _insert_multi(self):
        new = [self._new_row() for _ in range(2)]
        for key, row in new:
            self._add(key, row)
        return ("insert_multi", f"INSERT INTO {DML_TABLE} VALUES "
                + ", ".join(self._values(k, r) for k, r in new), 2)

    def _update(self):
        key = self.rng.choice(self.keys)
        delta = self.rng.randrange(1, 400) / 4
        status = self.rng.choice("OFP")
        cust, _, price, prio = self.rows[key]
        self.rows[key] = (cust, status, price + delta, prio)
        self.last_written = key
        return ("update", f"UPDATE {DML_TABLE} SET o_totalprice = "
                f"o_totalprice + {delta!r}, o_orderstatus = '{status}' "
                f"WHERE o_orderkey = {key}", 1)

    def _delete(self):
        victims = self.rng.sample(self.keys, 3)
        for key in victims:
            self._remove(key)
        return ("delete", f"DELETE FROM {DML_TABLE} WHERE o_orderkey IN "
                f"({', '.join(map(str, victims))})", 3)

    def _select(self):
        key = (self.last_written if self.rng.random() < 0.5
               else self.rng.choice(self.keys))
        return ("select", f"SELECT {', '.join(DML_COLUMNS)} FROM "
                f"{DML_TABLE} WHERE o_orderkey = {key}",
                [(key,) + self.rows[key]])


class Transactions:
    """Seeded BEGIN ... COMMIT transactions on one DB-API connection over a
    PRIMARY KEY table preloaded from `orders`."""

    def __init__(self, seed: int):
        self.seed = seed

    def start(self, engine, data_dir: str) -> None:
        from go_mysql_server_spark import dbapi

        cols = ", ".join(DML_COLUMNS)
        self.cur = dbapi.connect(engine=engine).cursor()
        self.cur.execute(
            f"CREATE TABLE {DML_TABLE} (o_orderkey BIGINT PRIMARY KEY, "
            "o_custkey BIGINT, o_orderstatus VARCHAR(1), "
            "o_totalprice DOUBLE, o_orderpriority VARCHAR(15))")
        self.cur.execute(f"INSERT INTO {DML_TABLE} SELECT {cols} FROM orders")
        con = duck_views(data_dir, ("orders",))
        try:
            self.model = OrdersModel(
                con.execute(f"SELECT {cols} FROM orders").fetchall(),
                self.seed)
        finally:
            con.close()
        self.warmup_ops: list[dict] = []

    def warmup(self, transactions: int) -> None:
        for _ in range(transactions):
            for kind, sql, want in self.model.transaction():
                self.warmup_ops.append(self._execute(kind, sql, want))

    def _execute(self, kind: str, sql: str, want) -> dict:
        op = {"kind": kind, "sql": sql, "want": want}
        t0 = T()
        try:
            self.cur.execute(sql)
            op["got"] = (self.cur.fetchall() if kind == "select"
                         else self.cur.rowcount)
        except Exception as exc:  # noqa: BLE001 — counted as failed
            op["error"] = repr(exc)
        op["s"] = T() - t0
        return op

    def run(self, seconds: float, rec=None, between=None) -> list[dict]:
        ops: list[dict] = []
        deadline = T() + seconds
        while T() < deadline:
            for kind, sql, want in self.model.transaction():
                if rec is not None:
                    rec.statement(f"t{len(ops)}")
                ops.append(self._execute(kind, sql, want))
                if between is not None:
                    between()
        return ops

    def check(self, ops: list[dict]) -> list[dict]:
        """Marks `ops` and the warm-up statements; returns the warm-up
        statements and one record for the final table state."""
        for op in self.warmup_ops + ops:
            got, want = op.pop("got", None), op.pop("want")
            if "error" in op:
                op["ok"] = False
            elif op["kind"] == "select":
                op["ok"] = [tuple(r) for r in got] == want
            else:
                op["ok"] = want is None or got == want
        # after the last statement the table must equal the model
        self.cur.execute(f"SELECT {', '.join(DML_COLUMNS)} FROM {DML_TABLE}")
        got = {r[0]: tuple(r[1:]) for r in self.cur.fetchall()}
        return self.warmup_ops + [{"kind": "final_state",
                                   "ok": got == self.model.rows}]


class SqlMix:
    """SQL text through the engine: half the run is WireReads, the other
    half Transactions, on one Engine set up once.

    Reads and writes share one workload so that a run pays the JVM,
    engine, table and warm-up set-up once."""

    name = "sql_mix"
    sf = 0.01
    TABLES = ALL_TABLES
    # transaction control takes well under a millisecond; leaving it out of
    # the geometric mean keeps timer noise from dominating it
    GEOMEAN_SKIP = ("begin", "commit")

    def __init__(self, seed: int):
        self.reads = WireReads(seed)
        self.txns = Transactions(seed)

    def setup(self, spark, data_dir: str, phases: Phases) -> None:
        from go_mysql_server_spark.engine import Engine
        from go_mysql_server_spark.sources import register_all

        with phases("engine_init"):
            engine = Engine(spark)
        with phases("load"):
            register_all(spark, data_dir)
            self.reads.start(engine, data_dir)
            self.txns.start(engine, data_dir)
        # billed: one round of the read templates and two transactions;
        # then, billed to nothing, more rounds while the JIT settles
        with phases("warmup"):
            self.reads.warmup(1)
            self.txns.warmup(2)
        with phases("settle"):
            self.reads.warmup(2)
            self.txns.warmup(1)

    def run(self, seconds: float, rec=None, counters=None,
            between=None) -> list[dict]:
        """`between`, if given, is called after every statement of the
        single-connection transactions and five times before and after the
        reads, whose two connections always have a statement in flight."""
        if between is not None:
            between(5)
        reads = self.reads.run(seconds / 2, rec)
        for op in reads:
            op["part"] = "reads"
        if between is not None:
            between(5)
        return reads + self.txns.run(seconds / 2, rec, between)

    def check(self, ops: list[dict]) -> list[dict]:
        self.reads.check([op for op in ops if op.get("part") == "reads"])
        return self.txns.check([op for op in ops if "part" not in op])

    def close(self) -> None:
        self.reads.close()


def make(name: str, seed: int):
    if name == "analytics":
        return Analytics()
    if name == "sql_mix":
        return SqlMix(seed)
    raise ValueError(f"unknown workload {name!r}")
