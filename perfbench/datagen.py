"""Seeded synthetic tables for the benchmark.

Same ten tables, schemas and value domains as the engine's test data
(TPC-H-like star schema plus `events`, `documents`, `embeddings`), built
with DuckDB from hash-based columns: `hash(i * K + salt) % m`. The salt
mixes in the benchmark seed, so one seed always gives the same files and
another seed gives different values with the same shape.

`sf` follows the test-data naming: sf=0.1 has 150,000 orders and about
600,000 lineitems; sf=0.01 has 15,000 orders.
"""

from __future__ import annotations

import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# documents are words from this 31-word vocabulary, as in the test data
_VOCAB = ("['batch','part','spark','line','column','order','small','sort',"
          "'fast','value','scan','a','hash','slow','group','agg','filter',"
          "'query','big','key','window','row','table','stream','merge',"
          "'data','join','plan','page','disk','cache']")


def generate(out_dir: str, sf: float, seed: int,
             tables=TABLES) -> dict[str, int]:
    """Write one parquet file per table into `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    scale = sf * 10
    n_cust = max(150, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(200, int(20_000 * scale))
    n_orders = max(1_500, int(150_000 * scale))
    n_events = max(1_000, int(100_000 * scale))
    n_docs = max(500, int(5_000 * scale))
    n_vecs = max(500, int(2_000 * scale))
    base = (seed % 1_000_003) * 1_000_033

    def h(i: str, s: int, m: int) -> str:
        return f"CAST(hash({i} * 2654435761 + {base + s}) % {m} AS BIGINT)"

    sql = {
        "region": """
            SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
                                  (3, 'EUROPE'), (4, 'MIDDLE EAST'))
                t(r_regionkey, r_name)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey,
                   'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey,
                   'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST({h('i', 1, 25)} AS INTEGER) AS c_nationkey,
                   ROUND(-999.99 + {h('i', 2, 1100000)} / 100.0, 2)
                       AS c_acctbal,
                   ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                    'MACHINERY'][CAST({h('i', 3, 5)} AS INTEGER) + 1]
                       AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey,
                   'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST({h('i', 4, 25)} AS INTEGER) AS s_nationkey,
                   ROUND(-999.99 + {h('i', 5, 1100000)} / 100.0, 2)
                       AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   ['small', 'large', 'hot', 'cold', 'old', 'new', 'blue',
                    'red'][CAST({h('i', 6, 8)} AS INTEGER) + 1] || ' ' ||
                   ['ring', 'bolt', 'plate', 'screw', 'gear',
                    'pin'][CAST({h('i', 7, 6)} AS INTEGER) + 1] AS p_name,
                   'Brand#' || (1 + {h('i', 8, 25)}) AS p_brand,
                   ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                    'STANDARD'][CAST({h('i', 9, 6)} AS INTEGER) + 1] AS p_type,
                   CAST(1 + {h('i', 10, 50)} AS INTEGER) AS p_size,
                   ROUND(100.0 + {h('i', 11, 190000)} / 100.0, 2)
                       AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   {h('i', 12, n_cust)} AS o_custkey,
                   ['O', 'F', 'P'][CASE WHEN {h('i', 13, 100)} < 48 THEN 1
                                        WHEN {h('i', 13, 100)} < 97 THEN 2
                                        ELSE 3 END] AS o_orderstatus,
                   ROUND(1000.0 + {h('i', 14, 45000000)} / 100.0, 2)
                       AS o_totalprice,
                   TIMESTAMP '1995-01-01'
                       + INTERVAL (CAST({h('i', 15, 2404)} AS INTEGER)) DAY
                       AS o_orderdate,
                   ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                    '5-LOW'][CAST({h('i', 16, 5)} AS INTEGER) + 1]
                       AS o_orderpriority
            FROM range({n_orders}) t(i)""",
        # 1..7 lines per order, about 4 on average
        "lineitem": f"""
            WITH o AS (SELECT i AS ok, {h('i', 15, 2404)} AS odate_off,
                              1 + {h('i', 17, 7)} AS nlines
                       FROM range({n_orders}) t(i)),
            l AS (SELECT ok, odate_off, ln
                  FROM o, LATERAL (SELECT unnest(range(1,
                                   CAST(nlines AS INTEGER) + 1)) AS ln))
            SELECT ok AS l_orderkey,
                   {h('(ok * 8 + ln)', 18, n_part)} AS l_partkey,
                   {h('(ok * 8 + ln)', 19, n_supp)} AS l_suppkey,
                   CAST(ln AS INTEGER) AS l_linenumber,
                   CAST(1 + {h('(ok * 8 + ln)', 20, 50)} AS DOUBLE)
                       AS l_quantity,
                   ROUND(900.0 + {h('(ok * 8 + ln)', 21, 9500000)} / 100.0, 2)
                       AS l_extendedprice,
                   ROUND({h('(ok * 8 + ln)', 22, 11)} / 100.0, 2)
                       AS l_discount,
                   ROUND({h('(ok * 8 + ln)', 23, 9)} / 100.0, 2) AS l_tax,
                   ['A', 'N', 'R'][CAST({h('(ok * 8 + ln)', 24, 3)} AS INTEGER)
                                   + 1] AS l_returnflag,
                   ['O', 'F'][CAST({h('(ok * 8 + ln)', 25, 2)} AS INTEGER) + 1]
                       AS l_linestatus,
                   TIMESTAMP '1995-01-01'
                       + INTERVAL (CAST(odate_off AS INTEGER)) DAY
                       + INTERVAL (CAST(1 + {h('(ok * 8 + ln)', 26, 120)}
                                        AS INTEGER)) DAY AS l_shipdate
            FROM l""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01'
                       + INTERVAL (CAST(i * ({30 * 86400000} / {n_events})
                                        AS BIGINT)
                                   + CAST({h('i', 27, 2000)} AS INTEGER))
                           MILLISECOND AS ts,
                   {h('i', 28, 15 * n_events // 100)} AS user_id,
                   ['view', 'click', 'purchase', 'signup',
                    'error'][CASE WHEN {h('i', 29, 100)} < 45 THEN 1
                                  WHEN {h('i', 29, 100)} < 75 THEN 2
                                  WHEN {h('i', 29, 100)} < 85 THEN 3
                                  WHEN {h('i', 29, 100)} < 93 THEN 4
                                  ELSE 5 END] AS event_type,
                   ROUND({h('i', 30, 56021)} / 100.0, 2) AS value,
                   '{{"k": ' || {h('i', 31, 100)} || '}}' AS props
            FROM range({n_events}) t(i)""",
        # about 1.6 in 1000 documents are exact duplicates of one text, so
        # the dedup operators have work to do
        "documents": f"""
            WITH d AS (
              SELECT i,
                     CASE WHEN {h('i', 32, 625)} < 1 THEN {base} ELSE i END
                         AS dseed,
                     40 + {h('i', 33, 21)} AS nwords
              FROM range({n_docs}) t(i)
            ),
            txt AS (
              SELECT i,
                     list_aggregate(
                       list_transform(range(1, CAST(nwords AS INTEGER) + 1),
                         w -> {_VOCAB}[CAST(hash(dseed * 31 + w * 2654435761)
                                            % 31 AS INTEGER) + 1]),
                       'string_agg', ' ') AS text
              FROM d
            )
            SELECT i AS doc_id, text,
                   ['en', 'en', 'zh', 'es', 'fr', 'de',
                    'en'][CAST({h('i', 34, 7)} AS INTEGER) + 1] AS lang,
                   'src' || {h('i', 35, 20)} AS source,
                   length(text) AS n_chars
            FROM txt""",
        # 64-dim vectors in 10 label-centred clusters
        "embeddings": f"""
            WITH v AS (SELECT i, CAST({h('i', 36, 10)} AS INTEGER) AS label
                       FROM range({n_vecs}) t(i))
            SELECT i AS vec_id,
                   list_transform(range(64),
                     d -> CAST(
                         sin(label * 37 + d * 13) +
                         (CAST(hash(i * 64 + d + {base}) % 1000 AS DOUBLE)
                          / 1000.0 - 0.5) * 0.6
                         AS FLOAT)) AS embedding,
                   label
            FROM v""",
    }
    counts = {}
    con = duckdb.connect()
    try:
        con.execute("PRAGMA threads=2")
        con.execute("SET enable_progress_bar = false")
        for name in tables:
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql[name]}) TO '{path}' (FORMAT PARQUET)")
            counts[name] = con.execute(
                f"SELECT count(*) FROM '{path}'").fetchone()[0]
    finally:
        con.close()
    return counts
