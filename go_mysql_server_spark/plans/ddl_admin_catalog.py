"""Round-4 oracle entries for the DDL / admin / stored-program surface —
the largest never-driver-verified block after r3 (§2.12 of SURVEY.md).

Like plans/dml_catalog.py these run a multi-statement Engine script (the
reference's ScriptTest shape, enginetest/queries/script_queries.go) and
return the final state as a DataFrame; the oracle recomputes that state
straight from the parquet tables (or a VALUES literal for pure catalog
bookkeeping like SHOW INDEX).

Reference parity targets:
- ALTER column round-trip: sql/plan/alter_table.go (add/modify/rename/
  drop column, DEFAULT backfill).
- View query-through: sql/plan/create_view.go + late-binding semantics.
- Index bookkeeping: sql/plan/alter_index.go, SHOW INDEX in
  sql/plan/show_indexes.go.
- ANALYZE rowcount into information_schema.tables.TABLE_ROWS:
  sql/plan/analyze.go + sql/information_schema/tables.go.
- Stored procedure with cursor + NOT FOUND handler + SIGNAL guard:
  sql/procedures/interpreter_logic.go, sql/plan/declare_cursor.go /
  fetch.go, declare_handler.go, signal.go.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import t
from .registry import query


def _eng(spark, sf_dir, *tables: str):
    from ..engine import Engine
    for name in tables:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return Engine(spark)


@query(
    "ddl_alter_column_roundtrip",
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS k,
       n_name AS name2,
       CAST(CASE WHEN n_nationkey < 10 THEN n_regionkey * 2
                 ELSE 5 END AS VARCHAR) AS score
FROM nation
ORDER BY k
""",
)
def ddl_alter_column_roundtrip(spark, sf_dir):
    """ALTER TABLE round-trip: ADD COLUMN ... DEFAULT backfills existing
    rows, MODIFY converts stored values (BIGINT -> VARCHAR), RENAME
    COLUMN, DROP COLUMN — final state must equal computing the same
    transformations directly from nation."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS ddl_alter_rt")
    eng.query("CREATE TABLE ddl_alter_rt AS "
              "SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS r "
              "FROM nation")
    eng.query("ALTER TABLE ddl_alter_rt ADD COLUMN score BIGINT DEFAULT 5")
    eng.query("UPDATE ddl_alter_rt SET score = r * 2 WHERE k < 10")
    eng.query("ALTER TABLE ddl_alter_rt MODIFY COLUMN score VARCHAR(20)")
    eng.query("ALTER TABLE ddl_alter_rt RENAME COLUMN nm TO name2")
    eng.query("ALTER TABLE ddl_alter_rt DROP COLUMN r")
    return eng.query("SELECT k, name2, score FROM ddl_alter_rt ORDER BY k")


@query(
    "ddl_view_query_through",
    oracle="""
SELECT CAST(n_regionkey AS BIGINT) AS r,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS sk
FROM nation
WHERE n_nationkey < 20
GROUP BY n_regionkey
ORDER BY r
""",
)
def ddl_view_query_through(spark, sf_dir):
    """CREATE VIEW is late-binding (MySQL semantics): a DELETE on the base
    table after view creation must be visible through the view."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS ddl_vt")
    eng.query("CREATE TABLE ddl_vt AS "
              "SELECT n_nationkey AS k, n_regionkey AS r FROM nation")
    eng.query("CREATE OR REPLACE VIEW ddl_vv AS "
              "SELECT r, COUNT(*) AS n, SUM(k) AS sk FROM ddl_vt GROUP BY r")
    eng.query("DELETE FROM ddl_vt WHERE k >= 20")
    return eng.query(
        "SELECT CAST(r AS SIGNED) AS r, CAST(n AS SIGNED) AS n, "
        "CAST(sk AS SIGNED) AS sk FROM ddl_vv ORDER BY r")


@query(
    "ddl_index_show_state",
    oracle="""
SELECT * FROM (VALUES
  ('ix4', 0, 'PRIMARY', 1, 'id'),
  ('ix4', 0, 'idx_ab', 1, 'a'),
  ('ix4', 0, 'idx_ab', 2, 'b'),
  ('ix4', 1, 'idx_b', 1, 'b')
) v(tbl, non_unique, key_name, seq_in_index, column_name)
ORDER BY key_name, seq_in_index
""",
)
def ddl_index_show_state(spark, sf_dir):
    """Index bookkeeping end-state: CREATE INDEX, CREATE UNIQUE INDEX,
    DROP INDEX, ALTER TABLE ADD INDEX — SHOW INDEX reports exactly the
    surviving indexes with per-column sequence numbers."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS ix4")
    eng.query("CREATE TABLE ix4 (id BIGINT PRIMARY KEY, a BIGINT, "
              "b VARCHAR(10))")
    eng.query("CREATE INDEX idx_a ON ix4 (a)")
    eng.query("CREATE UNIQUE INDEX idx_ab ON ix4 (a, b)")
    eng.query("DROP INDEX idx_a ON ix4")
    eng.query("ALTER TABLE ix4 ADD INDEX idx_b (b)")
    df = eng.query("SHOW INDEX FROM ix4")
    return df.select(
        F.col("Table").alias("tbl"),
        F.col("Non_unique").cast("int").alias("non_unique"),
        F.col("Key_name").alias("key_name"),
        F.col("Seq_in_index").cast("int").alias("seq_in_index"),
        F.col("Column_name").alias("column_name"),
    ).orderBy("key_name", "seq_in_index")


@query(
    "admin_analyze_table_rows",
    oracle="""
SELECT 'an_nation' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows FROM nation
UNION ALL
SELECT 'an_region' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows FROM region
ORDER BY tbl
""",
)
def admin_analyze_table_rows(spark, sf_dir):
    """ANALYZE TABLE computes row statistics that surface in
    information_schema.tables.TABLE_ROWS (NULL before ANALYZE, the exact
    count after — reference sql/plan/analyze.go writes table stats,
    sql/information_schema/tables.go reads them back)."""
    eng = _eng(spark, sf_dir, "nation", "region")
    eng.query("DROP TABLE IF EXISTS an_nation")
    eng.query("DROP TABLE IF EXISTS an_region")
    eng.query("CREATE TABLE an_nation AS SELECT * FROM nation")
    eng.query("CREATE TABLE an_region AS SELECT * FROM region")
    eng.query("ANALYZE TABLE an_nation")
    eng.query("ANALYZE TABLE an_region")
    return eng.query(
        "SELECT TABLE_NAME AS tbl, TABLE_ROWS AS n_rows "
        "FROM information_schema.tables "
        "WHERE TABLE_NAME IN ('an_nation', 'an_region') ORDER BY tbl")


@query(
    "proc_cursor_handler_final_state",
    oracle="""
SELECT CAST(n_regionkey AS BIGINT) AS r,
       CAST(SUM(n_nationkey) AS BIGINT) AS total,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM nation
GROUP BY n_regionkey
ORDER BY r
""",
)
def proc_cursor_handler_final_state(spark, sf_dir):
    """Stored procedure through the Engine end-to-end: DECLARE CURSOR over
    an aggregate, CONTINUE HANDLER FOR NOT FOUND as the loop terminator,
    labeled LOOP/FETCH/LEAVE, a SIGNAL guard on a can't-happen branch, and
    per-row INSERTs — final table equals the plain GROUP BY."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS pc_src")
    eng.query("DROP TABLE IF EXISTS pc_out")
    eng.query("CREATE TABLE pc_src AS "
              "SELECT n_regionkey AS r, n_nationkey AS k FROM nation")
    eng.query("CREATE TABLE pc_out (r BIGINT PRIMARY KEY, total BIGINT, "
              "cnt BIGINT)")
    eng.query("DROP PROCEDURE IF EXISTS pc_roll")
    eng.query(
        "CREATE PROCEDURE pc_roll() "
        "BEGIN "
        "  DECLARE done INT DEFAULT 0; "
        "  DECLARE vr BIGINT; DECLARE vt BIGINT; DECLARE vc BIGINT; "
        "  DECLARE cur CURSOR FOR "
        "    SELECT r, SUM(k), COUNT(*) FROM pc_src GROUP BY r ORDER BY r; "
        "  DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1; "
        "  OPEN cur; "
        "  read_loop: LOOP "
        "    FETCH cur INTO vr, vt, vc; "
        "    IF done = 1 THEN LEAVE read_loop; END IF; "
        "    IF vt < 0 THEN SIGNAL SQLSTATE '45000' "
        "      SET MESSAGE_TEXT = 'impossible'; END IF; "
        "    INSERT INTO pc_out VALUES (vr, vt, vc); "
        "  END LOOP; "
        "  CLOSE cur; "
        "END")
    eng.query("CALL pc_roll()")
    return eng.query("SELECT r, total, cnt FROM pc_out ORDER BY r")


# ---- round-4 batch 2: driver rows for the script-only §2.1/§2.8 surface ----


@query(
    "etl_load_data_infile",
    oracle="""
SELECT * FROM (VALUES
  (1, 'ALPHA', 105), (2, 'BETA', 120), (3, 'GAMMA', 47)
) v(id, name, score)
ORDER BY id
""",
)
def etl_load_data_infile(spark, sf_dir):
    """LOAD DATA INFILE end-to-end (reference sql/plan/load_data.go):
    custom field terminator, IGNORE 1 LINES header skip, @var capture list
    with SET transforms (uppercase + derived arithmetic). The CSV is
    written to a runtime tempfile; the driver-facing result is the loaded
    table, oracle'd as a VALUES literal."""
    import os
    import tempfile

    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS ld4")
    eng.query("CREATE TABLE ld4 (id BIGINT PRIMARY KEY, name VARCHAR(32), "
              "score BIGINT)")
    fd, path = tempfile.mkstemp(suffix=".csv")
    try:
        with os.fdopen(fd, "w") as f:
            f.write("id;name;base\n1;alpha;100\n2;beta;110\n3;gamma;32\n")
        eng.query(
            f"LOAD DATA INFILE '{path}' INTO TABLE ld4 "
            "FIELDS TERMINATED BY ';' IGNORE 1 LINES "
            "(id, @nm, @base) "
            "SET name = UPPER(@nm), score = @base + id * 5")
        return eng.query("SELECT id, name, score FROM ld4 ORDER BY id")
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass


@query(
    "etl_select_into_vars",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(MAX(n_nationkey) AS BIGINT) AS max_key,
       CAST(COUNT(*) + MAX(n_nationkey) AS BIGINT) AS checksum
FROM nation
""",
)
def etl_select_into_vars(spark, sf_dir):
    """SELECT ... INTO @a, @b captures a 1-row result into user variables
    (reference sql/plan/into.go); a later statement computes with them."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("SELECT COUNT(*), MAX(n_nationkey) INTO @n, @mx FROM nation")
    return eng.query(
        "SELECT CAST(@n AS SIGNED) AS n_nations, "
        "CAST(@mx AS SIGNED) AS max_key, "
        "CAST(@n + @mx AS SIGNED) AS checksum")


@query(
    "table_function_series_lateral",
    oracle="""
SELECT r.r_regionkey AS rk, CAST(g.v AS BIGINT) AS v
FROM region r
JOIN LATERAL (
  SELECT unnest(generate_series(0, r.r_regionkey)) AS v
) g ON TRUE
ORDER BY rk, v
""",
)
def table_function_series_lateral(spark, sf_dir):
    """Table function in LATERAL position (reference sql/core.go
    TableFunction + enginetest table-function fixtures): the Python UDTF
    generate_series_tf(0, r_regionkey) expands per input row — the Spark 4
    native analogue of an integrator-registered table function."""
    eng = _eng(spark, sf_dir, "region")
    return eng.query(
        "SELECT r.r_regionkey AS rk, g.value AS v "
        "FROM region r, LATERAL generate_series_tf(0, r.r_regionkey) g "
        "ORDER BY rk, v")


@query(
    "table_function_json_each",
    oracle="""
SELECT k, CAST(v AS VARCHAR) AS v FROM (VALUES
  ('a', '1'), ('b', '"two"'), ('c', '[3, 4]')
) t(k, v)
ORDER BY k
""",
)
def table_function_json_each(spark, sf_dir):
    """json_each UDTF shreds a JSON object into (key, value) rows in FROM
    position."""
    eng = _eng(spark, sf_dir, "nation")
    return eng.query(
        "SELECT `key` AS k, `value` AS v "
        "FROM json_each('{\"a\": 1, \"b\": \"two\", \"c\": [3,4]}') "
        "ORDER BY k")


@query(
    "select_dual_expressions",
    oracle="""
SELECT CAST(2 AS BIGINT) AS a, 'x' AS b, CAST(NULL AS INTEGER) AS c
""",
)
def select_dual_expressions(spark, sf_dir):
    """FROM DUAL (EmptyTable/dual relation, reference sql/plan dual
    handling): constant projection with no real source."""
    eng = _eng(spark, sf_dir, "nation")
    return eng.query(
        "SELECT CAST(1 + 1 AS SIGNED) AS a, 'x' AS b, "
        "CAST(NULL AS SIGNED) + 1 AS c FROM DUAL")


@query(
    "info_schema_columns_readback",
    oracle="""
SELECT * FROM (VALUES
  ('isc4', 'id', 1, 'NO', 'PRI'),
  ('isc4', 'name', 2, 'YES', ''),
  ('isc4', 'score', 3, 'YES', '')
) v(tbl, col, pos, nullable, col_key)
ORDER BY pos
""",
)
def info_schema_columns_readback(spark, sf_dir):
    """information_schema.columns reflects engine DDL exactly: ordinal
    positions, nullability, and PK marking (reference
    sql/information_schema/information_schema.go columns table)."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS isc4")
    eng.query("CREATE TABLE isc4 (id BIGINT PRIMARY KEY, "
              "name VARCHAR(32), score BIGINT)")
    return eng.query(
        "SELECT TABLE_NAME AS tbl, COLUMN_NAME AS col, "
        "ORDINAL_POSITION AS pos, IS_NULLABLE AS nullable, "
        "COLUMN_KEY AS col_key "
        "FROM information_schema.columns WHERE TABLE_NAME = 'isc4' "
        "ORDER BY pos")


@query(
    "prepare_execute_using_params",
    oracle="""
SELECT n_name, CAST(n_nationkey AS BIGINT) AS k
FROM nation
WHERE n_regionkey = 2 AND n_nationkey > 10
ORDER BY k
""",
)
def prepare_execute_using_params(spark, sf_dir):
    """PREPARE / EXECUTE ... USING with ?-placeholders bound from user
    variables and literals (reference sql/plan/prepare.go, execute.go;
    bindvar substitution)."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("PREPARE p4 FROM 'SELECT n_name, n_nationkey AS k "
              "FROM nation WHERE n_regionkey = ? AND n_nationkey > ? "
              "ORDER BY k'")
    eng.query("SET @rk = 2")
    df = eng.query("EXECUTE p4 USING @rk, 10")
    eng.query("DEALLOCATE PREPARE p4")
    return df


# ---- round-4 batch 3: admin bookkeeping as driver-verifiable oracles -------


@query(
    "admin_show_create_roundtrip",
    oracle="""
SELECT 'sct4' AS tbl,
       'CREATE TABLE `sct4` (
  `id` bigint NOT NULL,
  `v` string NOT NULL DEFAULT ''x'',
  PRIMARY KEY (id)
)' AS ddl
""",
)
def admin_show_create_roundtrip(spark, sf_dir):
    """SHOW CREATE TABLE reproduces the full DDL — columns, NOT NULL,
    DEFAULT, PRIMARY KEY — from catalog state (reference
    sql/plan/show_create_table.go)."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS sct4")
    eng.query("CREATE TABLE sct4 (id BIGINT PRIMARY KEY, "
              "v VARCHAR(20) NOT NULL DEFAULT 'x')")
    df = eng.query("SHOW CREATE TABLE sct4")
    cols = df.columns
    return df.select(F.col(cols[0]).alias("tbl"),
                     F.col(cols[1]).alias("ddl"))


@query(
    "admin_grants_listing",
    oracle="""
SELECT g FROM (VALUES
  ('GRANT USAGE ON *.* TO `app4`@`%`'),
  ('GRANT SELECT, INSERT ON mydb.* TO `app4`@`%`')
) v(g)
ORDER BY g
""",
)
def admin_grants_listing(spark, sf_dir):
    """CREATE USER + GRANT bookkeeping read back via SHOW GRANTS
    (reference sql/plan/grant.go, sql/mysql_db privilege sets): the
    implicit USAGE row plus the granted privileges, MySQL's exact
    backquoted formatting."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP USER IF EXISTS 'app4'@'%'")
    eng.query("CREATE USER 'app4'@'%' IDENTIFIED BY 'pw'")
    eng.query("GRANT SELECT, INSERT ON mydb.* TO 'app4'@'%'")
    df = eng.query("SHOW GRANTS FOR 'app4'@'%'")
    return df.select(F.col(df.columns[0]).alias("g")).orderBy("g")


@query(
    "admin_checksum_order_invariant",
    oracle="""
SELECT TRUE AS checksums_equal, FALSE AS differs_after_change,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nation
""",
)
def admin_checksum_order_invariant(spark, sf_dir):
    """CHECKSUM TABLE is content-defined and row-order independent (xor of
    per-row hashes — the distributed-friendly variant of MySQL's CRC,
    documented divergence): two tables with the same rows in different
    physical order check out equal; mutating one row changes it."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS ck_a")
    eng.query("DROP TABLE IF EXISTS ck_b")
    eng.query("CREATE TABLE ck_a AS SELECT n_nationkey AS k, n_name AS v "
              "FROM nation ORDER BY n_nationkey")
    eng.query("CREATE TABLE ck_b AS SELECT n_nationkey AS k, n_name AS v "
              "FROM nation ORDER BY n_nationkey DESC")
    a0 = eng.query("CHECKSUM TABLE ck_a").collect()[0][1]
    b0 = eng.query("CHECKSUM TABLE ck_b").collect()[0][1]
    eng.query("UPDATE ck_b SET v = 'mutated' WHERE k = 0")
    b1 = eng.query("CHECKSUM TABLE ck_b").collect()[0][1]
    n = eng.query("SELECT COUNT(*) AS n FROM ck_a").collect()[0][0]
    return spark.createDataFrame(
        [(a0 == b0, a0 == b1, n)],
        "checksums_equal boolean, differs_after_change boolean, n bigint")


@query(
    "admin_event_at_executes",
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation WHERE n_nationkey < 3
UNION ALL SELECT 99 AS id
ORDER BY id
""",
)
def admin_event_at_executes(spark, sf_dir):
    """CREATE EVENT ... ON SCHEDULE AT <now> executes its DO body
    synchronously when due (reference sql/plan/create_event.go + the
    event scheduler; async thread is opt-in, due-at-creation events run
    inline)."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS ev_t4")
    eng.query("CREATE TABLE ev_t4 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO ev_t4 SELECT n_nationkey FROM nation "
              "WHERE n_nationkey < 3")
    eng.query("CREATE EVENT ev4 ON SCHEDULE AT CURRENT_TIMESTAMP "
              "DO INSERT INTO ev_t4 VALUES (99)")
    return eng.query("SELECT id FROM ev_t4 ORDER BY id")


@query(
    "admin_session_variables",
    oracle="""
SELECT CAST(0 AS BIGINT) AS ac, 'STRICT_TRANS_TABLES' AS mode,
       CAST(42 AS BIGINT) AS uv
""",
)
def admin_session_variables(spark, sf_dir):
    """SET of system and user variables reads back via @@var / @var
    (reference sql/plan/set.go, session variable store)."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("SET autocommit = 0")
    eng.query("SET sql_mode = 'STRICT_TRANS_TABLES'")
    eng.query("SET @uv = 40 + 2")
    return eng.query(
        "SELECT CAST(@@autocommit AS SIGNED) AS ac, @@sql_mode AS mode, "
        "CAST(@uv AS SIGNED) AS uv")


@query(
    "func_session_info",
    oracle="""
SELECT 'mydb' AS db, 'mydb' AS sch, 'root@localhost' AS cu,
       '8.0.0-gms-spark' AS ver, CAST(1 AS BIGINT) AS cid,
       CAST(3 AS BIGINT) AS rc
""",
)
def func_session_info(spark, sf_dir):
    """Session introspection functions (reference
    sql/expression/function/version.go, connection_id.go, row_count.go,
    database.go): DATABASE()/SCHEMA(), CURRENT_USER(), VERSION(),
    CONNECTION_ID(), and ROW_COUNT() reflecting the last DML's affected
    rows."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS si4")
    eng.query("CREATE TABLE si4 (id BIGINT PRIMARY KEY)")
    eng.query("INSERT INTO si4 VALUES (1), (2), (3)")
    return eng.query(
        "SELECT DATABASE() AS db, SCHEMA() AS sch, CURRENT_USER() AS cu, "
        "VERSION() AS ver, CAST(CONNECTION_ID() AS SIGNED) AS cid, "
        "CAST(ROW_COUNT() AS SIGNED) AS rc")


@query(
    "versioned_as_of_snapshots",
    oracle="""
SELECT * FROM (VALUES
  (1, 1, 10), (2, 1, 20), (3, 1, 20), (3, 2, 99)
) v(version, k, val)
ORDER BY version, k
""",
)
def versioned_as_of_snapshots(spark, sf_dir):
    """AS OF <ordinal> time travel (reference sql/plan/versionable.go;
    dolt binds commit ordinals): one snapshot per committed statement or
    transaction — here each autocommit DML statement — and AS OF n reads
    the table as it stood after the n-th version. The result unions three
    historical reads with a version label."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP TABLE IF EXISTS vh4")
    eng.query("CREATE TABLE vh4 (k BIGINT PRIMARY KEY, val BIGINT)")
    eng.query("INSERT INTO vh4 VALUES (1, 10)")          # version 1
    eng.query("UPDATE vh4 SET val = 20 WHERE k = 1")     # version 2
    eng.query("INSERT INTO vh4 VALUES (2, 99)")          # version 3
    return eng.query(
        "SELECT 1 AS version, k, val FROM vh4 AS OF 1 "
        "UNION ALL SELECT 2 AS version, k, val FROM vh4 AS OF 2 "
        "UNION ALL SELECT 3 AS version, k, val FROM vh4 AS OF 3 "
        "ORDER BY version, k")


@query(
    "func_stored_sql_function",
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS k,
       CAST(n_nationkey * n_nationkey + 1 AS BIGINT) AS sq1
FROM nation
WHERE n_nationkey < 6
ORDER BY k
""",
)
def func_stored_sql_function(spark, sf_dir):
    """CREATE FUNCTION ... RETURNS ... RETURN expr (stored SQL function,
    reference sql/plan/ddl_function paths): the function body inlines into
    later queries over real tables."""
    eng = _eng(spark, sf_dir, "nation")
    eng.query("DROP FUNCTION IF EXISTS sq1fn")
    eng.query("CREATE FUNCTION sq1fn(a BIGINT) RETURNS BIGINT "
              "DETERMINISTIC RETURN a * a + 1")
    return eng.query(
        "SELECT n_nationkey AS k, sq1fn(n_nationkey) AS sq1 "
        "FROM nation WHERE n_nationkey < 6 ORDER BY k")
