"""Unit tests for the MySQL→Spark SQL transpiler (no Spark session needed)."""

from __future__ import annotations

import pytest

from go_mysql_server_spark.dialect.transpiler import (
    translate_datetime_format,
    transpile_select,
)


@pytest.mark.parametrize("mysql,java", [
    ("%Y-%m-%d", "yyyy-MM-dd"),
    ("%Y-%m-%d %H:%i:%s", "yyyy-MM-dd HH:mm:ss"),
    ("%d/%m/%y", "dd/MM/yy"),
    ("%M %e, %Y", "MMMM d, yyyy"),
    ("%h:%i %p", "hh:mm a"),
    ("%W week %j", "EEEE 'w''e''e''k' DDD"),
    ("100%%", "100%"),
])
def test_datetime_format_translation(mysql, java):
    assert translate_datetime_format(mysql) == java


def test_limit_comma_rewrite():
    assert transpile_select("SELECT a FROM t LIMIT 5, 10").endswith(
        "LIMIT 10 OFFSET 5")
    # plain LIMIT untouched
    assert transpile_select("SELECT a FROM t LIMIT 10").endswith("LIMIT 10")


def test_date_format_call_rewrite():
    out = transpile_select("SELECT DATE_FORMAT(ts, '%Y-%m') FROM t")
    assert "date_format(ts, 'yyyy-MM')" in out


def test_str_to_date_rewrite():
    out = transpile_select("SELECT STR_TO_DATE(s, '%d/%m/%Y') FROM t")
    # parse direction: lenient single-letter field widths ('15/3/2024' must
    # parse), and a date-only format returns DATE (MySQL semantics)
    assert "CAST(to_timestamp(s, 'd/M/y') AS DATE)" in out


def test_nested_date_format_does_not_loop():
    # regression: the rewritten call must not be rewritten again
    out = transpile_select(
        "SELECT DATE_FORMAT(x, '%Y'), DATE_FORMAT(y, '%m') FROM t")
    assert out.count("date_format") == 2


def test_group_concat_rewrites():
    out = transpile_select("SELECT GROUP_CONCAT(name SEPARATOR '|') FROM t")
    # r8: sort_array (array_sort desugars to a lambda, which rejects
    # subquery operands) + NULL for the empty group (MySQL semantics)
    assert out == ("SELECT IF(size(sort_array(collect_list(name))) = 0, "
                   "NULL, array_join(sort_array(collect_list(name)), '|')) "
                   "FROM t")
    out = transpile_select(
        "SELECT GROUP_CONCAT(DISTINCT name ORDER BY name) FROM t")
    assert "collect_set(name)" in out


def test_function_aliases():
    out = transpile_select("SELECT UCASE(a), LCASE(b), MID(c, 1, 2) FROM t")
    assert "upper(a)" in out and "lower(b)" in out and "substring(c, 1, 2)" in out


def test_xor_rewrite():
    assert transpile_select("SELECT a XOR b") == "SELECT a != b"


def test_string_literles_protected_in_datetime_rewrite():
    # commas inside string literals must not split args
    out = transpile_select("SELECT DATE_FORMAT(ts, '%Y, %m') FROM t")
    assert "date_format(ts, 'yyyy, MM')" in out


def test_locking_reads_and_index_hints_stripped():
    from go_mysql_server_spark.dialect.transpiler import transpile_select

    assert transpile_select("SELECT a FROM t FOR UPDATE").rstrip() == \
        "SELECT a FROM t"
    assert transpile_select(
        "SELECT a FROM t LOCK IN SHARE MODE").rstrip() == "SELECT a FROM t"
    assert "INDEX" not in transpile_select(
        "SELECT a FROM t USE INDEX (PRIMARY) WHERE a = 1")
    assert "FORCE" not in transpile_select(
        "SELECT a FROM t FORCE INDEX FOR GROUP BY (i) GROUP BY a")
    out = transpile_select(
        "SELECT STRAIGHT_JOIN t.a FROM t STRAIGHT_JOIN u ON t.a = u.a")
    assert out.startswith("SELECT t.a") and " JOIN u" in out
    # literals survive untouched
    assert transpile_select("SELECT 'USE INDEX (x) FOR UPDATE' AS s") == \
        "SELECT 'USE INDEX (x) FOR UPDATE' AS s"


def test_flatten_correlated_in():
    """X IN (SELECT c FROM t WHERE c = K) → (X = K AND X IN (SELECT c
    FROM t)): first-order equivalent that brings a two-scope correlation
    within Spark's one-scope analyzer reach (reference join_queries.go
    nested-IN tests)."""
    from go_mysql_server_spark.dialect.transpiler import flatten_correlated_in

    out = flatten_correlated_in(
        "select * from ab where b in "
        "(select y from xy where y in (select v from uv where v = b))")
    assert "(y = b AND y IN (SELECT v FROM uv))" in out
    # non-matching shapes untouched
    sql = "select * from ab where b in (select y from xy where y > 1)"
    assert flatten_correlated_in(sql) == sql


def test_resolve_projection_alias_in_subquery():
    from go_mysql_server_spark.dialect.transpiler import (
        resolve_projection_alias_in_subquery as fix)

    assert fix("SELECT 1 as a, (select a) as b from xy") == \
        "SELECT 1 as a, (1) as b from xy"
    # only bare-(SELECT alias) shapes; anything else untouched
    sql = "SELECT 1 as a, (select x from xy) from xy"
    assert fix(sql) == sql


def test_zh_collation_sql_text(spark):
    """ORDER BY s COLLATE utf8mb4_zh_0900_as_cs through SQL text: pinyin
    order for the restricted hanzi set (aihao < baima < zhongguo), Han
    script reordered ahead of Latin — reference
    sql/encodings/generate/utf8mb4_zh_0900_as_cs.go weights."""
    from go_mysql_server_spark.engine import Engine

    eng = Engine(spark, default_db="zhdb")
    eng.query("CREATE TABLE zht (id INT PRIMARY KEY, s VARCHAR(20))")
    eng.query("INSERT INTO zht VALUES (1,'中国'),(2,'爱好'),(3,'abc'),"
              "(4,'白马')")
    r = eng.query("SELECT s FROM zht ORDER BY s COLLATE "
                  "utf8mb4_zh_0900_as_cs")
    assert [row[0] for row in r.collect()] == ['爱好', '白马', '中国', 'abc']


def test_div_casts_operands_not_provably_integral():
    """MySQL DIV converts a non-integer operand to DECIMAL and truncates
    toward zero; Spark's div rejects DOUBLE operands."""
    assert transpile_select("SELECT 7 DIV 2") == "SELECT 7 DIV 2"
    assert transpile_select("SELECT SUM(d) DIV 1000 FROM t") == (
        "SELECT CAST(SUM(d) AS DECIMAL(38,18)) DIV 1000 FROM t")
    # * / % DIV MOD share one left-associative level
    assert transpile_select("SELECT a * b DIV 2 + 1 FROM t") == (
        "SELECT CAST(a * b AS DECIMAL(38,18)) DIV 2 + 1 FROM t")


def test_div_of_double_operands(spark):
    from go_mysql_server_spark.engine import Engine

    eng = Engine(spark)
    got = eng.query("SELECT -7.5 DIV 2 AS a, CAST(7.5 AS DOUBLE) DIV 2 AS b, "
                    "CAST(0.3 AS DOUBLE) DIV CAST(0.1 AS DOUBLE) AS c, "
                    "7 DIV 2 AS d").collect()
    assert [tuple(r) for r in got] == [(-3, 3, 3, 3)]
    eng.query("CREATE TABLE divd (k BIGINT PRIMARY KEY, x DOUBLE)")
    eng.query("INSERT INTO divd VALUES (1, 1234.75), (2, 2500.5), "
              "(3, -0.25)")
    # 1234.75 + 2500.5 - 0.25 = 3735.0 → 3735 DIV 1000 = 3
    got = eng.query("SELECT SUM(x) DIV 1000 AS q, "
                    "-SUM(x) DIV 1000 AS nq FROM divd").collect()
    assert [tuple(r) for r in got] == [(3, -3)]


def test_div_does_not_round_operands_up(spark):
    """The DECIMAL cast keeps enough scale that an operand just below an
    integer still truncates below it, as in MySQL."""
    from go_mysql_server_spark.engine import Engine

    eng = Engine(spark)
    got = eng.query("SELECT 2.99999999999 DIV 1 AS a, "
                    "-2.99999999999 DIV 1 AS b").collect()
    assert [tuple(r) for r in got] == [(2, -2)]
    # ten doubles 0.1 added in order make 0.9999999999999999
    tenth = " + ".join(["CAST(0.1 AS DOUBLE)"] * 10)
    got = eng.query(f"SELECT ({tenth}) AS s, ({tenth}) DIV 1 AS q").collect()
    assert [tuple(r) for r in got] == [(0.9999999999999999, 0)]
    eng.query("CREATE TABLE divt (k BIGINT PRIMARY KEY, x DOUBLE)")
    eng.query("INSERT INTO divt VALUES " + ", ".join(
        f"({i}, 0.1)" for i in range(10)))
    # a SUM's order of addition may vary: its DIV truncates whatever sum
    # it reaches
    s, q = eng.query("SELECT SUM(x) AS s, SUM(x) DIV 1 AS q "
                     "FROM divt").collect()[0]
    assert q == int(s)
