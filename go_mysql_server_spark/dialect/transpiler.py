"""MySQL → Spark SQL dialect transpiler (SELECT path).

The reference parses MySQL with the vitess parser and binds its own plan
tree (reference sql/planbuilder/parse.go:35-92). Spark already parses a
close cousin of MySQL SQL, so the Spark-first frontend is a light source-to-
source rewrite + Catalyst — NOT a hand-built parser: we only touch the
constructs where the dialects actually diverge.

Handled rewrites (all string-literal/identifier aware — literals are masked
out before any regex pass and restored after, so `SELECT 'a XOR b'` or a
column named `` `mid` `` are never corrupted):
- LIMIT x, y              → LIMIT y OFFSET x
- MySQL date-format %-patterns inside DATE_FORMAT/STR_TO_DATE/TIME_FORMAT
                          → Java DateTimeFormatter patterns; dynamic
                          (non-literal) formats go through the registered
                          `mysql_datefmt_to_java` runtime translator
- STR_TO_DATE(s, f)       → to_timestamp(s, f')  (parse, never format)
- GROUP_CONCAT([DISTINCT] x [ORDER BY k [ASC|DESC]] [SEPARATOR s])
                          → array_join over collect_list/set; an ORDER BY
                          key different from the value collects
                          struct(key, value) and sorts by the key with the
                          requested direction (reference
                          sql/expression/function/aggregation/group_concat.go)
- TRUNCATE(x, d)          → sign-aware floor/ceil expression (no UDF)
- a XOR b                 → boolean !=
- function aliases with no Spark twin (UCASE, LCASE, MID, …); CURTIME()
  formats the time-of-day portion (MySQL returns TIME, not TIMESTAMP)
- backticks, <=>, DIV, IF/IFNULL/NULLIF, INTERVAL syntax pass through —
  Spark accepts them natively.

Statement routing (USE/SET/SHOW/DDL/DML) happens in engine.py before this
runs; this module only sees queries.
"""

from __future__ import annotations

import re

# MySQL date-format token → Java DateTimeFormatter pattern
# (reference sql/expression/function/dateparse.go / date_format.go)
MYSQL_TO_JAVA_FMT = {
    "%Y": "yyyy", "%y": "yy",
    "%m": "MM", "%c": "M",
    "%d": "dd", "%e": "d",
    "%H": "HH", "%k": "H",
    "%h": "hh", "%l": "h", "%I": "hh",
    "%i": "mm",
    "%s": "ss", "%S": "ss",
    "%f": "SSSSSS",
    "%p": "a",
    "%M": "MMMM", "%b": "MMM",
    "%a": "EEE", "%W": "EEEE",
    "%j": "DDD",
    "%T": "HH:mm:ss",
    "%r": "hh:mm:ss a",
    "%%": "%",
}

# Simple name-for-name function aliases (MySQL name → Spark name).
# CURTIME/CURRENT_TIME return a TIME-of-day string, matching MySQL's TIME
# result, not a full timestamp (reference sql/expression/function/time.go).
FUNC_ALIASES = {
    "ucase": "upper",
    "lcase": "lower",
    "mid": "substring",
    "curdate": "current_date",
    "localtime": "current_timestamp",
    "localtimestamp": "current_timestamp",
    "day": "dayofmonth",
    "lengthb": "octet_length",
    # MySQL LENGTH() counts BYTES (CHAR_LENGTH counts characters); Spark's
    # length() counts characters → map to octet_length
    "length": "octet_length",
    "rand": "rand",
    "char_length": "char_length",
    "power": "power",
    "to_base64": "base64",
    "from_base64": "unbase64",
    # Spark 4 has its own collation()/charset-adjacent builtins — route the
    # MySQL introspection functions to prefixed SQL macros
    "charset": "mysql_charset",
    "collation": "mysql_collation",
    # MySQL STD/STDDEV/VARIANCE are the POPULATION forms (reference
    # sql/expression/function/aggregation/unary_agg.go); Spark's
    # stddev/variance default to the sample forms
    "std": "stddev_pop",
    "stddev": "stddev_pop",
    "variance": "var_pop",
}


# Parse-direction overrides: MySQL accepts non-zero-padded fields when
# PARSING ('15,3,2024' with '%d,%m,%Y'), and Java's single-letter patterns
# accept 1-n digits while the doubled forms require exact width. Formatting
# keeps the zero-padded doubled forms.
_PARSE_OVERRIDES = {
    "%m": "M", "%d": "d", "%H": "H", "%h": "h", "%I": "h",
    "%i": "m", "%s": "s", "%S": "s", "%Y": "y",
}


def translate_datetime_format(fmt: str, parse: bool = False) -> str:
    """'%Y-%m-%d %H:%i:%s' → 'yyyy-MM-dd HH:mm:ss' (format direction) or
    'y-M-d H:m:s' (parse direction, lenient field widths)."""
    out, i = [], 0
    while i < len(fmt):
        tok = fmt[i:i + 2]
        if parse and tok in _PARSE_OVERRIDES:
            out.append(_PARSE_OVERRIDES[tok])
            i += 2
        elif tok in MYSQL_TO_JAVA_FMT:
            out.append(MYSQL_TO_JAVA_FMT[tok])
            i += 2
        elif fmt[i] == "%" and i + 1 < len(fmt):
            out.append(fmt[i + 1])
            i += 2
        else:
            ch = fmt[i]
            # escape letters that are pattern-significant in Java
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


# ---- literal masking -------------------------------------------------------

_PH = "\x00{}\x00"
_PH_RE = re.compile("\x00(\\d+)\x00")


def mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace quoted regions ('...', "...", `...`) with \\x00N\\x00
    placeholders so regex rewrites can't touch literal/identifier content.
    Handles doubled-quote ('') and backslash escapes inside strings."""
    out: list[str] = []
    lits: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == "\\" and c != "`" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            out.append(_PH.format(len(lits)))
            lits.append(sql[i:end])
            i = end
        else:
            out.append(c)
            i += 1
    return "".join(out), lits


def unmask_literals(sql: str, lits: list[str]) -> str:
    return _PH_RE.sub(lambda m: lits[int(m.group(1))], sql)


def _literal_of(arg: str, lits: list[str]) -> str | None:
    """If a masked arg is exactly one single-quoted literal, return its
    unquoted content."""
    m = _PH_RE.fullmatch(arg.strip())
    if not m:
        return None
    lit = lits[int(m.group(1))]
    if lit.startswith("'") and lit.endswith("'") and len(lit) >= 2:
        return lit[1:-1]
    return None


_LIMIT_COMMA = re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", re.IGNORECASE)

_DATE_FMT_CALL = re.compile(
    r"\b(DATE_FORMAT|TIME_FORMAT|STR_TO_DATE|FROM_UNIXTIME)\s*\(",
    re.IGNORECASE
)

_GROUP_CONCAT = re.compile(r"\bGROUP_CONCAT\s*\(", re.IGNORECASE)

_TRUNCATE_CALL = re.compile(r"\bTRUNCATE\s*\(", re.IGNORECASE)

_XOR = re.compile(r"\bXOR\b", re.IGNORECASE)

_CURTIME = re.compile(r"\b(?:CURTIME\s*\(\s*\)|CURRENT_TIME(?:\s*\(\s*\))?)(?!\w)",
                      re.IGNORECASE)

# `operand COLLATE utf8mb4_..._ci` → mysql_ci_key(operand); `_bin`/`_cs`
# collations are Spark's default binary compare, so the clause just drops.
_COLLATE = re.compile(
    r"(`?\w+(?:\.`?\w+`?)*`?|\x00\d+\x00)\s+COLLATE\s+(\w+)", re.IGNORECASE
)


def _rewrite_collate(sql: str) -> str:
    def repl(m: re.Match) -> str:
        operand, coll = m.group(1), m.group(2).lower()
        if coll.endswith("_ci"):
            return f"mysql_ci_key({operand})"
        if coll in ("utf8mb4_ja_0900_as_cs", "utf8mb4_ja_0900_as_cs_ks"):
            # ICU-weight key for the Japanese collation (restricted code
            # point set — dialect/collation_ja.py); _ks kana-sensitivity
            # is approximated by the same key (documented). Inlined as a
            # full expression: Spark 4 rejects SQL UDFs inside Sort
            # (UNSUPPORTED_SQL_UDF_USAGE), so ORDER BY ... COLLATE needs
            # the expanded text.
            from .collation_ja import ja_key_sql_body
            return ja_key_sql_body(operand)
        if coll.startswith("utf8mb4_zh_0900"):
            # pinyin-order ICU-weight key for the Chinese collation,
            # FULL CJK Unified Ideographs coverage (20 992 hanzi via the
            # broadcast-dict UDF, dialect/zh_weights_data.py). A Python
            # UDF is legal in Sort (only SQL-macro UDFs are rejected
            # there), and the engine registers it at init.
            return f"mysql_zh_key_wide({operand})"
        return operand  # _bin / _cs: binary compare is the Spark default

    return _COLLATE.sub(repl, sql)

_SYSDATE = re.compile(r"\bSYSDATE\s*\(\s*\)", re.IGNORECASE)

_HEX_LITERAL = re.compile(r"\b0x([0-9A-Fa-f]+)\b")
_BIT_LITERAL = re.compile(r"\bb'([01]+)'", re.IGNORECASE)
_0B_LITERAL = re.compile(r"\b0b([01]+)\b")


# MySQL JSON-column operators: doc -> '$.p' (extract), doc ->> '$.p'
# (extract + unquote). Operand: a masked literal or an identifier chain.
_ARROW_OPERAND = r"(\x00\d+\x00|[A-Za-z_][\w.]*)"
_ARROW2 = re.compile(_ARROW_OPERAND + r"\s*->>\s*(\x00\d+\x00)")
_ARROW1 = re.compile(_ARROW_OPERAND + r"\s*->\s*(\x00\d+\x00)")


_CONVERT_CALL = re.compile(r"\bCONVERT\s*\(", re.IGNORECASE)


def _rewrite_convert(sql: str) -> str:
    """CONVERT(x USING cs) → CAST(x AS STRING) (everything is utf8 here);
    CONVERT(x, type) → CAST(x AS type) (the SIGNED/UNSIGNED/CHAR targets
    are normalized by the later CAST rewrites)."""
    pos = 0
    while True:
        m = _CONVERT_CALL.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        body = sql[m.end():close]
        mu = re.search(r"\s+USING\s+\w+\s*$", body, re.IGNORECASE)
        if mu:
            repl = f"CAST({body[:mu.start()]} AS STRING)"
        else:
            args = _split_args(body)
            if len(args) == 2:
                repl = f"CAST({args[0]} AS {args[1]})"
            else:
                pos = m.end()
                continue
        sql = sql[:m.start()] + repl + sql[close + 1:]
        # resume at the rewrite START, not past it: the rewritten argument
        # may itself contain a CONVERT (CONVERT(CONVERT(x USING utf8),
        # SIGNED)) that must be rewritten too. Termination holds because
        # each pass removes one CONVERT( token.
        pos = m.start()


def _rewrite_json_arrows(sql: str) -> str:
    # ->> : json_extract's JVM path (get_json_object) already returns
    # string values UNQUOTED, so a further json_unquote would strip
    # quotes that are part of the value itself ('"abc"' -> abc)
    sql = _ARROW2.sub(r"json_extract(\1, \2)", sql)
    return _ARROW1.sub(r"json_extract(\1, \2)", sql)


_DBL_MAX = 1.7976931348623157e308
_FLOAT_LITERAL = re.compile(
    r"(?<![\w.])([+-]?\d+(?:\.\d+)?[eE][+-]?\d{2,3})(?![\w.])")


def _clamp_double_literal(m: re.Match) -> str:
    """MySQL clamps out-of-range float literals to the type max
    (reference sql/types/number.go convertToFloat64); Spark errors on
    them (INVALID_NUMERIC_LITERAL_RANGE) — e.g. Go's math.MaxFloat64
    printed at full precision overflows Spark's double parser."""
    txt = m.group(1)
    try:
        v = float(txt)
    except ValueError:
        return txt
    if v == float("inf"):
        return repr(_DBL_MAX)
    if v == float("-inf"):
        return repr(-_DBL_MAX)
    if abs(v) >= 1e300:
        # full-precision prints (Go's math.MaxFloat64 carries 39 digits)
        # overflow Spark's strict literal parser even when they round
        # into range — normalize to the shortest round-trip form
        return repr(v)
    return txt


def rewrite_numeric_literals(sql: str) -> str:
    """MySQL bit/hex literals → decimal, quote-safely (for SQL fragments
    that bypass transpile_select, e.g. INSERT VALUES lists)."""
    sql = _BIT_LITERAL.sub(lambda m: str(int(m.group(1), 2)), sql)
    sql, lits = mask_literals(sql)
    sql = _0B_LITERAL.sub(lambda m: str(int(m.group(1), 2)), sql)
    sql = _HEX_LITERAL.sub(lambda m: str(int(m.group(1), 16)), sql)
    sql = _FLOAT_LITERAL.sub(_clamp_double_literal, sql)
    # CAST(x AS JSON) inside VALUES lists: JSON stays a string column
    # in this engine (same mapping as transpile_select)
    sql = re.sub(r"\bCAST\s*\(\s*TRUE\s+AS\s+JSON\s*\)", "'true'", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bCAST\s*\(\s*FALSE\s+AS\s+JSON\s*\)", "'false'", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bAS\s+JSON\s*\)", "AS STRING)", sql,
                 flags=re.IGNORECASE)
    return unmask_literals(sql, lits)

_CAST_CALL = re.compile(r"\bCAST\s*\(", re.IGNORECASE)

# single-element mutable flag (set by the engine on SET sql_mode):
# True → `||` is string concatenation, not logical OR
PIPES_AS_CONCAT = [False]

_PIPE_ATOM = (r"(?:CONCAT\((?:[^()]|\([^()]*\))*\)|"
              r"\((?:[^()]|\([^()]*\))*\)|\x00\d+\x00|[\w.`]+)")
_PIPE_PAT = re.compile(rf"({_PIPE_ATOM})\s*\|\|\s*({_PIPE_ATOM})")


def _pipes_concat_rewrite(sql: str) -> str:
    """sql_mode PIPES_AS_CONCAT: `||` concatenates, binding TIGHTER than
    arithmetic (MySQL: 1 + 2 || 3 + 4 = 1 + '23' + 4 = 28) — assemble
    CONCAT() calls atom-by-atom, left-associatively. Booleans render as
    their MySQL integer forms inside the concatenation."""
    sql = re.sub(r"\bTRUE\b(?=\s*\|\|)", "1", sql, flags=re.IGNORECASE)
    sql = re.sub(r"(\|\|\s*)TRUE\b", r"\g<1>1", sql, flags=re.IGNORECASE)
    sql = re.sub(r"\bFALSE\b(?=\s*\|\|)", "0", sql, flags=re.IGNORECASE)
    sql = re.sub(r"(\|\|\s*)FALSE\b", r"\g<1>0", sql, flags=re.IGNORECASE)
    while True:
        new = _PIPE_PAT.sub(
            lambda m: f"CONCAT({m.group(1)}, {m.group(2)})", sql, count=1)
        if new == sql:
            return sql
        sql = new

# MySQL's lax string→integer cast: the longest numeric prefix parses (with
# HALF_UP rounding of a fractional prefix), anything else is 0 — never NULL
# and never an error (reference sql/types/number.go convertToInt64).
# `p` (the extracted prefix) is empty for non-numeric strings; TRY_CAST
# keeps native numeric/boolean inputs exact (TRUE→1) before the 0 fallback.
_LAX_PREFIX_RE = "'^[+-]?([0-9]+[.]?[0-9]*|[.][0-9]+)([eE][+-]?[0-9]+)?'"


def _lax_signed_expr(x: str) -> str:
    p = f"regexp_extract(TRIM(CAST({x} AS STRING)), {_LAX_PREFIX_RE}, 0)"
    return (
        f"(CASE WHEN {p} = '' THEN COALESCE(TRY_CAST({x} AS BIGINT), 0) "
        f"WHEN regexp_like({p}, '^[+-]?[0-9]+$') THEN CAST({p} AS BIGINT) "
        f"ELSE CAST(ROUND(CAST({p} AS DOUBLE), 0) AS BIGINT) END)"
    )


def _rewrite_cast_datetime(sql: str) -> str:
    """CAST(x AS DATETIME[(n)]) — Spark has no DATETIME type. Map to
    TIMESTAMP with MySQL's fractional-second handling: plain DATETIME
    rounds to whole seconds, DATETIME(n) rounds to n fractional digits
    (reference sql/types/datetime.go ConvertToDatetime rounding)."""
    pat = re.compile(r"\bCAST\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        body = sql[m.end():close]
        mm = re.search(r"\s+AS\s+(DATETIME(?:\s*\(\s*(\d)\s*\))?|DATE)\s*$",
                       body, re.IGNORECASE)
        if not mm:
            pos = m.end()
            continue
        inner = _rewrite_cast_datetime(body[:mm.start()])
        # MySQL parses the longest valid temporal PREFIX ('2020-01-01 a'
        # → midnight, trailing junk dropped); Spark's cast NULLs instead —
        # extract the prefix first, then round to the target precision
        if mm.group(1).upper() == "DATE":
            # already-temporal operands (to_timestamp/to_date/typed
            # literals) can't carry trailing junk — keep the plain cast so
            # Catalyst folds/pushes it
            if re.match(r"\s*(to_timestamp|to_date|date_add|date_sub|"
                        r"timestamp_micros|DATE\s|TIMESTAMP\s)",
                        inner, re.IGNORECASE):
                pos = m.end()
                continue
            dprefix = r"^\\s*(\\d{4}-\\d{1,2}-\\d{1,2})"
            repl = (f"to_date(nullif(regexp_extract(CAST(({inner}) AS "
                    f"STRING), '{dprefix}', 1), ''))")
            sql = sql[:m.start()] + repl + sql[close + 1:]
            pos = m.start() + len(repl)
            continue
        digits = int(mm.group(2)) if mm.group(2) else 0
        scale = 10 ** (6 - digits)
        prefix = (r"^\\s*(\\d{4}-\\d{1,2}-\\d{1,2}(?:[ T]\\d{1,2}"
                  r"(?::\\d{1,2}(?::\\d{1,2}(?:\\.\\d+)?)?)?)?)")
        ts = (f"to_timestamp(nullif(regexp_extract(CAST(({inner}) AS "
              f"STRING), '{prefix}', 1), ''))")
        repl = (f"timestamp_micros(CAST(ROUND(unix_micros({ts}) "
                f"/ {scale}) * {scale} AS BIGINT))")
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


def _lax_double_expr(x: str) -> str:
    """MySQL lax string→double: longest numeric prefix, else 0; NULL in →
    NULL out (reference sql/types/number.go convertToFloat64)."""
    p = f"regexp_extract(TRIM(CAST({x} AS STRING)), {_LAX_PREFIX_RE}, 0)"
    return (
        f"(CASE WHEN {p} = '' THEN COALESCE(TRY_CAST({x} AS DOUBLE), 0.0D) "
        f"ELSE CAST({p} AS DOUBLE) END)"
    )


_NUM_LIT_RE = re.compile(
    r"^[0-9]*\.?[0-9]+([eE][+-]?[0-9]+)?(BD|D|L)?$", re.IGNORECASE)
# Functions numeric-typed in BOTH MySQL and the transpiled Spark plan
# (no string/temporal-returning names; aggregates other than COUNT excluded
# because MIN/MAX/SUM keep their argument's type).
_NUM_FN_RE = re.compile(
    r"^(ROUND|FLOOR|CEIL|CEILING|ABS|MOD|POWER|POW|EXP|LN|LOG|LOG2|LOG10|"
    r"SQRT|SIGN|PI|RAND|RADIANS|DEGREES|SIN|COS|TAN|ASIN|ACOS|ATAN|ATAN2|"
    r"COT|LENGTH|CHAR_LENGTH|CHARACTER_LENGTH|OCTET_LENGTH|BIT_LENGTH|"
    r"ASCII|ORD|INSTR|LOCATE|STRCMP|CRC32|COUNT|DATEDIFF|TIMESTAMPDIFF|"
    r"UNIX_TIMESTAMP|TO_DAYS|TO_SECONDS|DAYOFMONTH|DAYOFWEEK|DAYOFYEAR|"
    r"YEAR|QUARTER|MONTH|WEEK|WEEKDAY|WEEKOFYEAR|HOUR|MINUTE|SECOND|"
    r"MICROSECOND)\s*\(", re.IGNORECASE)
_NONNUM_WORD_RE = re.compile(
    r"\b(INTERVAL|CASE|AND|OR|NOT|IS|BETWEEN|LIKE|IN|XOR|REGEXP|RLIKE|"
    r"COLLATE|SELECT|NULL|TRUE|FALSE)\b", re.IGNORECASE)


def _strip_outer_parens(x: str) -> str:
    x = x.strip()
    while x.startswith("(") and _find_close(x, 0) == len(x) - 1:
        x = x[1:-1].strip()
    return x


def _split_depth0(x: str, additive: bool) -> list[str] | None:
    """Split x at depth-0 binary operators of one precedence class
    (additive: + - ; multiplicative: * / % and DIV/MOD words). Returns None
    if a depth-0 token that makes the expression non-arithmetic appears
    (comparison chars, commas, bitwise ops). Unary +/- (operator preceded
    by nothing or another operator, or an exponent's sign) stays attached
    to its operand."""
    parts, depth, last, i, n = [], 0, 0, 0, len(x)
    found = False
    while i < n:
        c = x[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            if c in "=<>!,?&|^~":
                return None
            prev = x[:i].rstrip()
            binary = bool(prev) and (prev[-1].isalnum() or prev[-1] in ")`_")
            if c in "+-":
                # exponent sign: 1e+5 / 1E-5
                if (binary and len(prev) >= 2 and prev[-1] in "eE"
                        and prev[-2].isdigit()):
                    binary = False
                if binary and additive:
                    parts.append(x[last:i]); last = i + 1; found = True
            elif c in "*/%":
                if not additive and binary:
                    parts.append(x[last:i]); last = i + 1; found = True
            elif c.isalpha() and i > 0 and not (x[i - 1].isalnum()
                                                or x[i - 1] == "_"):
                m = re.match(r"(DIV|MOD)\b", x[i:], re.IGNORECASE)
                if m and not additive:
                    prev2 = x[:i].rstrip()
                    if prev2 and (prev2[-1].isalnum() or prev2[-1] in ")`_"):
                        parts.append(x[last:i]); last = i + len(m.group(1))
                        found = True; i += len(m.group(1)) - 1
        i += 1
    if not found:
        return None
    parts.append(x[last:])
    return parts


def _definitely_numeric(x: str) -> bool:
    """True only when the (masked) expression is guaranteed numeric-typed
    in both MySQL and the transpiled Spark plan, so MySQL's lax
    string-prefix parse is the identity and a plain CAST is exact.
    Conservative: masked string literals, INTERVAL/CASE/boolean contexts,
    and bare identifiers all return False. Top-level * / % DIV MOD make an
    expression numeric outright (both engines coerce operands or fail
    analysis identically either way); + and - additionally require every
    operand numeric, because date + int is valid, DATE-typed Spark."""
    x = _strip_outer_parens(x)
    if not x or "\x00" in x or _NONNUM_WORD_RE.search(x):
        return False
    if _NUM_LIT_RE.match(x):
        return True
    # a whole-expression (TRY_)CAST to a numeric Spark type is numeric by
    # construction, whatever the operand (earlier rewrites emit these)
    mc = re.match(r"(?:TRY_)?CAST\s*\(", x, re.IGNORECASE)
    if (mc and _find_close(x, x.index("(", mc.start())) == len(x) - 1
            and re.search(
                r"\sAS\s+(BIGINT|INTEGER|INT|SMALLINT|TINYINT|LONG|DOUBLE|"
                r"FLOAT|REAL|DECIMAL(\s*\(\s*\d+\s*(,\s*\d+\s*)?\))?)"
                r"\s*\)$", x, re.IGNORECASE)):
        return True
    m = _NUM_FN_RE.match(x)
    if m and _find_close(x, x.index("(", m.start(1) + len(m.group(1)) - 1)) \
            == len(x) - 1:
        return True
    terms = _split_depth0(x, additive=True)
    if terms is not None:
        return all(_definitely_numeric(t) for t in terms)
    factors = _split_depth0(x, additive=False)
    if factors is not None:
        # * / % DIV MOD coerce string operands to numeric in both engines
        # (a temporal operand fails analysis identically in either form) —
        # but a PARENTHESIZED factor could be interval-typed (date - date),
        # and interval * numeric is valid, interval-typed Spark. So each
        # factor must be a bare (possibly qualified) identifier, or itself
        # definitely numeric.
        return all(
            re.match(r"^[A-Za-z_][\w.]*$", f.strip())
            or _definitely_numeric(f)
            for f in factors)
    return False


def _lax_unsigned_expr(x: str) -> str:
    """MySQL CAST(x AS UNSIGNED): lax signed parse, negatives wrap to
    uint64 two's complement (reference sql/types/number.go
    convertToUint64: -3 → 18446744073709551613)."""
    v = _lax_signed_expr(x)
    return (
        f"(CASE WHEN {v} < 0 THEN CAST({v} AS DECIMAL(20,0)) "
        f"+ 18446744073709551616BD ELSE CAST({v} AS DECIMAL(20,0)) END)"
    )


def _lax_decimal_expr(x: str, prec: str, scale: str) -> str:
    p = f"regexp_extract(TRIM(CAST({x} AS STRING)), {_LAX_PREFIX_RE}, 0)"
    t = f"DECIMAL({prec},{scale})"
    return (
        f"(CASE WHEN {p} = '' THEN COALESCE(TRY_CAST({x} AS {t}), 0) "
        f"ELSE CAST({p} AS {t}) END)"
    )


def _rewrite_cast_char_n(sql: str) -> str:
    """CAST(x AS CHAR(n)) truncates the rendered text to n characters
    (reference sql/types/strings.go length-parameterized conversion)."""
    pos = 0
    while True:
        m = _CAST_CALL.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        body = sql[m.end():close]
        mm = re.search(r"\s+AS\s+CHAR\s*\(\s*(\d+)\s*\)\s*$", body,
                       re.IGNORECASE)
        if not mm:
            pos = m.end()
            continue
        inner = _rewrite_cast_char_n(body[:mm.start()])
        repl = f"substring(CAST(({inner}) AS STRING), 1, {mm.group(1)})"
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


def _rewrite_cast_binary(sql: str) -> str:
    """CAST(x AS BINARY(n)) — Spark has no length-parameterized BINARY.
    MySQL zero-pads (and truncates) to n bytes (reference
    sql/types/strings.go binary padding)."""
    pos = 0
    while True:
        m = _CAST_CALL.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        body = sql[m.end():close]
        mm = re.search(r"\s+AS\s+BINARY\s*\(\s*(\d+)\s*\)\s*$", body,
                       re.IGNORECASE)
        if not mm:
            pos = m.end()
            continue
        inner = _rewrite_cast_binary(body[:mm.start()])
        n = mm.group(1)
        repl = f"rpad(CAST(({inner}) AS BINARY), {n}, x'00')"
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


def _rewrite_cast_signed(sql: str) -> str:
    """CAST(x AS SIGNED/UNSIGNED/FLOAT/DOUBLE/REAL/DECIMAL) → MySQL lax
    numeric-prefix parse (never NULL on junk, never an error; reference
    sql/types/number.go convertTo*)."""
    pos = 0
    while True:
        m = _CAST_CALL.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        body = sql[m.end():close]
        mm = re.search(
            r"\s+AS\s+(SIGNED(?:\s+INTEGER)?|UNSIGNED(?:\s+INTEGER)?|"
            r"FLOAT|DOUBLE|REAL|DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)|"
            r"DECIMAL\s*\(\s*(\d+)\s*\)|DECIMAL)\s*$",
            body, re.IGNORECASE)
        if not mm:
            pos = m.end()
            continue
        inner = _rewrite_cast_signed(body[:mm.start()])
        target = mm.group(1).upper().split()[0].split("(")[0]
        if target == "SIGNED":
            repl = _lax_signed_expr(inner)
        elif target == "UNSIGNED":
            repl = _lax_unsigned_expr(inner)
        elif target == "FLOAT":
            # keep FLOAT width: a DOUBLE-widened 0.8 no longer equals a
            # FLOAT column's 0.8 (single-precision representation)
            if _definitely_numeric(inner):
                repl = f"CAST(({inner}) AS FLOAT)"
            else:
                repl = f"CAST({_lax_double_expr(inner)} AS FLOAT)"
        elif target in ("DOUBLE", "REAL"):
            # r10 perf: when the operand is guaranteed numeric-typed (an
            # arithmetic expression — MySQL arithmetic always yields
            # numerics), the lax string-prefix parse is the identity and
            # its two per-row regexp_extract calls are pure CPU waste
            # (guide §1.2); emit the exact plain cast instead.
            if _definitely_numeric(inner):
                repl = f"CAST(({inner}) AS DOUBLE)"
            else:
                repl = _lax_double_expr(inner)
        else:  # DECIMAL
            prec = mm.group(2) or mm.group(4) or "10"
            scale = mm.group(3) or "0"
            repl = _lax_decimal_expr(inner, prec, scale)
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


def _find_close(s: str, start: int) -> int:
    """Index of the ')' matching the '(' at start. Operates on masked SQL
    (no quotes remain), but stays literal-aware for direct callers."""
    depth, i, n = 0, start, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and (s[i] != "'" or (i + 1 < n and s[i + 1] == "'")):
                i += 2 if s[i] == "'" else 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"unbalanced parens in SQL near offset {start}")


def _split_args(arglist: str) -> list[str]:
    """Split a function arg list on top-level commas."""
    args, depth, cur, i, n = [], 0, [], 0, len(arglist)
    while i < n:
        c = arglist[i]
        if c == "'":
            cur.append(c)
            i += 1
            while i < n:
                cur.append(arglist[i])
                if arglist[i] == "'":
                    i += 1
                    break
                i += 1
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        if c == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        args.append("".join(cur).strip())
    return args


def _rewrite_datetime_formats(sql: str, lits: list[str]) -> str:
    """Translate the format-string argument of DATE_FORMAT/STR_TO_DATE/
    TIME_FORMAT; STR_TO_DATE becomes to_timestamp (a parse, never a format).
    Dynamic formats are translated at runtime by the registered
    `mysql_datefmt_to_java` function (functions/special.py)."""
    pos = 0
    while True:
        m = _DATE_FMT_CALL.search(sql, pos)
        if not m:
            return sql
        fname = m.group(1).upper()
        open_paren = m.end() - 1
        close = _find_close(sql, open_paren)
        args = _split_args(sql[open_paren + 1:close])
        fmt_lit = _literal_of(args[1], lits) if len(args) == 2 else None
        if fmt_lit is not None and "%D" in fmt_lit \
                and fname != "STR_TO_DATE":
            # %D = day with English ordinal suffix (1st, 2nd, …) — no
            # Java pattern exists; splice a CASE suffix around the day
            x = args[0]
            day = f"day({x})"
            suffix = (f"(CASE WHEN {day} IN (1, 21, 31) THEN 'st' "
                      f"WHEN {day} IN (2, 22) THEN 'nd' "
                      f"WHEN {day} IN (3, 23) THEN 'rd' ELSE 'th' END)")
            ordinal = f"CONCAT(CAST({day} AS STRING), {suffix})"
            parts = fmt_lit.split("%D")
            frags = []
            for i, part in enumerate(parts):
                if part:
                    java = translate_datetime_format(part)
                    ph = _PH.format(len(lits))
                    lits.append("'" + java + "'")
                    frags.append(f"date_format({x}, {ph})")
                if i < len(parts) - 1:
                    frags.append(ordinal)
            repl = (frags[0] if len(frags) == 1
                    else "CONCAT(" + ", ".join(frags) + ")")
            sql = sql[:m.start()] + repl + sql[close + 1:]
            pos = m.start() + len(repl)
            continue
        if fmt_lit is not None:
            java = translate_datetime_format(fmt_lit,
                                             parse=fname == "STR_TO_DATE")
            ph = _PH.format(len(lits))
            lits.append("'" + java + "'")
            if fname == "STR_TO_DATE":
                # MySQL returns DATE when the format has no time fields
                has_time = re.search(r"%[HhIiklSsTrfp]", fmt_lit) is not None
                repl = (f"to_timestamp({args[0]}, {ph})" if has_time
                        else f"CAST(to_timestamp({args[0]}, {ph}) AS DATE)")
            elif fname == "FROM_UNIXTIME":
                repl = f"from_unixtime({args[0]}, {ph})"
            else:
                repl = f"date_format({args[0]}, {ph})"
        elif len(args) == 2:
            # dynamic format — translate the tokens at runtime, and keep
            # parse vs format straight (ADVICE r1: STR_TO_DATE must parse;
            # the parse direction uses lenient field widths)
            if fname == "STR_TO_DATE":
                repl = (f"to_timestamp({args[0]}, "
                        f"mysql_datefmt_to_java_parse({args[1]}))")
            else:
                fn = ("from_unixtime" if fname == "FROM_UNIXTIME"
                      else "date_format")
                repl = f"{fn}({args[0]}, mysql_datefmt_to_java({args[1]}))"
        elif fname == "FROM_UNIXTIME":
            # 1-arg form returns DATETIME in MySQL, not a formatted string
            repl = f"CAST(from_unixtime({', '.join(args)}) AS TIMESTAMP)"
        else:
            repl = f"date_format({', '.join(args)})"
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


_GC_ORDER_BY = re.compile(
    r"\bORDER\s+BY\s+(.+?)\s*(ASC|DESC)?\s*$", re.IGNORECASE | re.DOTALL
)


def _rewrite_group_concat(sql: str, lits: list[str]) -> str:
    """GROUP_CONCAT([DISTINCT] expr [ORDER BY key [ASC|DESC]] [SEPARATOR x])
    → array_join over a sorted collect_list/collect_set.

    When the ORDER BY key differs from the value we collect
    struct(key, value) pairs, sort by key (comparator handles DESC), then
    project the value — honoring MySQL's ordering semantics (reference
    sql/expression/function/aggregation/group_concat.go)."""
    while True:
        m = _GROUP_CONCAT.search(sql)
        if not m:
            return sql
        open_paren = m.end() - 1
        close = _find_close(sql, open_paren)
        body = sql[open_paren + 1:close].strip()
        sep = ","
        sep_m = re.search(r"\bSEPARATOR\s+(\x00\d+\x00|'[^']*')\s*$", body,
                          re.IGNORECASE)
        if sep_m:
            tok = sep_m.group(1)
            lit = _literal_of(tok, lits)
            sep = lit if lit is not None else tok.strip("'")
            body = body[:sep_m.start()].strip()
        order_key, order_dir = None, "ASC"
        ob = _GC_ORDER_BY.search(body)
        if ob:
            order_key = ob.group(1).strip()
            order_dir = (ob.group(2) or "ASC").upper()
            body = body[:ob.start()].strip()
        distinct = False
        if body.upper().startswith("DISTINCT "):
            distinct = True
            body = body[len("DISTINCT "):]
        sep_ph = _PH.format(len(lits))
        lits.append("'" + sep.replace("'", "''") + "'")

        def _ident_canon(s: str) -> str:
            # backtick identifiers arrive as literal placeholders —
            # expand them before comparing key and value text
            s = re.sub(r"\x00(\d+)\x00",
                       lambda mm: lits[int(mm.group(1))], s)
            return s.replace("`", "").strip().lower()

        same_key = (order_key is None
                    or _ident_canon(order_key) == _ident_canon(body))
        if not same_key:
            cmp_lt, cmp_gt = ("-1", "1") if order_dir == "ASC" else ("1", "-1")
            arr = (
                f"transform(array_sort(collect_list(struct({order_key} AS _k, "
                f"{body} AS _v)), (l, r) -> CASE WHEN l._k < r._k THEN {cmp_lt} "
                f"WHEN l._k > r._k THEN {cmp_gt} ELSE 0 END), s -> s._v)"
            )
            if distinct:
                # DISTINCT values keep their first (key-ordered)
                # occurrence — array_distinct preserves encounter order
                arr = f"array_distinct({arr})"
        else:
            collect = "collect_set" if distinct else "collect_list"
            # sort_array, not array_sort: array_sort desugars to a lambda
            # comparator, and Spark rejects subquery operands inside
            # higher-order functions (GROUP_CONCAT((SELECT 2)))
            if order_key is not None:
                asc = "true" if order_dir == "ASC" else "false"
                arr = f"sort_array({collect}({body}), {asc})"
            else:
                arr = f"sort_array({collect}({body}))"
        # empty group (or all NULLs) → NULL, not '' (reference
        # group_concat.go: no rows appended returns NULL)
        repl = (f"IF(size({arr}) = 0, NULL, array_join({arr}, {sep_ph}))"
                if same_key else
                f"IF(COUNT({body}) = 0, NULL, array_join({arr}, {sep_ph}))")
        sql = sql[:m.start()] + repl + sql[close + 1:]


def _rewrite_calls(sql: str, pattern: re.Pattern, repl_fn) -> str:
    """Generic call-site rewriter: find `NAME(`, parse top-level args, and
    substitute repl_fn(match, args) (None = leave this site untouched).
    Advances past each replacement so generated text containing the same
    function name is never re-matched."""
    pos = 0
    while True:
        m = pattern.search(sql, pos)
        if not m:
            return sql
        open_paren = m.end() - 1
        close = _find_close(sql, open_paren)
        args = _split_args(sql[open_paren + 1:close])
        repl = repl_fn(m, args)
        if repl is None:
            pos = m.end()
            continue
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


_MISC_FN = re.compile(
    r"\b(DAYNAME|MONTHNAME|CEILING|CEIL|FLOOR|SIGN|GREATEST|LEAST|STRCMP|"
    r"FIELD|CHAR|INSERT|FORMAT|MAKEDATE|DATE_ADD|DATE_SUB|ADDDATE|SUBDATE|"
    r"INTERVAL|JSON_ARRAYAGG|JSON_OBJECTAGG|JSON_ARRAY|JSON_OBJECT|"
    r"JSON_LENGTH|JSON_VALUE|"
    r"MAKE_SET|EXPORT_SET|OCT|GET_FORMAT|NAME_CONST|FIND_IN_SET|"
    r"LOCATE|INSTR|SOUNDEX|"
    r"LAST_INSERT_ID|REGEXP_LIKE|REGEXP_INSTR|REGEXP_SUBSTR|"
    r"REGEXP_REPLACE|DATEDIFF|TIMESTAMPDIFF)\s*\(",
    re.IGNORECASE)


def _json_frag(arg: str) -> str:
    """One argument → its JSON-fragment text, any type: serialize through a
    one-field struct and strip the wrapper. NULL handled explicitly
    (to_json drops null struct fields). An argument that is ITSELF a
    rewritten JSON constructor (CONCAT('{' … / CONCAT('[' …) embeds raw —
    re-serializing would escape the nested document into a string."""
    a = arg.strip()
    if re.match(r"CONCAT\('\[',|CONCAT\('\{\{?',|'\[\]'|'\{\{?\}\}?'", a):
        return arg
    return (f"(CASE WHEN ({arg}) IS NULL THEN 'null' ELSE "
            f"regexp_replace(to_json(struct(({arg}) AS v)), "
            f"'^\\\\{{\"v\":|\\\\}}$', '') END)")


_UNARY_PREV = re.compile(
    r"(?:^|[,(=<>+\-*/%]|\b(?:SELECT|WHERE|HAVING|WHEN|THEN|ELSE|AND|OR|"
    r"NOT|XOR|ON|RETURN|DISTINCT|BY|IN|IS)\b)\s*$", re.IGNORECASE)
_UNARY_ATOM = re.compile(
    r"`?[A-Za-z_]\w*`?(?:\s*\.\s*`?[A-Za-z_]\w*`?)*")
_UNARY_ATOM_KEYWORDS = frozenset((
    "TRUE", "FALSE", "NULL", "INTERVAL", "EXISTS", "NOT", "CASE", "SELECT",
    "DATE", "TIME", "TIMESTAMP", "CURRENT_DATE", "CURRENT_TIMESTAMP"))


def _promote_unary_minus(sql: str, lits: list[str] | None = None) -> str:
    """MySQL widens unary minus: -TINYINT_MIN is 128, -INT_MIN is
    2147483648 (reference sql/expression/arithmetic.go UnaryMinus
    promotes to the next wider type). Spark's negative() keeps the input
    type and wraps at the minimum. Rewrite `-atom` (identifier or paren
    group, NOT a numeric literal — Spark types those wide already) to
    `(-((atom) + 0L))`: int + bigint promotes to bigint, double/decimal
    pass through unchanged. A string-literal operand gets MySQL's lax
    numeric parse ('' → 0) instead."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c != "-":
            out.append(c)
            i += 1
            continue
        if not _UNARY_PREV.search("".join(out[-40:])):
            out.append(c)
            i += 1
            continue
        j = i + 1
        while j < n and sql[j] in " \t\n":
            j += 1
        if j < n and sql[j] == "(":
            close = _find_close(sql, j)
            if close < 0 or (close + 1 < n
                             and re.match(r"\s*\(", sql[close + 1:])):
                out.append(c)
                i += 1
                continue
            atom = ("(" + _promote_unary_minus(sql[j + 1:close], lits)
                    + ")")
            out.append(f"(-(({atom}) + 0L))")
            i = close + 1
            continue
        pm = re.compile(r"\x00(\d+)\x00").match(sql, j)
        if pm and lits is not None and lits[int(pm.group(1))][:1] == "'":
            out.append(f"(-({_lax_double_expr(pm.group(0))}))")
            i = pm.end()
            continue
        am = _UNARY_ATOM.match(sql, j)
        if (not am or am.group(0).upper() in _UNARY_ATOM_KEYWORDS
                or re.match(r"\s*\(", sql[am.end():])):
            out.append(c)
            i += 1
            continue
        out.append(f"(-(({am.group(0)}) + 0L))")
        i = am.end()
    return "".join(out)


_ORDERED_WIN_FN = re.compile(
    r"\b(?:ROW_NUMBER|RANK|DENSE_RANK|PERCENT_RANK|NTILE|LAG|LEAD|"
    r"CUME_DIST)\s*\((?:[^()]|\([^()]*\))*\)\s*OVER\s*(\()", re.IGNORECASE)


def _fix_unordered_windows(sql: str) -> str:
    """MySQL permits rank-family window functions with an unordered OVER
    clause (result order is the scan order); Spark's analyzer requires
    ORDER BY. Append a constant `ORDER BY (SELECT NULL)` — same frame,
    no sort exchange beyond the partition's existing layout."""
    pos = 0
    while True:
        m = _ORDERED_WIN_FN.search(sql, pos)
        if not m:
            return sql
        open_p = m.start(1)
        close = _find_close(sql, open_p)
        if close < 0:
            return sql
        body = sql[open_p + 1:close]
        if re.search(r"\bORDER\s+BY\b", body, re.IGNORECASE):
            pos = close
            continue
        sql = (sql[:close] + (" " if body.strip() else "")
               + "ORDER BY (SELECT NULL)" + sql[close:])
        pos = close + len("ORDER BY (SELECT NULL)") + 1


_TRIM_CALL = re.compile(r"\bTRIM\s*\(", re.IGNORECASE)


def _rewrite_trim_from(sql: str) -> str:
    """TRIM([LEADING|TRAILING|BOTH] remstr FROM str) — MySQL trims the
    whole remstr repeatedly; Spark's TRIM(x FROM y) trims a character
    set. Route the remstr form to the mysql_trim UDF; bare TRIM(s) stays
    the Spark builtin."""
    pos = 0
    while True:
        m = _TRIM_CALL.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        if close < 0:
            return sql
        body = sql[m.end():close]
        # top-level FROM split
        depth, from_at = 0, None
        for fm in re.finditer(r"[()]|\bFROM\b", body, re.IGNORECASE):
            if fm.group(0) == "(":
                depth += 1
            elif fm.group(0) == ")":
                depth -= 1
            elif depth == 0:
                from_at = fm
                break
        if from_at is None:
            pos = m.end()
            continue
        head = body[:from_at.start()].strip()
        target = body[from_at.end():].strip()
        mm = re.match(r"(?:(LEADING|TRAILING|BOTH)\s+)?(.*)$", head,
                      re.IGNORECASE | re.DOTALL)
        mode = (mm.group(1) or "BOTH").lower()
        rem = mm.group(2).strip()
        if not rem:  # TRIM(LEADING FROM s) — character-set form, space
            pos = m.end()
            continue
        target = _rewrite_trim_from(target)
        repl = f"mysql_trim('{mode}', {rem}, {target})"
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


_POSITION_CALL = re.compile(r"\bPOSITION\s*\(", re.IGNORECASE)


def _rewrite_position_in(sql: str) -> str:
    """POSITION(x IN y) → case-insensitive locate (ai_ci collation)."""
    pos = 0
    while True:
        m = _POSITION_CALL.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        if close < 0:
            return sql
        body = sql[m.end():close]
        depth, in_at = 0, None
        for fm in re.finditer(r"[()]|\bIN\b", body, re.IGNORECASE):
            if fm.group(0) == "(":
                depth += 1
            elif fm.group(0) == ")":
                depth -= 1
            elif depth == 0:
                in_at = fm
                break
        if in_at is None:
            pos = m.end()
            continue
        sub, hay = body[:in_at.start()].strip(), body[in_at.end():].strip()
        repl = f"locate(lower({sub}), lower({hay}))"
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


def _rewrite_misc_fns(sql: str, lits: list[str] | None = None) -> str:
    """MySQL functions whose Spark twin differs in name, signature, or
    semantics (reference sql/expression/function/*.go):

    - DAYNAME/MONTHNAME → date_format 'EEEE'/'MMMM' (full names)
    - CEIL/CEILING/FLOOR/SIGN → CAST(... AS BIGINT): MySQL returns integers
      where Spark returns the input type / DOUBLE
    - GREATEST/LEAST: MySQL propagates NULL from ANY argument; Spark's
      greatest/least skip NULLs → wrap in a CASE
    - STRCMP → three-way CASE; FIELD → array_position (0 when absent)
    - CHAR(a, b, …) → CONCAT(CHAR(a), CHAR(b), …) (MySQL is variadic)
    - INSERT(s, pos, len, new) → CONCAT/SUBSTRING splice
    - FORMAT(n, d) → format_number
    - MAKEDATE(y, doy) → date_add(make_date(y,1,1), doy-1)
    - DATE_ADD/DATE_SUB/ADDDATE/SUBDATE with INTERVAL → +/- INTERVAL
      (Spark's date_add only takes day counts)
    - INTERVAL(n, a, b, …) → count of thresholds ≤ n (-1 for NULL n)
    """
    def repl(m: re.Match, args: list[str]) -> str | None:
        name = m.group(1).upper()
        if name == "DAYNAME":
            return f"date_format({args[0]}, 'EEEE')"
        if name == "MONTHNAME":
            return f"date_format({args[0]}, 'MMMM')"
        if name in ("CEIL", "CEILING", "FLOOR"):
            fn = "CEIL" if name == "CEILING" else name
            if len(args) != 1:
                return None  # CEIL(x, scale) Spark extension — passthrough
            return f"CAST({fn}({args[0]}) AS BIGINT)"
        if name == "OCT":
            # base-8 CONV (reference sql/expression/function/oct.go)
            return f"conv(CAST({args[0]} AS STRING), 10, 8)"
        if name == "GET_FORMAT":
            # first arg is a bare keyword in MySQL (GET_FORMAT(DATE, 'ISO'))
            kind = args[0].strip()
            if re.fullmatch(r"DATE|DATETIME|TIME|TIMESTAMP", kind, re.I):
                args = [f"'{kind.upper()}'"] + args[1:]
            return f"get_format({', '.join(args)})"
        if name == "SIGN":
            return f"CAST(SIGN({args[0]}) AS BIGINT)"
        if name in ("GREATEST", "LEAST"):
            nulls = " OR ".join(f"({a}) IS NULL" for a in args)
            return (f"(CASE WHEN {nulls} THEN NULL "
                    f"ELSE {name}({', '.join(args)}) END)")
        if name == "STRCMP":
            a, b = args
            return (f"(CASE WHEN ({a}) < ({b}) THEN -1 "
                    f"WHEN ({a}) > ({b}) THEN 1 ELSE 0 END)")
        if name == "FIELD":
            x, rest = args[0], ", ".join(args[1:])
            return (f"COALESCE(CAST(array_position(array({rest}), {x}) "
                    f"AS INT), 0)")
        if name == "CHAR":
            # not the CAST(x AS CHAR) type keyword
            if sql[:m.start()].rstrip().upper().endswith(" AS"):
                return None
            return "CONCAT(" + ", ".join(f"CHAR({a})" for a in args) + ")"
        if name == "INSERT":
            if len(args) != 4:
                return None
            s, p, ln, new = args
            return (f"CONCAT(SUBSTRING({s}, 1, ({p}) - 1), {new}, "
                    f"SUBSTRING({s}, ({p}) + ({ln})))")
        if name == "FORMAT":
            if len(args) == 3:
                return (f"mysql_format_locale({args[0]}, {args[1]}, "
                        f"{args[2]})")
            if len(args) != 2:
                return None
            return f"format_number({args[0]}, {args[1]})"
        if name == "MAKEDATE":
            y, doy = args
            return f"date_add(make_date({y}, 1, 1), CAST(({doy}) AS INT) - 1)"
        if name in ("DATE_ADD", "ADDDATE", "DATE_SUB", "SUBDATE"):
            if len(args) != 2 or not args[1].upper().startswith("INTERVAL"):
                if name in ("ADDDATE", "SUBDATE"):
                    fn = "date_add" if name == "ADDDATE" else "date_sub"
                    return f"{fn}({', '.join(args)})"
                return None  # day-count form is Spark-native
            op = "+" if name in ("DATE_ADD", "ADDDATE") else "-"
            base = args[0].strip()
            # a string-literal operand gets a concrete temporal type (MySQL
            # parses it per content): date-only text → DATE (so + INTERVAL
            # MONTH stays a DATE and clamps to end-of-month like MySQL);
            # anything else → TIMESTAMP. Spark can't add a year-month
            # interval to a bare string.
            pm = _PH_ONLY.match(base)
            if pm and lits is not None:
                lit = lits[int(pm.group(1))]
                if lit[:1] == "'":
                    if re.fullmatch(r"\s*\d{4}-\d{1,2}-\d{1,2}\s*",
                                    lit[1:-1]):
                        base = f"DATE {lit}"
                    else:
                        base = f"CAST({lit} AS TIMESTAMP)"
            iv = args[1]
            # QUARTER is not a Spark interval unit → 3-month multiple
            qm = re.match(r"INTERVAL\s+(.+?)\s+QUARTER\s*$", iv,
                          re.IGNORECASE | re.DOTALL)
            if qm:
                iv = f"(({qm.group(1)}) * INTERVAL '3' MONTH)"
            return f"(({base}) {op} {iv})"
        if name == "INTERVAL":
            n, rest = args[0], ", ".join(args[1:])
            return (f"(CASE WHEN ({n}) IS NULL THEN -1 ELSE "
                    f"size(filter(array({rest}), __x -> __x <= ({n}))) END)")
        if name == "JSON_ARRAYAGG":
            # aggregate: JSON array in aggregation order (json_agg.go)
            return f"to_json(collect_list({args[0]}))"
        if name == "JSON_OBJECTAGG":
            # empty group → NULL (MySQL), not '{}'; duplicate keys keep
            # the LAST value (session mapKeyDedupPolicy=LAST_WIN)
            return (f"IF(COUNT(1) = 0, NULL, "
                    f"to_json(map_from_arrays("
                    f"collect_list(CAST({args[0]} AS STRING)), "
                    f"collect_list({args[1]}))))")
        if name == "JSON_LENGTH":
            # MySQL: object → member count, array → length, scalar → 1,
            # NULL doc/missing path → NULL (sql/expression/function/
            # json/json_length.go); optional path argument
            doc = (args[0] if len(args) == 1
                   else f"json_extract({args[0]}, {args[1]})")
            d = f"left(trim(({doc})), 1)"
            return (f"(CASE WHEN ({doc}) IS NULL THEN NULL "
                    f"WHEN {d} = '[' THEN json_array_length({doc}) "
                    f"WHEN {d} = '{{' THEN size(json_object_keys({doc})) "
                    f"ELSE 1 END)")
        if name == "JSON_VALUE" and len(args) in (2, 3):
            base = f"json_unquote(json_extract({args[0]}, {args[1]}))"
            if len(args) == 2:
                return base
            rt = (_literal_of(args[2], lits) if lits is not None
                  else args[2].strip("'\""))
            rt = (rt or args[2]).strip().upper()
            cast_map = {"SIGNED": "BIGINT", "UNSIGNED": "BIGINT",
                        "DOUBLE": "DOUBLE", "FLOAT": "FLOAT",
                        "DECIMAL": "DECIMAL(10,0)", "CHAR": "STRING",
                        "DATE": "DATE", "DATETIME": "TIMESTAMP",
                        "TIME": "STRING", "JSON": "STRING"}
            for k, v in cast_map.items():
                if rt.startswith(k):
                    return f"CAST({base} AS {v})"
            return base
        if name == "JSON_ARRAY":
            # arguments may themselves be JSON_ARRAY/JSON_OBJECT calls
            # (nested constructors) — rewrite them before splicing
            args = [a for a in args if a.strip()]
            if not args:  # JSON_ARRAY() → empty array
                return "'[]'"
            args = [_rewrite_calls(a, _MISC_FN, repl) for a in args]
            frags = ", ".join(_json_frag(a) for a in args)
            return f"CONCAT('[', concat_ws(',', {frags}), ']')"
        if name == "JSON_OBJECT":
            args = [a for a in args if a.strip()]
            if not args:  # JSON_OBJECT() → empty object
                return "'{}'"
            if len(args) % 2:
                return None
            args = [_rewrite_calls(a, _MISC_FN, repl) for a in args]
            # MySQL's TRUE/FALSE are ints — a boolean key stringifies to
            # '1'/'0', not 'true'/'false'
            args = [re.sub(r"^\s*TRUE\s*$", "1",
                           re.sub(r"^\s*FALSE\s*$", "0", a,
                                  flags=re.IGNORECASE),
                           flags=re.IGNORECASE) for a in args]
            pairs = ", ".join(
                f"CONCAT('\"', CAST({args[i]} AS STRING), '\":', "
                f"{_json_frag(args[i + 1])})"
                for i in range(0, len(args), 2))
            return f"CONCAT('{{', concat_ws(',', {pairs}), '}}')"
        if name in ("LOCATE", "INSTR"):
            # default ai_ci collation: substring search is
            # case-insensitive (reference sql/expression/function/str.go)
            if name == "INSTR" and len(args) == 2:
                return f"instr(lower({args[0]}), lower({args[1]}))"
            if name == "LOCATE" and len(args) in (2, 3):
                rest = f", {args[2]}" if len(args) == 3 else ""
                return (f"locate(lower({args[0]}), lower({args[1]})"
                        f"{rest})")
            return None
        if name == "SOUNDEX":
            # MySQL soundex keeps ALL digits (not the 4-char standard)
            if len(args) == 1:
                return f"mysql_soundex({args[0]})"
            return None
        if name == "FIND_IN_SET":
            # the default utf8mb4_0900_ai_ci collation makes member
            # matching case-insensitive (reference sql/expression/
            # function/str.go FindInSet with collated compare)
            if len(args) != 2:
                return None
            return f"find_in_set(lower({args[0]}), lower({args[1]}))"
        if name in ("DATEDIFF", "TIMESTAMPDIFF"):
            # MySQL parses lax date separators ('2019/12/28'); normalize
            # string operands before Spark's strict parse
            def norm(a: str, to: str) -> str:
                # only '/' → '-': '.' would clobber fractional seconds
                return (f"CAST(replace(CAST({a} AS STRING), '/', '-') "
                        f"AS {to})")
            if name == "DATEDIFF" and len(args) == 2:
                return (f"datediff({norm(args[0], 'DATE')}, "
                        f"{norm(args[1], 'DATE')})")
            if name == "TIMESTAMPDIFF" and len(args) == 3:
                return (f"timestampdiff({args[0]}, "
                        f"{norm(args[1], 'TIMESTAMP')}, "
                        f"{norm(args[2], 'TIMESTAMP')})")
            return None
        if name in ("REGEXP_LIKE", "REGEXP_INSTR", "REGEXP_SUBSTR",
                    "REGEXP_REPLACE"):
            # Spark builtins cover the base arities (JVM fast path);
            # MySQL's position/occurrence/flags long forms route to the
            # Python twins (reference sql/expression/function/regexp_*.go)
            base = {"REGEXP_LIKE": 2, "REGEXP_INSTR": 2,
                    "REGEXP_SUBSTR": 2, "REGEXP_REPLACE": 3}[name]
            if len(args) <= base:
                return None
            return f"mysql_{name.lower()}({', '.join(args)})"
        if name == "LAST_INSERT_ID":
            # LAST_INSERT_ID(expr) returns expr (and seeds the session
            # counter — the engine handles the bare () form; reference
            # sql/expression/function/last_insert_id.go)
            if len(args) == 1 and args[0].strip():
                return f"({args[0]})"
            return None
        if name == "NAME_CONST":
            # NAME_CONST(name, value) → the value (reference
            # sql/expression/function/name_const.go; the name only
            # affects the result column label)
            if len(args) != 2:
                return None
            return f"({args[1]})"
        if name == "MAKE_SET":
            bits, rest = args[0], ", ".join(args[1:])
            return (f"(CASE WHEN ({bits}) IS NULL THEN NULL ELSE "
                    f"array_join(filter(transform(array({rest}), "
                    f"(__x, __i) -> IF(shiftright({bits}, __i) & 1 = 1, "
                    f"__x, NULL)), __x -> __x IS NOT NULL), ',') END)")
        if name == "EXPORT_SET":
            # pad the 3/4-arg forms to the 5-arg SQL macro
            if len(args) == 3:
                args = args + ["','", "64"]
            elif len(args) == 4:
                args = args + ["64"]
            if len(args) != 5:
                return None
            nulls = " OR ".join(f"({a}) IS NULL" for a in args[:4])
            return (f"(CASE WHEN {nulls} THEN NULL "
                    f"ELSE export_set({', '.join(args)}) END)")
        return None

    return _rewrite_calls(sql, _MISC_FN, repl)


_ANYALL = re.compile(r"(>=|<=|<>|!=|>|<|=)\s*(ANY|SOME|ALL)\s*\(",
                     re.IGNORECASE)


def _rewrite_any_all(sql: str) -> str:
    """Quantified comparisons (reference sql/expression/comparison.go
    AnyCmp/AllCmp): Spark has no ANY/ALL operator, but each form reduces to
    IN / NOT IN / a MIN-MAX scalar subquery. Caveat (documented): for the
    inequality forms an empty subquery yields NULL here where MySQL yields
    FALSE (ANY) / TRUE (ALL). The subquery text is substituted whole (no
    _split_args — its SELECT list may contain top-level commas)."""
    pos = 0
    while True:
        m = _ANYALL.search(sql, pos)
        if not m:
            return sql
        open_paren = m.end() - 1
        close = _find_close(sql, open_paren)
        sub = sql[open_paren + 1:close]
        rep = _any_all_repl(m.group(1), m.group(2).upper(), sub)
        sql = sql[:m.start()] + rep + sql[close + 1:]
        pos = m.start() + len(rep)


def _any_all_repl(op: str, kw: str, sub: str) -> str:
    if kw in ("ANY", "SOME"):
        if op == "=":
            return f" IN ({sub})"
        agg = {"<": "MAX", "<=": "MAX", ">": "MIN", ">=": "MIN"}.get(op)
    else:  # ALL
        if op in ("!=", "<>"):
            return f" NOT IN ({sub})"
        agg = {"<": "MIN", "<=": "MIN", ">": "MAX", ">=": "MAX"}.get(op)
    if agg is None:
        raise ValueError(f"unsupported quantified comparison: {op} {kw}")
    return f"{op} (SELECT {agg}(__v) FROM ({sub}) AS __anyall(__v))"


def _rewrite_truncate(sql: str) -> str:
    """TRUNCATE(x, d) → toward-zero truncation expression (reference
    sql/expression/function/math.go Truncate). Pure Column math, no UDF."""
    while True:
        m = _TRUNCATE_CALL.search(sql)
        if not m:
            return sql
        open_paren = m.end() - 1
        close = _find_close(sql, open_paren)
        args = _split_args(sql[open_paren + 1:close])
        if len(args) != 2:
            # TRUNCATE TABLE etc. is routed in engine.py; leave untouched
            return sql
        x, d = args
        # MySQL lax coercions: non-integer scale ROUNDS ('1.5' → 2),
        # strings parse by numeric prefix ('abc' → 0); scale clamps to
        # DOUBLE-safe range so POW stays finite
        xn = _lax_double_expr(x)
        # clamp to double mantissa range: Spark FLOOR(double) returns
        # BIGINT, so a scale past ~15 would overflow int64 and clamp
        dn = (f"GREATEST(LEAST(CAST(ROUND({_lax_double_expr(d)}) "
              f"AS INT), 15), -15)")
        repl = (f"(CASE WHEN ({x}) IS NULL OR ({d}) IS NULL THEN NULL "
                f"WHEN ({xn}) >= 0 THEN FLOOR(({xn}) * POW(10, ({dn}))) "
                f"/ POW(10, ({dn})) "
                f"ELSE CEIL(({xn}) * POW(10, ({dn}))) / POW(10, ({dn})) "
                f"END)")
        sql = sql[:m.start()] + repl + sql[close + 1:]


_NUMERIC_STR_BODY = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_IN_OR_MINMAX_FN = re.compile(r"\b(IN|GREATEST|LEAST)\s*\(", re.IGNORECASE)
_PH_ONLY = re.compile(r"^\x00(\d+)\x00$")


def _unquote_numeric_args(sql: str, lits: list[str]) -> str:
    """MySQL compares string literals in numeric contexts numerically —
    `col IN ('1', 2.0)` against an INT column matches both, and
    GREATEST/LEAST coerce mixed string/number args to numbers (reference
    sql/types/conversion coercion rules). Spark instead string-compares
    the IN list (silently dropping 2.0's match) and type-errors on
    GREATEST/LEAST. Unquoting a numeric-looking string literal argument
    makes Spark's own pairwise coercion numeric, which matches MySQL for
    both numeric and string left-hand sides (Spark casts a string operand
    to DOUBLE when compared to a number, as MySQL does). Runs on masked
    text: only whole-argument literals are touched; `IN (SELECT …)`
    passes through untouched."""
    pos = 0
    while True:
        m = _IN_OR_MINMAX_FN.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        if close < 0:
            return sql
        body = sql[m.end():close]
        if re.match(r"\s*SELECT\b", body, re.IGNORECASE):
            pos = close
            continue
        args = _split_args(body)
        changed = False
        for i, a in enumerate(args):
            pm = _PH_ONLY.match(a.strip())
            if not pm:
                continue
            lit = lits[int(pm.group(1))]
            if lit[:1] == "'" and lit[-1:] == "'":
                inner = lit[1:-1].replace("''", "'").strip()
                if _NUMERIC_STR_BODY.match(inner):
                    args[i] = inner
                    changed = True
        if changed:
            new_body = ", ".join(a.strip() for a in args)
            sql = sql[:m.end()] + new_body + sql[close:]
            pos = m.end() + len(new_body) + 1
        else:
            pos = close
    return sql


_CLAUSE_END = re.compile(
    r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW|QUALIFY|UNION|EXCEPT|"
    r"INTERSECT)\b", re.IGNORECASE)


# The leading lookbehind keeps this off a call's argument list
# (`POINT(a, b) = ...` must not have POINT's own args rewritten); genuine
# row-value constructors are never preceded by an identifier character.
_TUPLE_CMP = re.compile(
    r"(?<![A-Za-z0-9_`$])"
    r"\(([^()]+)\)\s*(<=|>=|<>|!=|=|<|>)\s*\(([^()]+)\)")


_TUPLE_IN = re.compile(
    r"\(([^()]+,[^()]*)\)\s+(NOT\s+)?IN\s*"
    r"\(\s*(\([^()]+\)(?:\s*,\s*\([^()]+\))*)\s*\)", re.IGNORECASE)


def _rewrite_tuple_in(sql: str) -> str:
    """(a, b) IN ((c, d), (e, f)) → OR of row equalities. Spark's struct
    IN uses set membership with two-valued logic; MySQL's row IN is the
    disjunction of row comparisons with NULL propagation — (1,1) IN
    ((NULL,NULL)) is NULL, not FALSE."""
    def repl(m: re.Match) -> str:
        left = [a.strip() for a in _split_args(m.group(1))]
        if len(left) < 2:
            return m.group(0)
        groups = re.findall(r"\(([^()]+)\)", m.group(3))
        ors = []
        for gtext in groups:
            right = [a.strip() for a in _split_args(gtext)]
            if len(right) != len(left):
                return m.group(0)
            ors.append("(" + " AND ".join(
                f"(({a}) = ({b}))" for a, b in zip(left, right)) + ")")
        body = "(" + " OR ".join(ors) + ")"
        return f"(NOT {body})" if m.group(2) else body

    return _TUPLE_IN.sub(repl, sql)


def _rewrite_tuple_compare(sql: str) -> str:
    """Row-value comparisons with per-element coercion: MySQL compares
    (1, 1) = (1.1, 1.1) element-wise with numeric coercion; Spark's
    struct comparison requires identical field types and errors. Expanding
    to scalar conjunctions/lexicographic chains lets Spark's own pairwise
    coercion apply (reference sql/expression/tuple comparisons)."""
    def lex(azip, strict_op, base_op):
        # lexicographic (a1,a2) < (b1,b2) → a1<b1 OR (a1=b1 AND a2<b2)
        (a, b), rest = azip[0], azip[1:]
        if not rest:
            return f"({a}) {base_op} ({b})"
        return (f"(({a}) {strict_op} ({b})) OR ((({a}) = ({b})) AND "
                f"({lex(rest, strict_op, base_op)}))")

    def repl(m: re.Match) -> str:
        # row-vs-subquery ((a,b) = (SELECT x, y ...)) must stay intact —
        # splitting a SELECT body on commas produces broken SQL
        if re.match(r"\s*SELECT\b", m.group(1), re.IGNORECASE) or \
                re.match(r"\s*SELECT\b", m.group(3), re.IGNORECASE):
            return m.group(0)
        left = [a.strip() for a in _split_args(m.group(1))]
        right = [a.strip() for a in _split_args(m.group(3))]
        op = m.group(2)
        if len(left) < 2 or len(left) != len(right):
            return m.group(0)
        pairs = list(zip(left, right))
        if op == "=":
            return "(" + " AND ".join(
                f"(({a}) = ({b}))" for a, b in pairs) + ")"
        if op in ("<>", "!="):
            return "(NOT (" + " AND ".join(
                f"(({a}) = ({b}))" for a, b in pairs) + "))"
        strict = op[0]  # '<' or '>'
        return "(" + lex(pairs, strict, op) + ")"

    return _TUPLE_CMP.sub(repl, sql)


def wrap_truthy_if(sql: str) -> str:
    """MySQL truthiness in IF(cond, a, b)'s first argument (`IF(1, x, y)`)
    — wrap it as CAST(cond AS DOUBLE) <> 0. Retry-only."""
    masked, lits = mask_literals(sql)
    pat = re.compile(r"\bIF\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if not m:
            break
        close = _find_close(masked, m.end() - 1)
        args = _split_args(masked[m.end():close])
        if len(args) != 3 or args[0].strip().startswith("(CAST(("):
            pos = m.end()
            continue
        cond = args[0].strip()
        repl = (f"IF( (CAST(({cond}) AS DOUBLE) <> 0.0) ,"
                f"{args[1]},{args[2]})")
        masked = masked[:m.start()] + repl + masked[close + 1:]
        pos = m.start() + len(repl)
    return unmask_literals(masked, lits)


def wrap_truthy_case(sql: str) -> str:
    """MySQL truthiness in searched-CASE conditions (`CASE WHEN COUNT(*)
    THEN ...`): wrap each WHEN body of a SEARCHED case (no subject between
    CASE and the first WHEN) as CAST(body AS DOUBLE) <> 0. Value-form
    CASE x WHEN v compares, not tests — left untouched. Retry-only,
    like wrap_truthy_filters."""
    masked, lits = mask_literals(sql)

    def one_pass(text: str):
        toks = list(re.finditer(r"\b(CASE|END|WHEN|THEN)\b", text, re.I))
        stack: list[dict] = []
        repls: list[tuple[int, int]] = []
        for t in toks:
            kw = t.group(1).upper()
            if kw == "CASE":
                stack.append({"start": t.end(), "searched": None,
                              "pending": None})
            elif kw == "WHEN" and stack:
                top = stack[-1]
                if top["searched"] is None:
                    top["searched"] = text[top["start"]:t.start()].strip() == ""
                top["pending"] = t.end()
            elif kw == "THEN" and stack:
                top = stack[-1]
                if top["pending"] is not None:
                    if top["searched"]:
                        repls.append((top["pending"], t.start()))
                    top["pending"] = None
            elif kw == "END" and stack:
                stack.pop()
        # innermost/rightmost first, one edit per pass (spans can nest)
        for s, e in sorted(repls, reverse=True):
            body = text[s:e].strip()
            if body and not body.startswith("(CAST(("):
                return (text[:s] + f" (CAST(({body}) AS DOUBLE) <> 0.0) "
                        + text[e:]), True
        return text, False

    changed = True
    while changed:
        masked, changed = one_pass(masked)
    return unmask_literals(masked, lits)


def wrap_truthy_operands(sql: str) -> str:
    """MySQL truthiness inside boolean operators: `NOT col`,
    `0.000 AND true`. Wraps the ATOM operand of NOT and bare numeric
    literals adjacent to AND/OR as CAST(x AS DOUBLE) <> 0. Retry-only,
    like the other truthiness wraps."""
    masked, lits = mask_literals(sql)
    atom = r"`?\w+`?(?:\.`?\w+`?)*|[-+]?\d+\.?\d*"

    def wrap(s):
        return f"(CAST(({s}) AS DOUBLE) <> 0.0)"

    def not_repl(m):
        a = m.group(1)
        if a.upper() in ("TRUE", "FALSE", "NULL", "IN", "BETWEEN", "LIKE",
                         "EXISTS", "NOT", "REGEXP", "RLIKE", "CAST"):
            return m.group(0)
        return f"NOT {wrap(a)}"

    prev = None
    while prev != masked:
        prev = masked
        masked = re.sub(rf"\bNOT\s+({atom})\b(?!\s*\()", not_repl,
                        masked, flags=re.IGNORECASE)

    # A numeric literal adjacent to AND/OR is only a *boolean operand* when
    # it stands alone — `WHERE 1 AND 0`. It must NOT be wrapped when it is
    # a comparison operand (`x = 1 AND y`) or a BETWEEN bound
    # (`d BETWEEN 1 AND 10` — that AND belongs to BETWEEN, not the boolean
    # algebra); wrapping those produced broken/mis-typed SQL on retry.
    between_and = re.compile(
        r"\bBETWEEN\b(?:[^()]|\([^()]*\))*?\b(AND)\b", re.IGNORECASE)
    _STANDALONE_BEFORE = re.compile(
        r"(\bAND|\bOR|\bWHERE|\bHAVING|\bWHEN|\bON|\bTHEN|\bELSE|"
        r"\bSELECT|\bNOT|\(|,)$", re.IGNORECASE)
    _STANDALONE_AFTER = re.compile(
        r"(\)|,|;|AND\b|OR\b|THEN\b|ELSE\b|END\b|WHEN\b|GROUP\b|ORDER\b|"
        r"HAVING\b|LIMIT\b|UNION\b|EXCEPT\b|INTERSECT\b|WINDOW\b|"
        r"QUALIFY\b|AS\b|FROM\b)", re.IGNORECASE)

    def _between_ands(text: str) -> set[int]:
        return {m.start(1) for m in between_and.finditer(text)}

    # operand shapes: numeric literal, string placeholder (gets MySQL's
    # lax numeric parse — 'Hello' is 0, not NULL), fully-parenthesized
    # identifier ("(t0.c0) OR (t1.c0)"), bare identifier
    _ATOM = (r"(?:[-+]?\d+(?:\.\d*)?(?:\s*[+\-*/%]\s*[-+]?\d+(?:\.\d*)?)+|"
             r"[-+]?\d+\.?\d*|\x00\d+\x00|"
             r"\(\s*(?:`?\w+`?(?:\.`?\w+`?)*|[-+]?\d+\.?\d*|\x00\d+\x00|"
             r"[\d\s+\-*/%.]+)\s*\)|`?\w+`?(?:\.`?\w+`?)*)")
    _KEYWORDS = ("TRUE", "FALSE", "NULL", "NOT", "EXISTS", "IN", "BETWEEN",
                 "LIKE", "ILIKE", "IS", "CASE", "WHEN", "THEN", "ELSE",
                 "END", "SELECT", "AND", "OR", "INTERVAL", "CAST")

    def _wrap_atom(a: str) -> str:
        a = a.strip()
        core = a.strip("()").strip()
        if re.fullmatch(r"\x00\d+\x00", core):
            lit = lits[int(core.strip("\x00"))]
            if lit[:1] == "'":
                return f"({_lax_double_expr(core)} <> 0.0)"
        if re.fullmatch(r"`?\w+`?(?:\.`?\w+`?)*", core) \
                and not re.fullmatch(r"[-+]?[\d.]+", core):
            # identifier operand: a STRING column must truthy-compare via
            # MySQL's lax numeric parse ('john' → 0, not NULL)
            return f"({_lax_double_expr(core)} <> 0.0)"
        return wrap(a)

    def _is_keyword(a: str) -> bool:
        return a.strip().strip("()").strip().upper() in _KEYWORDS

    skip = _between_ands(masked)

    def lit_before(m):
        if m.start(2) in skip or _is_keyword(m.group(1)):
            return m.group(0)
        prefix = masked[:m.start(1)].rstrip()
        if prefix and not _STANDALONE_BEFORE.search(prefix):
            return m.group(0)
        return f"{_wrap_atom(m.group(1))} {m.group(2)} "

    masked = re.sub(rf"({_ATOM})\s*\b(AND|OR)\b", lit_before, masked,
                    flags=re.IGNORECASE)

    skip = _between_ands(masked)  # positions shifted by the first pass

    def lit_after(m):
        if m.start(1) in skip or _is_keyword(m.group(2)):
            return m.group(0)
        rest = masked2[m.end(2):].lstrip()
        if rest and not _STANDALONE_AFTER.match(rest):
            return m.group(0)
        return f"{m.group(1)} {_wrap_atom(m.group(2))}"

    masked2 = masked
    masked = re.sub(rf"\b(AND|OR)\b\s*({_ATOM})(?![\w.])", lit_after,
                    masked, flags=re.IGNORECASE)
    return unmask_literals(masked, lits)


def wrap_truthy_filters(sql: str) -> str:
    """MySQL accepts any expression as a filter (`WHERE 1`, `WHERE col`):
    non-zero is true, 0/NULL is false. Spark's analyzer requires BOOLEAN
    and raises FILTER_NOT_BOOLEAN — the engine retries the statement
    through this rewrite, which wraps every WHERE/HAVING clause body in
    `CAST((body) AS DOUBLE) <> 0.0` (valid for boolean and numeric
    operands alike). Retry-only: the wrap defeats parquet filter pushdown,
    so it must never run on statements whose filters are already boolean."""
    masked, lits = mask_literals(sql)

    def spans(text: str) -> list[tuple[int, int]]:
        out = []
        for m in re.finditer(r"\b(?:WHERE|HAVING)\b", text, re.IGNORECASE):
            start = m.end()
            depth = 0
            end = len(text)
            i = start
            while i < len(text):
                c = text[i]
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth < 0:   # clause lives inside a subquery
                        end = i
                        break
                elif depth == 0 and _CLAUSE_END.match(text, i):
                    end = i
                    break
                i += 1
            out.append((start, end))
        return out

    # wrap one unwrapped clause per pass, innermost (rightmost) first —
    # spans may nest, so offsets are recomputed after every edit
    changed = True
    while changed:
        changed = False
        for start, end in reversed(spans(masked)):
            body = masked[start:end].strip()
            if not body or body.startswith("(CAST(("):
                continue
            masked = (masked[:start]
                      + f" (CAST(({body}) AS DOUBLE) <> 0.0) "
                      + masked[end:])
            changed = True
            break
    return unmask_literals(masked, lits)


_DIV_WORD = re.compile(r"\bDIV\b", re.IGNORECASE)
# a name, number, masked literal/identifier or dotted mix of them
_DIV_NAME = r"(?:\x00\d+\x00|[\w.])+"
_DIV_NOT_OPERAND = frozenset((
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "ON", "BY", "CASE",
    "WHEN", "THEN", "ELSE", "END", "INTERVAL", "HAVING", "AS", "IN", "IS"))
_INTEGRAL_CAST = re.compile(
    r"\sAS\s+(?:BIGINT|INT|INTEGER|SMALLINT|TINYINT|LONG)\s*\)$",
    re.IGNORECASE)


def _integral_operand(x: str) -> bool:
    """An integer literal, or one whole CAST to an integral type."""
    if re.fullmatch(r"[+-]?\d+", x):
        return True
    m = re.match(r"(?:TRY_)?CAST\s*\(", x, re.IGNORECASE)
    return bool(m and _find_close(x, m.end() - 1) == len(x) - 1
                and _INTEGRAL_CAST.search(x))


def _div_operand_start(sql: str, end: int) -> int:
    """Start of the primary (name, literal, call or paren group) that ends
    just before `end`, or -1."""
    k = len(sql[:end].rstrip())
    if k and sql[k - 1] == ")":
        depth = 0
        for i in range(k - 1, -1, -1):
            depth += {")": 1, "(": -1}.get(sql[i], 0)
            if depth == 0:
                m = re.search(_DIV_NAME + "$", sql[:i])  # function name
                named = m and m.group(0).upper() not in _DIV_NOT_OPERAND
                return m.start() if named else i
        return -1
    m = re.search(_DIV_NAME + "$", sql[:k])
    if not m or m.group(0).upper() in _DIV_NOT_OPERAND:
        return -1
    return m.start()


def _div_left(sql: str, end: int) -> int:
    """Start of DIV's left operand: MySQL's * / % DIV MOD share one
    left-associative level, so it extends left across them (and a unary
    sign) up to a lower-precedence token."""
    start = _div_operand_start(sql, end)
    while start > 0:
        before = sql[:start].rstrip()
        m = re.search(r"(?:[*/%]|\b(?:DIV|MOD))$", before, re.IGNORECASE)
        if m:
            start = _div_operand_start(sql, m.start())
            continue
        if before.endswith(("-", "+")) and _UNARY_PREV.search(before[:-1]):
            start = len(before) - 1
            continue
        break
    return start


def _div_right(sql: str, start: int) -> int:
    """End of DIV's right operand, a unary-signed primary, or -1."""
    k = re.compile(r"[\s+-]*").match(sql, start).end()
    if sql[k:k + 1] == "(":
        return _find_close(sql, k) + 1
    m = re.compile(_DIV_NAME).match(sql, k)
    if not m or m.group(0).upper() in _DIV_NOT_OPERAND:
        return -1
    call = re.compile(r"\s*\(").match(sql, m.end())
    return _find_close(sql, call.end() - 1) + 1 if call else m.end()


def _rewrite_div(sql: str) -> str:
    """x DIV y: MySQL converts a non-integer operand to DECIMAL and
    truncates the quotient toward zero; Spark's `div` accepts integral
    and DECIMAL operands but rejects DOUBLE (BINARY_OP_DIFF_TYPES). Cast
    every operand not provably integral to DECIMAL(38,18): it holds any
    BIGINT, and a scale of 18 never rounds a DOUBLE below 1e20 (or a
    DECIMAL of scale <= 18) across an integer, so the truncated quotient
    is MySQL's."""
    pos = 0
    while True:
        m = _DIV_WORD.search(sql, pos)
        if not m:
            return sql
        try:
            start, end = _div_left(sql, m.start()), _div_right(sql, m.end())
        except ValueError:  # unbalanced parens: leave it to Spark
            start = end = -1
        if start < 0 or end < 0:
            pos = m.end()
            continue
        left = sql[start:m.start()].strip()
        right = sql[m.end():end].strip()
        cast = [x if _integral_operand(x)
                else f"CAST({x} AS DECIMAL(38,18))" for x in (left, right)]
        # `WHERE(a) DIV 2`: keep the keyword apart from the new CAST
        sep = " " if sql[start - 1:start].isalnum() else ""
        repl = f"{sep}{cast[0]} DIV {cast[1]}"
        sql = sql[:start] + repl + sql[end:]
        pos = start + len(repl) - len(cast[1])


def transpile_select(sql: str) -> str:
    """MySQL SELECT → Spark SQL SELECT. All rewrites run on literal-masked
    text so quoted strings and backtick identifiers pass through verbatim."""
    # charset introducers on identity charsets are no-ops on our
    # utf8-native strings (_utf8mb4'x', _latin1'x', _ascii'x'); BEFORE
    # masking so the literal masks normally afterwards
    sql = re.sub(r"\b_(?:utf8mb4|utf8mb3|utf8|latin1|ascii|binary)(?=')",
                 "", sql, flags=re.IGNORECASE)
    # bit-value literals (b'101' / 0b101) → decimal, BEFORE masking (the
    # quoted part would otherwise be hidden as a string placeholder)
    sql = _BIT_LITERAL.sub(lambda m: str(int(m.group(1), 2)), sql)
    sql, lits = mask_literals(sql)
    sql = _0B_LITERAL.sub(lambda m: str(int(m.group(1), 2)), sql)
    # MySQL hex literals (0x41) used in numeric context → decimal; Spark
    # has no 0x spelling (its x'41' form is a binary string, which wouldn't
    # participate in arithmetic)
    sql = _HEX_LITERAL.sub(lambda m: str(int(m.group(1), 16)), sql)
    sql = _LIMIT_COMMA.sub(lambda m: f"LIMIT {m.group(2)} OFFSET {m.group(1)}", sql)
    # MySQL ROW(a, b) tuple constructor → bare parens (Spark row-value
    # syntax; also VALUES ROW(...) table-value constructors)
    sql = re.sub(r"\bROW\s*\(", "(", sql, flags=re.IGNORECASE)
    sql = _rewrite_json_arrows(sql)
    sql = _promote_unary_minus(sql, lits)
    sql = _rewrite_datetime_formats(sql, lits)
    sql = _rewrite_group_concat(sql, lits)
    # misc fn rewrites BEFORE truncate: the truncate expansion generates
    # FLOOR/CEIL that must keep Spark semantics (no BIGINT cast)
    sql = _rewrite_misc_fns(sql, lits)
    sql = _rewrite_trim_from(sql)
    sql = _rewrite_position_in(sql)
    sql = _rewrite_truncate(sql)
    sql = _rewrite_any_all(sql)
    sql = _rewrite_collate(sql)
    # MySQL CAST target types with no Spark spelling
    sql = _rewrite_tuple_in(sql)
    sql = _rewrite_tuple_compare(sql)
    sql = _fix_unordered_windows(sql)
    # ORDER BY -N: MySQL folds the negative literal to a constant (no
    # positional meaning, unlike ORDER BY N); Spark still reads it as a
    # position and errors out of range — neutralize to a constant key
    sql = re.sub(r"(ORDER\s+BY\s+)-\d+(\.\d+)?(?=\s*(?:,|$|LIMIT\b|\)))",
                 r"\1(SELECT NULL)", sql, flags=re.IGNORECASE)
    sql = _rewrite_having_no_group(sql)
    sql = _rewrite_any_value_nogroup(sql)
    # integer literals wider than BIGINT parse as DOUBLE in Spark (losing
    # exactness); MySQL keeps them DECIMAL — spell them as decimal
    # literals (BD suffix), up to Spark's 38-digit cap
    sql = re.sub(
        r"\b(\d{19,38})\b(?!\s*\.)(?![\w.])",
        lambda m: (m.group(1) + "BD"
                   if int(m.group(1)) > 9223372036854775807
                   else m.group(1)),
        sql)
    # CAST(x AS JSON): MySQL's JSON values print as their text form — the
    # string cast is the closest Spark analogue (JSON stays a string
    # column throughout this engine). Boolean literals must map to JSON's
    # true/false words BEFORE the generic TRUE→1 cast rewrite below.
    sql = re.sub(r"\bCAST\s*\(\s*TRUE\s+AS\s+JSON\s*\)", "'true'", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bCAST\s*\(\s*FALSE\s+AS\s+JSON\s*\)", "'false'", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bAS\s+JSON\s*\)", "AS STRING)", sql,
                 flags=re.IGNORECASE)
    sql = _rewrite_convert(sql)
    sql = _rewrite_cast_datetime(sql)
    sql = _rewrite_cast_binary(sql)
    sql = _rewrite_cast_char_n(sql)
    sql = _rewrite_cast_signed(sql)
    sql = re.sub(r"AS\s+SIGNED(\s+INTEGER)?\s*\)", "AS BIGINT)", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"AS\s+UNSIGNED(\s+INTEGER)?\s*\)", "AS DECIMAL(20,0))", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"AS\s+CHAR\s*\)", "AS STRING)", sql, flags=re.IGNORECASE)
    # MySQL's TRUE/FALSE are the integers 1/0, so CAST(TRUE AS CHAR) is
    # '1'; Spark's boolean would stringify to 'true'
    sql = re.sub(r"CAST\s*\(\s*TRUE\s+AS", "CAST(1 AS", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"CAST\s*\(\s*FALSE\s+AS", "CAST(0 AS", sql,
                 flags=re.IGNORECASE)
    # MySQL's TRUE/FALSE are the integers 1/0 — in comparison, IN-list,
    # and CASE-operand positions they compare numerically ('false =
    # string_col' matches a '0'-prefixed string, not a boolean cast).
    # The bareword stays boolean elsewhere (WHERE TRUE, AND/OR operands).
    _tf = {"TRUE": "1", "FALSE": "0"}

    def _tail_is_json_extract(before: str) -> bool:
        # does `before` end in a json_extract(...) call?  MySQL compares
        # JSON scalars type-aware: JSON true = TRUE is 1, and the lax
        # numeric parse below would NULL on the extracted 'true'/'false'
        # words (reference json_scripts.go "json bools")
        before = before.rstrip()
        if not before.endswith(")"):
            return False
        depth = 0
        in_str = False
        for i in range(len(before) - 1, -1, -1):
            c = before[i]
            # skip single-quoted literals: a JSON path like '$.a)b' must
            # not count toward paren depth (scanning right-to-left, a
            # doubled '' escape toggles twice = net no-op, so this stays
            # correct for escaped quotes too)
            if c == "'":
                in_str = not in_str
                continue
            if in_str:
                continue
            if c == ")":
                depth += 1
            elif c == "(":
                depth -= 1
                if depth == 0:
                    return bool(re.search(r"json_extract\s*$", before[:i],
                                          flags=re.IGNORECASE))
        return False

    def _tf_after(m: re.Match) -> str:
        # a string operand on the other side ('true' from the JSON cast
        # rewrite) compares as a BOOLEAN cast in Spark — keep the keyword
        before = sql_tf[:m.start()].rstrip()
        if before.endswith("'") or before.upper().endswith("AS STRING)"):
            return m.group(0)
        if m.group(1) in ("=", "!=", "<>") and _tail_is_json_extract(before):
            # JSON-extract operand: compare against the JSON word form
            return f"{m.group(1)} '{m.group(2).lower()}'"
        return f"{m.group(1)} {_tf[m.group(2).upper()]}"

    def _tf_before(m: re.Match) -> str:
        after = sql_tf[m.end():].lstrip()
        if after.startswith("'"):
            return m.group(0)
        if (m.group(2) in ("=", "!=", "<>")
                and re.match(r"json_extract\s*\(", after, flags=re.IGNORECASE)):
            return f"'{m.group(1).lower()}' {m.group(2)}"
        return f"{_tf[m.group(1).upper()]} {m.group(2)}"

    sql_tf = sql
    sql = re.sub(r"(=|!=|<>|<=|>=|<|>)\s*(TRUE|FALSE)\b", _tf_after, sql,
                 flags=re.IGNORECASE)
    sql_tf = sql
    sql = re.sub(r"\b(TRUE|FALSE)\s*(=|!=|<>|<=|>=|<|>)", _tf_before, sql,
                 flags=re.IGNORECASE)
    def _tf_inlist(m: re.Match) -> str:
        # `(i > 2) IN (true)`: the LHS is already boolean — keep the
        # keyword so Spark compares boolean-to-boolean
        before = sql_tf[:m.start()].rstrip()
        if m.group(1).upper().startswith("IN") and before.endswith(")"):
            return m.group(0)
        return f"{m.group(1)} {_tf[m.group(2).upper()]} {m.group(3)}"

    sql_tf = sql
    sql = re.sub(
        r"\b(IN\s*\(|WHEN)\s*(TRUE|FALSE)\s*(\)|THEN|,)",
        _tf_inlist, sql, flags=re.IGNORECASE)
    # MySQL's default collation (utf8mb4_0900_ai_ci) makes LIKE
    # case-insensitive → Spark ILIKE ("ILIKE" itself never re-matches:
    # no word boundary between I and L)
    sql = re.sub(r"\bLIKE\b", "ILIKE", sql, flags=re.IGNORECASE)
    for myname, sparkname in FUNC_ALIASES.items():
        if myname == sparkname:
            continue
        sql = re.sub(rf"\b{myname}\s*\(", f"{sparkname}(", sql,
                     flags=re.IGNORECASE)
    # session identity functions: the Spark builtins user()/current_user()
    # return the OS user; MySQL reports user@host
    sql = re.sub(r"\b(?:CURRENT_USER|SESSION_USER|SYSTEM_USER|USER)"
                 r"\s*\(\s*\)|\bCURRENT_USER\b",
                 "'root@localhost'", sql, flags=re.IGNORECASE)
    # MySQL CURTIME/CURRENT_TIME → TIME-of-day string; SYSDATE ≈ per-call
    # time (Spark's now() is statement-time; per-call drift is below test
    # resolution and documented).
    sql = _CURTIME.sub("date_format(current_timestamp(), 'HH:mm:ss')", sql)
    sql = _SYSDATE.sub("current_timestamp()", sql)
    # MySQL logical XOR on booleans ≡ boolean inequality
    sql = _XOR.sub("!=", sql)
    # MySQL C-style logical operators (default sql_mode: PIPES_AS_CONCAT
    # off): `||` is OR, `&&` is AND, prefix `!` is NOT. Spark's `||` is
    # concat and it has no `&&`/prefix-`!` at all. Literal text is
    # masked, so these can't hit string contents; `!=` is protected by
    # the lookahead. The NOT spelling keeps MySQL truthiness via the
    # engine's wrap_truthy_filters retry (NOT over a numeric operand).
    # Under sql_mode PIPES_AS_CONCAT (or ANSI) `||` stays Spark concat —
    # the engine flips the module flag on SET sql_mode.
    if not PIPES_AS_CONCAT[0]:
        sql = re.sub(r"\|\|", " OR ", sql)
    else:
        sql = _pipes_concat_rewrite(sql)
    sql = re.sub(r"&&", " AND ", sql)
    sql = re.sub(r"!(?!=)", " NOT ", sql)
    sql = _rewrite_div(sql)
    # Bit shifts are 64-bit in MySQL; Spark's << / >> type from the left
    # operand, so an INT literal shifted by >=32 silently wraps. Casting
    # the left atom (number, column, placeholder, or one paren group) to
    # BIGINT makes shiftleft/shiftright operate at 64-bit width. Fixpoint
    # loop so shifts nested inside a paren-group atom get wrapped too;
    # already-wrapped atoms (ending "AS BIGINT)") are left alone.
    _shift_pat = re.compile(
        r"(\d+\.?\d*|\x00\d+\x00|`?\w+`?(?:\.`?\w+`?)*|\([^()]*\))"
        r"\s*(<<|>>)")
    while True:
        _changed = False

        def _shift_repl(m: re.Match) -> str:
            nonlocal _changed
            atom = m.group(1)
            if atom.upper().rstrip().endswith("AS BIGINT)"):
                return m.group(0)
            _changed = True
            return f"CAST({atom} AS BIGINT) {m.group(2)}"

        sql = _shift_pat.sub(_shift_repl, sql)
        if not _changed:
            break
    # MySQL bit ops are uint64: fractional operands ROUND first, and
    # DECIMAL values past int64-max reinterpret as two's complement so
    # the 64-bit pattern survives (reference sql/expression/arithmetic
    # bit ops over uint64). `>>` is a LOGICAL shift — shiftrightunsigned.
    sql = re.sub(
        r"(CAST\((?:[^()]|\([^()]*\))*AS BIGINT\))\s*>>\s*"
        r"(\d+|\x00\d+\x00|`?\w+`?(?:\.`?\w+`?)*|\([^()]*\))",
        r"shiftrightunsigned(\1, \2)", sql)

    def _to_i64(x: str) -> str:
        return (f"CAST((CASE WHEN ({x}) >= 9223372036854775808BD THEN "
                f"CAST(ROUND({x}) AS DECIMAL(21,0)) - "
                f"18446744073709551616BD ELSE ROUND({x}) END) AS BIGINT)")

    _bit_atom = (r"(?:\d+\.?\d*(?:BD)?|\x00\d+\x00|"
                 r"\w+\s*\((?:[^()]|\([^()]*\))*\)|"
                 r"`?\w+`?(?:\.`?\w+`?)*|\((?:[^()]|\([^()]*\))*\))")
    _bitop_pat = re.compile(rf"({_bit_atom})\s*([&^]|\|(?!\|))\s*"
                            rf"({_bit_atom})")
    while True:
        _changed = False

        def _bit_repl(m: re.Match) -> str:
            nonlocal _changed
            left, op, right = m.group(1), m.group(2), m.group(3)
            if left.startswith("CAST((CASE WHEN"):
                return m.group(0)
            _changed = True
            return f"{_to_i64(left)} {op} {_to_i64(right)}"

        sql = _bitop_pat.sub(_bit_repl, sql, count=1)
        if not _changed:
            break
    # GROUP BY a, b WITH ROLLUP → GROUP BY ROLLUP(a, b)
    sql = re.sub(
        r"GROUP\s+BY\s+(.+?)\s+WITH\s+ROLLUP",
        lambda m: f"GROUP BY ROLLUP({m.group(1)})",
        sql, flags=re.IGNORECASE | re.DOTALL)
    # Locking reads: single-session snapshot engine — the lock request is
    # trivially satisfied (reference LockSubsystem), the clause is dropped.
    sql = re.sub(r"\bFOR\s+(UPDATE|SHARE)(\s+OF\s+[`\w,\s]+?)?"
                 r"(\s+NOWAIT|\s+SKIP\s+LOCKED)?\s*$", "", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bLOCK\s+IN\s+SHARE\s+MODE\s*$", "", sql,
                 flags=re.IGNORECASE)
    # Index hints are advisory in MySQL and meaningless under Spark scans
    # (pushdown replaces index selection) — parse and drop.
    sql = re.sub(r"\b(USE|FORCE|IGNORE)\s+(INDEX|KEY)"
                 r"(\s+FOR\s+(JOIN|ORDER\s+BY|GROUP\s+BY))?\s*\([^)]*\)",
                 "", sql, flags=re.IGNORECASE)
    # SELECT modifiers: STRAIGHT_JOIN right after SELECT is a join-order
    # hint (drop; Catalyst reorders); between relations it IS the join.
    sql = re.sub(r"(SELECT\s+)(?:STRAIGHT_JOIN|SQL_NO_CACHE|SQL_CACHE|"
                 r"SQL_CALC_FOUND_ROWS|HIGH_PRIORITY|SQL_SMALL_RESULT|"
                 r"SQL_BIG_RESULT|SQL_BUFFER_RESULT)\s+", r"\1", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bSTRAIGHT_JOIN\b", "JOIN", sql, flags=re.IGNORECASE)
    # FROM DUAL is MySQL's explicit no-table source; Spark's bare SELECT
    # is the same relation (reference dual-table handling in planbuilder)
    sql = re.sub(r"\bFROM\s+DUAL\b", "", sql, flags=re.IGNORECASE)
    # MySQL's BINARY prefix operator casts to a binary string (forces
    # case-sensitive comparison AND a binary-typed result). Spark's
    # string<->binary comparison coerces pairwise, so CAST(x AS BINARY)
    # reproduces both effects. CAST(x AS BINARY) spelled directly is
    # protected from the prefix-operator regex.
    sql = re.sub(r"\bAS\s+BINARY\b", "AS \x01BINARY\x01", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bBINARY\s+(?=[\x00(\w'])",
                 "\x01BINCAST\x01", sql, flags=re.IGNORECASE)
    # wrap the single following atom: literal, number, column, or parens
    sql = re.sub(r"\x01BINCAST\x01(\x00\d+\x00|\d+\.?\d*|"
                 r"`?\w+`?(?:\.`?\w+`?)*|\([^()]*\))",
                 r"CAST(\1 AS BINARY)", sql)
    sql = sql.replace("\x01BINCAST\x01", "")  # unmatched → drop operator
    sql = sql.replace("\x01BINARY\x01", "BINARY")
    sql = _unquote_numeric_args(sql, lits)
    return unmask_literals(sql, lits)


def _top_level_match(text: str, pat: str):
    for m in re.finditer(pat, text, re.IGNORECASE):
        before = text[:m.start()]
        if before.count("(") == before.count(")"):
            return m
    return None


def _rewrite_having_no_group(sql: str) -> str:
    """MySQL permits HAVING without GROUP BY, filtering on select-list
    aliases (`SELECT x AS r FROM t HAVING r > 4`); Spark raises
    MISSING_GROUP_BY unless the query aggregates. Wrap the select in a
    derived table and turn the HAVING into a WHERE. Operates on masked
    text; only the top-level clause is touched, and queries that DO
    aggregate (single-group HAVING is then valid Spark) pass through."""
    hm = _top_level_match(sql, r"\bHAVING\b")
    if not hm or _top_level_match(sql, r"\bGROUP\s+BY\b"):
        return sql
    if not re.match(r"\s*SELECT\b", sql, re.IGNORECASE):
        return sql
    # only a TOP-LEVEL aggregate makes no-GROUP-BY HAVING valid Spark; an
    # aggregate inside a (scalar sub)query's parens doesn't count
    for am in re.finditer(r"\b(COUNT|SUM|AVG|MIN|MAX|STDDEV\w*|VAR\w*|"
                          r"GROUP_CONCAT|BIT_AND|BIT_OR|BIT_XOR)\s*\(",
                          sql, re.IGNORECASE):
        before = sql[:am.start()]
        if before.count("(") == before.count(")"):
            return sql
    head = sql[:hm.start()].rstrip()
    rest = sql[hm.end():]
    em = _top_level_match(rest, r"\b(ORDER\s+BY|LIMIT|WINDOW|UNION|"
                                r"EXCEPT|INTERSECT)\b")
    cond = rest[:em.start()] if em else rest
    tail = rest[em.start():] if em else ""
    return (f"SELECT * FROM ({head}) __having_q WHERE {cond.strip()} "
            f"{tail}")


def flatten_correlated_in(sql: str) -> str:
    """Reduce correlation depth of `X IN (SELECT c FROM t WHERE c = K)`
    to `(X = K AND X IN (SELECT c FROM t))` — first-order equivalent
    (the subquery returns c's equal to K, so membership means X = K and
    K appears in t; UNKNOWN/FALSE coincide in WHERE context). MySQL
    resolves K across any number of scopes (reference join_queries.go
    nested-IN tests); Spark's analyzer only reaches one scope up, so a
    two-level correlation fails UNRESOLVED_COLUMN — after this rewrite K
    sits one level closer. Retry-only."""
    masked, lits = mask_literals(sql)
    pat = re.compile(
        r"(\w+(?:\.\w+)?)\s+IN\s*\(\s*SELECT\s+(\w+)\s+FROM\s+(\w+)\s+"
        r"WHERE\s+(\w+)\s*=\s*(\w+(?:\.\w+)?)\s*\)", re.IGNORECASE)

    def repl(m: re.Match) -> str:
        x, c, t, lhs, k = m.groups()
        if lhs.lower() != c.lower():
            return m.group(0)
        return f"({x} = {k} AND {x} IN (SELECT {c} FROM {t}))"

    prev = None
    while prev != masked:
        prev = masked
        masked = pat.sub(repl, masked)
    return unmask_literals(masked, lits)


def resolve_projection_alias_in_subquery(sql: str) -> str:
    """MySQL lets a scalar subquery in the select list reference a
    sibling projection alias (`SELECT 1 AS a, (SELECT a) AS b`); Spark
    resolves subqueries against relations only. Inline the alias's
    expression for the exact shape `(SELECT <alias>)`. Retry-only."""
    masked, lits = mask_literals(sql)
    m = re.match(r"\s*SELECT\s+(.*?)\s+FROM\s", masked,
                 re.IGNORECASE | re.DOTALL)
    if not m:
        return sql
    aliases: dict[str, str] = {}
    for item in _split_args(m.group(1)):
        am = re.match(r"(.+?)\s+AS\s+[`]?(\w+)[`]?\s*$", item.strip(),
                      re.IGNORECASE | re.DOTALL)
        if am and "(" not in am.group(1):
            aliases.setdefault(am.group(2).lower(), am.group(1).strip())
    if not aliases:
        return sql

    def repl(sm: re.Match) -> str:
        expr = aliases.get(sm.group(1).lower())
        return f"({expr})" if expr is not None else sm.group(0)

    masked = re.sub(r"\(\s*SELECT\s+[`]?(\w+)[`]?\s*\)", repl, masked,
                    flags=re.IGNORECASE)
    return unmask_literals(masked, lits)


def wrap_ungrouped_any_value(sql: str) -> str:
    """MySQL without ONLY_FULL_GROUP_BY (and always when grouping by a
    unique key) lets the select list / ORDER BY name ungrouped columns —
    the engine picks a value per group (reference analyzer
    check_constraints + MySQL ANY_VALUE docs). Spark raises
    MISSING_AGGREGATION; the retry wraps each ungrouped bare column in
    any_value(). Retry-only."""
    masked, lits = mask_literals(sql)
    sm = re.match(r"(\s*SELECT\s+(?:DISTINCT\s+)?)(.*?)(\s+FROM\s.*)$",
                  masked, re.IGNORECASE | re.DOTALL)
    if not sm:
        return sql
    head, sel, rest = sm.groups()
    gm = _top_level_match(rest, r"\bGROUP\s+BY\b")
    group_keys: set[str] = set()
    if gm:
        gtail = rest[gm.end():]
        ge = _top_level_match(gtail, r"\b(HAVING|ORDER\s+BY|LIMIT|WINDOW|"
                                     r"UNION|EXCEPT|INTERSECT)\b")
        gbody = gtail[:ge.start()] if ge else gtail
        for item in _split_args(gbody):
            group_keys.add(item.strip().strip("`").lower())

    ident = re.compile(r"^[`]?\w+[`]?(?:\.[`]?\w+[`]?)?$")

    def bare(col: str) -> str:
        return col.strip().strip("`").lower()

    aliases: set[str] = set()
    new_sel = []
    changed = False
    for item in _split_args(sel):
        it = item.strip()
        am = re.match(r"(.+?)\s+AS\s+[`]?(\w+)[`]?\s*$", it,
                      re.IGNORECASE | re.DOTALL)
        expr, alias = (am.group(1).strip(), am.group(2)) if am else (it, None)
        if alias:
            aliases.add(alias.lower())
        if (not ident.match(expr)
                and not re.search(
                    r"\b(?:COUNT|SUM|AVG|MIN|MAX|GROUP_CONCAT|STDDEV\w*|"
                    r"VAR\w+|BIT_AND|BIT_OR|BIT_XOR|ANY_VALUE|COLLECT_\w+|"
                    r"JSON_ARRAYAGG|JSON_OBJECTAGG|FIRST|LAST|OVER)\b",
                    expr, re.IGNORECASE)
                and re.search(r"(?<![\w.`'])[A-Za-z_]\w*(?!\s*\()"
                              r"(?![\w.`'])", re.sub(
                                  r"\x00\d+\x00", "", expr))
                and bare(expr) not in group_keys):
            # non-aggregate COMPOUND expression over ungrouped columns
            # (concat(i, i)): MySQL evaluates it against the picked row —
            # any_value over the whole expression preserves that
            label = f" AS `{alias}`" if alias else ""
            new_sel.append(f"any_value({expr}){label}")
            changed = True
            continue
        if ident.match(expr) and bare(expr) not in group_keys and \
                expr.upper() not in ("TRUE", "FALSE", "NULL") and \
                not re.fullmatch(r"[\d.]+", expr):
            name = alias or expr.split(".")[-1].strip("`")
            new_sel.append(f"any_value({expr}) AS `{name}`")
            aliases.add(name.lower())  # ORDER BY resolves via the output
            changed = True
        else:
            new_sel.append(it)
    om = _top_level_match(rest, r"\bORDER\s+BY\b")
    if om:
        otail = rest[om.end():]
        oe = _top_level_match(otail, r"\b(LIMIT|UNION|EXCEPT|INTERSECT)\b")
        obody = otail[:oe.start()] if oe else otail
        new_items = []
        for item in _split_args(obody):
            it = item.strip()
            dm = re.match(r"(.*?)(\s+(?:ASC|DESC))?\s*$", it,
                          re.IGNORECASE | re.DOTALL)
            expr, direction = dm.group(1).strip(), dm.group(2) or ""
            if ident.match(expr) and bare(expr) not in group_keys and \
                    expr.lower() not in aliases:
                new_items.append(f"any_value({expr}){direction}")
                changed = True
            else:
                new_items.append(it)
        rest = (rest[:om.end()] + " " + ", ".join(new_items)
                + (otail[oe.start():] if oe else ""))
    if not changed:
        return sql
    return unmask_literals(head + ", ".join(new_sel) + rest, lits)


def lax_numeric_minmax(sql: str) -> str:
    """GREATEST/LEAST over mixed types: MySQL compares NUMERICALLY when
    any argument is numeric (GREATEST(1, 2, '9', 'foo999') = 9, junk
    strings parse as 0). Spark requires one type — retry-only rewrite
    that runs every argument through the lax numeric parse."""
    pat = re.compile(r"\b(GREATEST|LEAST)\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        if close < 0:
            return sql
        args = _split_args(sql[m.end():close])
        if len(args) < 2:
            pos = m.end()
            continue
        laxed = ", ".join(_lax_double_expr(lax_numeric_minmax(a))
                          for a in args)
        nulls = " OR ".join(f"({a}) IS NULL" for a in args)
        repl = (f"(CASE WHEN {nulls} THEN NULL "
                f"ELSE {m.group(1)}({laxed}) END)")
        sql = sql[:m.start()] + repl + sql[close + 1:]
        pos = m.start() + len(repl)


def boolean_if_branches_to_int(sql: str) -> str:
    """IF(cond, TRUE, intcol) mixes boolean/int branch types — MySQL's
    TRUE is just 1, Spark's is typed. Replace standalone TRUE/FALSE
    appearing as IF() branch arguments with 1/0. Retry-only."""
    masked, lits = mask_literals(sql)
    pat = re.compile(r"\bIF\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if not m:
            break
        close = _find_close(masked, m.end() - 1)
        if close < 0:
            break
        args = _split_args(masked[m.end():close])
        if len(args) == 3:
            changed = False
            for i in (1, 2):
                if args[i].strip().upper() in ("TRUE", "FALSE"):
                    args[i] = " 1" if args[i].strip().upper() == "TRUE" \
                        else " 0"
                    changed = True
            if changed:
                body = ",".join(args)
                masked = masked[:m.end()] + body + masked[close:]
                pos = m.end() + len(body)
                continue
        pos = close
    return unmask_literals(masked, lits)


def order_by_expr_to_alias(sql: str) -> str:
    """`SELECT DISTINCT t1.id AS id ... ORDER BY t1.id`: MySQL orders by
    the underlying expression of a selected alias; Spark's DISTINCT
    output hides t1.id. Replace a top-level ORDER BY item that textually
    equals a select item's expression with that item's alias. Retry-only."""
    masked, lits = mask_literals(sql)
    sm = re.match(r"(\s*SELECT\s+(?:DISTINCT\s+)?)(.*?)(\s+FROM\s.*)$",
                  masked, re.IGNORECASE | re.DOTALL)
    if not sm:
        return sql
    head, sel, rest = sm.groups()
    expr_alias: dict[str, str] = {}
    for item in _split_args(sel):
        am = re.match(r"(.+?)\s+AS\s+[`]?(\w+)[`]?\s*$", item.strip(),
                      re.IGNORECASE | re.DOTALL)
        if am:
            expr_alias[am.group(1).strip().lower()] = am.group(2)
    if not expr_alias:
        return sql
    om = _top_level_match(rest, r"\bORDER\s+BY\b")
    if not om:
        return sql
    otail = rest[om.end():]
    oe = _top_level_match(otail, r"\b(LIMIT|UNION|EXCEPT|INTERSECT)\b")
    obody = otail[:oe.start()] if oe else otail
    new_items, changed = [], False
    for item in _split_args(obody):
        it = item.strip()
        dm = re.match(r"(.*?)(\s+(?:ASC|DESC))?\s*$", it,
                      re.IGNORECASE | re.DOTALL)
        expr, direction = dm.group(1).strip(), dm.group(2) or ""
        alias = expr_alias.get(expr.lower())
        if alias is not None:
            new_items.append(f"`{alias}`{direction}")
            changed = True
        else:
            new_items.append(it)
    if not changed:
        return sql
    rest = (rest[:om.end()] + " " + ", ".join(new_items)
            + (otail[oe.start():] if oe else ""))
    return unmask_literals(head + sel + rest, lits)


def _rewrite_any_value_nogroup(sql: str) -> str:
    """MySQL's ANY_VALUE() is a grouping-check suppressor, NOT an
    aggregate: without GROUP BY it is the identity and the query stays
    row-wise. Spark's any_value IS an aggregate and would collapse the
    table to one row — strip the wrapper when the statement contains no
    GROUP BY at all (with GROUP BY present anywhere, Spark's aggregate
    semantics match MySQL's, so calls pass through)."""
    if re.search(r"\bGROUP\s+BY\b", sql, re.IGNORECASE):
        return sql
    pat = re.compile(r"\bANY_VALUE\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql)
        if not m:
            return sql
        close = _find_close(sql, m.end() - 1)
        if close < 0:
            return sql
        sql = sql[:m.start()] + "(" + sql[m.end():close] + ")" \
            + sql[close + 1:]
