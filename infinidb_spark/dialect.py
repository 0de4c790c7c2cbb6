"""MySQL-dialect SQL front-end — the mysqld surface of the reference.

The reference's users type MySQL SQL: mysqld parses it and the engine
translates `Item` trees into its own plan IR
(`dbcon/mysql/ha_calpont_execplan.cpp:4076` ``getSelectPlan``).  Here
Spark SQL is the parser/planner, so the front-end's job reduces to a
TEXT-level dialect translation for the constructs Spark spells
differently (SURVEY §3.1: "nothing to build except API surface"; §4:
the "MySQL-dialect function translation layer").

Much of MySQL already parses natively in Spark SQL — backtick
identifiers, double-quoted strings (non-ANSI mode), ``DIV``/``%``,
``RLIKE``/``REGEXP``, ``<=>``, ``IF``/``IFNULL``, ``LIMIT n OFFSET m``
— and passes through untouched.  This module rewrites the rest:

* ``LIMIT offset, count``            → ``LIMIT count OFFSET offset``
* ``GROUP_CONCAT([DISTINCT] x [ORDER BY ...] [SEPARATOR s])``
                                     → ``listagg(...) WITHIN GROUP (...)``
* ``DATE_FORMAT/TIME_FORMAT(x, '%…')`` → ``date_format(x, java-pattern)``
* ``STR_TO_DATE(x, '%…')``           → ``to_timestamp(x, java-pattern)``
  (format tokens translated by ``functions/mysql_format.py``; tokens
  that need expression composition — %D %U %u %V %v %X %x %w — expand
  to equivalent Spark SQL expressions via ``_compose_date_format``,
  mirroring the Column-level registry builder; STR_TO_DATE with those
  tokens still raises ``DialectError``)
* MySQL-only functions expanded to equivalent Spark expressions:
  ``TO_DAYS FROM_DAYS PERIOD_ADD PERIOD_DIFF TIME_TO_SEC SEC_TO_TIME
  INET_ATON INET_NTOA`` (same templates the function registry
  implements Column-wise; semantics cited there)
* spelling renames: ``UCASE/LCASE/MID`` → ``upper/lower/substring``
* version comments ``/*!40101 … */`` execute their body (MySQL
  behavior); ``--``-with-whitespace and ``/* */`` comments pass
  through; ``#`` comments normalize to ``--`` (Spark doesn't lex
  ``#``); ``--`` WITHOUT following whitespace is MySQL double
  negation and splits into ``- -``

The rewriter is tokenizer-based: string literals, backtick identifiers
and comments are lexed first and NEVER rewritten, so a literal
containing ``LIMIT 1, 2`` or ``GROUP_CONCAT`` stays intact.
"""

from __future__ import annotations

import re as _re

from infinidb_spark.functions import intervals as _iv
from infinidb_spark.functions.mysql_format import (
    GET_FORMAT_TABLE,
    MYSQL_PARSE_INPUT_NORM,
    MYSQL_TIME_FORMAT_TOKENS,
    mysql_datetime_format_to_spark,
    mysql_datetime_format_to_spark_chunks,
    mysql_format_has_time,
    mysql_format_tokens,
    mysql_parse_format_to_spark,
)

Token = tuple[str, str]  # (kind, text); kind ∈ ws|comment|string|bident|word|number|sym|code


class DialectError(ValueError):
    """A MySQL construct this translator refuses to guess at."""


# ---------------------------------------------------------------- lexer

#: '->>' / '->' (JSON path extraction, and the lambda arrow in emitted
#: fragments) lex as ONE sym — split as '-' + '>>' the bit-op pass
#: mistook a JSON extraction for a right shift
_MULTI_OPS = ("<=>", "->>", "->", "<<", ">>", "<=", ">=", "<>", "!=",
              ":=", "||", "&&")


def tokenize(sql: str) -> list[Token]:
    out: list[Token] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in " \t\r\n":
            j = i
            while j < n and sql[j] in " \t\r\n":
                j += 1
            out.append(("ws", sql[i:j]))
            i = j
        elif c in ("'", '"'):
            out.append(("string", _scan_quoted(sql, i, c)))
            i += len(out[-1][1])
        elif c == "`":
            j = i + 1
            while j < n and sql[j] != "`":
                j += 1
            out.append(("bident", sql[i : j + 1]))
            i = j + 1
        elif sql.startswith("--", i) and (i + 2 >= n or sql[i + 2] in " \t\n\r"):
            # MySQL comment rule: '--' needs following whitespace;
            # '5--3' is double negation (handled below), not a comment
            j = sql.find("\n", i)
            j = n if j < 0 else j
            out.append(("comment", sql[i:j]))
            i = j
        elif c == "#":
            # '#' comments aren't Spark SQL: re-emit as '--' style
            j = sql.find("\n", i)
            j = n if j < 0 else j
            out.append(("comment", "-- " + sql[i + 1 : j]))
            i = j
        elif sql.startswith("--", i):
            # no-whitespace '--' = double negation in MySQL; Spark would
            # lex it as a comment, so split with a space
            out.append(("sym", "-"))
            out.append(("ws", " "))
            i += 1
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n - 2 if j < 0 else j
            body = sql[i + 2 : j]
            if body.startswith("!"):
                # executable version comment: strip marker + version digits,
                # splice the body back into the token stream (MySQL runs it)
                inner = body[1:].lstrip("0123456789")
                out.extend(tokenize(inner))
            else:
                out.append(("comment", sql[i : j + 2]))
            i = j + 2
        elif c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            out.append(("word", sql[i:j]))
            i = j
        elif c.isdigit() or (c == "." and i + 1 < n and sql[i + 1].isdigit()):
            j = i
            while j < n and (sql[j].isdigit() or sql[j] in ".eE" or
                             (sql[j] in "+-" and sql[j - 1] in "eE")):
                j += 1
            out.append(("number", sql[i:j]))
            i = j
        else:
            for op in _MULTI_OPS:
                if sql.startswith(op, i):
                    out.append(("sym", op))
                    i += len(op)
                    break
            else:
                out.append(("sym", c))
                i += 1
    return out


def _scan_quoted(sql: str, i: int, quote: str) -> str:
    j, n = i + 1, len(sql)
    while j < n:
        if sql[j] == "\\":
            j += 2
        elif sql[j] == quote:
            if j + 1 < n and sql[j + 1] == quote:  # '' doubling
                j += 2
            else:
                return sql[i : j + 1]
        else:
            j += 1
    return sql[i:]


def render(tokens: list[Token]) -> str:
    return "".join(t for _, t in tokens)


def _unquote(tok: str) -> str:
    q = tok[0]
    return tok[1:-1].replace(q + q, q).replace("\\" + q, q).replace("\\\\", "\\")


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


# ------------------------------------------------------------- rewrites


def _bind1(val: str, var: str, body: str) -> str:
    """Expression-level let: evaluate ``val`` ONCE and expose it as
    ``var`` inside ``body``.  Spark SQL has no LET; a higher-order
    ``transform`` over a 1-element array is the standard binding idiom.
    Without it the TIME fragments below repeat their operand dozens of
    times per use — three CASTs in one query blew janino's 64 KB
    generated-method cap and dropped the whole stage to interpreted
    mode.  HOFs themselves evaluate interpreted, but the tree stays
    small and the rest of the stage keeps WholeStageCodegen."""
    return f"transform(array({val}), {var} -> {body})[0]"


def _time_secs_sql(x: str) -> str:
    """SQL fragment: seconds in a MySQL TIME value (func_add_time.cpp
    stringToTime) — '[-][H]H:MM[:SS[.us]]' strings or packed
    [-]HHMMSS[.us] numerics (130 -> 1m30s); MM/SS >= 60 -> NULL.
    ``x`` may be a format placeholder like '{1}', so the fragment keeps
    no literal braces (bounded regex quantifiers are spelled
    [0-9][0-9]?); ``x`` is evaluated once via ``_bind1``."""
    rx = "'^([0-9]+):([0-9][0-9]?)(:([0-9][0-9]?([.][0-9]+)?))?$'"
    h = f"try_cast(regexp_extract(a_, {rx}, 1) AS DECIMAL(10,0))"
    m = f"try_cast(regexp_extract(a_, {rx}, 2) AS DECIMAL(4,0))"
    sec = (
        f"coalesce(try_cast(nullif(regexp_extract(a_, {rx}, 4), '')"
        f" AS DECIMAL(9,6)), CAST(0 AS DECIMAL(9,6)))"
    )
    n = "try_cast(a_ AS DECIMAL(17,6))"
    colon = (
        f"(CASE WHEN {m} < 60 AND {sec} < 60"
        f" THEN {h} * 3600 + {m} * 60 + {sec} END)"
    )
    packed = (
        f"(CASE WHEN (floor({n} / 100) % 100) < 60 AND ({n} % 100) < 60"
        f" THEN floor({n} / 10000) * 3600"
        f" + (floor({n} / 100) % 100) * 60 + ({n} % 100) END)"
    )
    body = (
        f"(CASE WHEN regexp_extract(a_, {rx}, 1) != ''"
        f" THEN {colon} ELSE {packed} END)"
    )
    magnitude = _bind1("regexp_replace(s_, '^-', '')", "a_", body)
    signed = f"(CASE WHEN s_ LIKE '-%' THEN -{magnitude} ELSE {magnitude} END)"
    return _bind1(f"trim(CAST({x} AS STRING))", "s_", signed)


def _sec_to_time_sql(x: str) -> str:
    """SQL fragment: seconds → MySQL TIME render.  format_string, not
    lpad: lpad TRUNCATES 3+-digit hours (MySQL TIME reaches 838:59:59)
    and negative fields; the sign renders once out front.  Built by
    string concatenation (no ``str.format``) so ``x`` may contain
    braces."""
    # NULL guard: format_string renders NULL args as the text 'null'
    # ('null:null:null'), where MySQL SEC_TO_TIME(NULL) is NULL
    render = (
        "concat(CASE WHEN t_ < 0 THEN '-' ELSE '' END,"
        " format_string('%02d:%02d:%02d',"
        " abs(t_) DIV 3600, (abs(t_) % 3600) DIV 60, abs(t_) % 60))"
    )
    return _bind1(
        f"CAST({x} AS BIGINT)", "t_",
        f"(CASE WHEN t_ IS NOT NULL THEN {render} END)",
    )


def _cast_int_sql(e: str, target: str) -> str:
    """SQL fragment for CAST(e AS SIGNED|UNSIGNED) (ref
    utils/funcexp/func_cast.cpp, funcexp.cpp:83-88): NUMERIC fractional
    input ROUNDS half-away-from-zero (2.9 → 3), STRING input TRUNCATES
    at the decimal point ('2.9' → 2 — the string-to-integer prefix
    parse).  Mirrors registry.py cast_signed/cast_unsigned so both the
    Column path and the SQL-text path agree — including the exactness
    rules: integer-typed input and integer-LOOKING strings cast
    directly (a double detour corrupts values above 2^53 and NULLs
    max-range bigint strings), and the string gate is
    LIKE 'string%' because collated columns render typeof as
    'string collate <NAME>'.  ``target`` is 'BIGINT' (SIGNED) or
    'DECIMAL(20,0)' (UNSIGNED).  Both directions wrap at 2^64 the way
    the reference's C cast does (func_cast.cpp:234 ``uint64_t ret =
    (uint64_t) value``): a negative operand to UNSIGNED adds 2^64
    (CAST(-1 AS UNSIGNED) = 18446744073709551615) and an operand above
    2^63−1 to SIGNED subtracts 2^64 (CAST(18446744073709551615 AS
    SIGNED) = −1) — DECIMAL arithmetic keeps both exact."""
    inner = "DECIMAL(38,0)" if target == "BIGINT" else target
    # EVERY branch must be analysis-legal for EVERY static input type
    # (a CASE type-checks all branches even though typeof folds):
    # try_cast(DATE AS DOUBLE/DECIMAL) and year(BIGINT) each fail
    # ANALYSIS of the whole expression, so every branch detours through
    # the string render — sv_ for numerics (exact for every numeric
    # type), sv_ re-parsed as TIMESTAMP for the temporal packs.
    sv = "CAST(v_ AS STRING)"
    tsv = f"try_cast({sv} AS TIMESTAMP)"
    s = f"trim({sv})"
    # PREFIX parse for strings (atoll/strtoul, func_cast.cpp:144/253):
    # 'abc' → 0, '12abc' → 12, '-12.7xyz' → −12 — regexp_extract pulls
    # the leading numeric (bound once: the double-truncate branch reads
    # it three times); no prefix at all → 0, never NULL.  Mirrors
    # registry.py cast_signed/cast_unsigned.
    d = "try_cast(p_ AS DOUBLE)"
    trunc = f"(CASE WHEN {d} >= 0 THEN floor({d}) ELSE ceil({d}) END)"
    pfx = f"regexp_extract({s}, '^[+-]?[0-9]+([.][0-9]+)?', 0)"
    str_val = (
        f"(CASE WHEN {s} RLIKE '^[+-]?[0-9]+$' THEN try_cast({s} AS {inner})"
        " ELSE "
        + _bind1(
            pfx, "p_",
            f"(CASE WHEN p_ = '' THEN CAST(0 AS {inner})"
            f" WHEN p_ RLIKE '^[+-]?[0-9]+$' THEN try_cast(p_ AS {inner})"
            f" ELSE try_cast({trunc} AS {inner}) END)",
        )
        + " END)"
    )
    # temporal input packs to MySQL's numeric render (YYYYMMDD /
    # YYYYMMDDHHMMSS, dataconvert.h), NOT epoch seconds; the re-parsed
    # timestamp binds ONCE per branch (six splices re-render + re-parse
    # per field).  The boolean CASE has no ELSE: a NULL boolean stays
    # NULL (an `ELSE 0` turned CAST(NULL > 1 AS SIGNED) into 0).
    packed = (
        " WHEN typeof(v_) = 'date' THEN try_cast("
        + _bind1(tsv, "t2_", "year(t2_) * 10000 + month(t2_) * 100 + day(t2_)")
        + f" AS {inner})"
        " WHEN typeof(v_) LIKE 'timestamp%' THEN try_cast("
        + _bind1(
            tsv, "t3_",
            "CAST(year(t3_) AS DECIMAL(38,0)) * 10000000000"
            " + month(t3_) * 100000000 + day(t3_) * 1000000"
            # extract() forms, not hour()/minute()/second() calls:
            # those names are rewritten by the TIME-field handler on
            # re-entry (translator idempotency).  SECOND extracts a
            # fractional decimal — floor() keeps MySQL's truncation.
            " + extract(HOUR FROM t3_) * 10000"
            " + extract(MINUTE FROM t3_) * 100"
            " + CAST(floor(extract(SECOND FROM t3_)) AS BIGINT)",
        )
        + f" AS {inner})"
        f" WHEN typeof(v_) = 'boolean' THEN CAST("
        f"CASE WHEN {sv} = 'true' THEN 1 WHEN {sv} = 'false' THEN 0 END"
        f" AS {inner})"
    )
    # ONE numeric fallthrough (the ELSE): every numeric type's string
    # render parses back to DECIMAL exactly and string→decimal rounds
    # HALF_UP like MySQL's numeric CAST — fewer branches keeps the
    # CASE inside codegen's method-size budget
    core = _bind1(
        e, "v_",
        f"(CASE WHEN typeof(v_) LIKE 'string%' THEN {str_val}"
        f"{packed}"
        f" ELSE try_cast({sv} AS {inner}) END)",
    )
    if target == "BIGINT":
        # SIGNED runs through DECIMAL(38,0) so the (2^63−1, 2^64−1]
        # band survives to wrap instead of NULLing in a bigint try_cast
        return _bind1(
            core, "w_",
            "(CASE WHEN w_ > 9223372036854775807"
            " AND w_ <= 18446744073709551615"
            " THEN CAST(w_ - 18446744073709551616 AS BIGINT)"
            " ELSE try_cast(w_ AS BIGINT) END)",
        )
    return _bind1(
        core, "u_",
        "(CASE WHEN u_ < 0"
        " THEN CAST(u_ + 18446744073709551616 AS DECIMAL(20,0))"
        " ELSE u_ END)",
    )


def _cast_time_sql(e: str) -> str:
    """SQL fragment for CAST(e AS TIME) (ref funcexp.cpp:83-88
    cast_as_time): date/datetime input → its time-of-day; TIME strings
    and packed numerics → the canonical 'HH:MM:SS' render; malformed →
    NULL.  Mirrors registry.py cast_time.  Rendered as a string because
    >24 h and negative TIME values have no Spark type."""
    ts = "try_cast(v_ AS TIMESTAMP)"
    s = "trim(CAST(v_ AS STRING))"
    # numerics also try_cast to timestamp (epoch seconds), so gate the
    # datetime path on the rendered text actually LOOKING like a date
    # (month/day may be single-digit, which Spark's cast accepts).
    # hour/minute/second, not date_format: a re-entered translation
    # would re-read date_format's pattern under MySQL %-token rules
    # (the translator must be idempotent on its own output).
    is_dt = (
        f"({ts} IS NOT NULL AND {s} RLIKE"
        f" '^[0-9][0-9][0-9][0-9]-[0-9][0-9]?-[0-9][0-9]?')"
    )
    # extract() forms (not hour()/minute()/second() calls — re-entry
    # idempotency); SECOND is a fractional decimal, floored to the
    # BIGINT format_string('%d') needs
    tod = (
        f"format_string('%02d:%02d:%02d',"
        f" CAST(extract(HOUR FROM {ts}) AS BIGINT),"
        f" CAST(extract(MINUTE FROM {ts}) AS BIGINT),"
        f" CAST(floor(extract(SECOND FROM {ts})) AS BIGINT))"
    )
    # fractional TIME seconds ROUND to the second (MySQL TIME(0));
    # round-on-decimal is exact HALF_UP
    secs = f"round({_time_secs_sql('v_')}, 0)"
    return _bind1(
        e, "v_",
        f"(CASE WHEN {is_dt} THEN {tod}"
        f" ELSE {_sec_to_time_sql(secs)} END)",
    )


def _truncate_func(inner: list[Token]) -> list[Token]:
    """TRUNCATE(x, d) — toward-zero truncation at d decimals
    (func_truncate.cpp), the text-path mirror of registry truncate()
    INCLUDING its integer-scale fix: the old pow(10.0,d) double
    arithmetic corrupted exactly-representable decimals (0.29 at d=2
    floored to 0.28) and signum() forced decimals to double.  A
    literal d (the overwhelmingly common call shape, and the only one
    the registry's Python builder accepts) folds to an INTEGER scale
    literal so decimal inputs stay in decimal arithmetic end-to-end;
    the sign is a CASE, not signum().  A non-literal d cannot pick the
    branch at translate time, and a runtime CASE would unify the two
    branches' decimal types by DROPPING scale — so it falls back to
    the double-arithmetic form (approximate, like MySQL on doubles)."""
    args = _split_args(inner)
    if len(args) != 2:
        raise DialectError("TRUNCATE expects 2 arguments")
    x = _arg_text(args[0])
    dtext = render(args[1]).strip()
    if _re.fullmatch(r"[+-]?[0-9]+", dtext):
        # MySQL clamps d to ±30; an unclamped 10**|d| literal above
        # 38 digits fails Spark's DECIMAL precision check at analysis
        d = max(-30, min(30, int(dtext)))
        scale = 10 ** abs(d)
        if d >= 0:
            mag = f"(floor(abs(x_) * {scale}) / {scale})"
        else:
            mag = f"(floor(abs(x_) / {scale}) * {scale})"
        body = f"(CASE WHEN x_ < 0 THEN -{mag} ELSE {mag} END)"
        return [("code", _bind1(x, "x_", body))]
    mag = "(floor(abs(x_) * pow(10.0, d_)) / pow(10.0, d_))"
    body = f"(CASE WHEN x_ < 0 THEN -{mag} ELSE {mag} END)"
    return [("code", _bind1(x, "x_", _bind1(f"({dtext})", "d_", body)))]


def _domain_guard_func(name: str, inner: list[Token]) -> list[Token] | None:
    """SQRT/ASIN/ACOS with MySQL's NULL-out-of-domain semantics (ref
    func_math.cpp:969-972: SQRT of a negative is NULL, ASIN/ACOS
    outside [−1,1] are NULL; Spark returns NaN, which silently poisons
    aggregates).  The guard must re-emit the function name itself, so
    re-entry is detected via the bound variable the guard introduced
    (sr_/an_/ar_): when the sole argument renders exactly as that
    variable, the call IS our own guarded output — return None to pass
    it through untouched and keep the translator idempotent."""
    var = {"SQRT": "sr_", "ASIN": "an_", "ACOS": "ar_"}[name]
    args = _split_args(inner)
    if len(args) != 1:
        raise DialectError(f"{name} expects 1 argument")
    arg = render(args[0]).strip()
    if arg == var:
        return None
    cond = f"{var} < 0" if name == "SQRT" else f"abs({var}) > 1"
    body = (
        f"(CASE WHEN {cond} THEN CAST(NULL AS DOUBLE)"
        f" ELSE {name.lower()}({var}) END)"
    )
    return [("code", _bind1(f"({arg})", var, body))]


def _addsubtime_sql(plus: bool) -> str:
    """Template text for ADDTIME/SUBTIME (ref func_add_time.cpp,
    funcexp.cpp:75): the return shape follows the FIRST operand.  A
    datetime-looking first operand (date / datetime / a string that
    parses as one) adds the second operand's TIME value and renders
    the MySQL DATETIME string; anything else is read as a TIME value
    and the result renders as a TIME string — never coerced onto
    today's date (ADDTIME('01:00:00','01:30:00') = '02:30:00', not a
    current-date timestamp).  TIMESTAMP_NTZ keeps the datetime branch
    zoneless (MySQL DATETIME, dataconvert.h:142-160)."""
    op = "+" if plus else "-"
    secs_b = _time_secs_sql("{1}")
    ts = "try_cast(a_ AS TIMESTAMP_NTZ)"
    # numerics try_cast to timestamp too (epoch seconds), so gate the
    # datetime branch on the text actually LOOKING like a date — same
    # guard as _cast_time_sql
    is_dt = (
        f"({ts} IS NOT NULL AND trim(CAST(a_ AS STRING)) RLIKE"
        f" '^[0-9][0-9][0-9][0-9]-[0-9][0-9]?-[0-9][0-9]?')"
    )
    dt_branch = (
        f"CAST(({ts} {op} make_interval(0, 0, 0, 0, 0, 0, {secs_b}))"
        f" AS STRING)"
    )
    time_branch = _sec_to_time_sql(
        f"({_time_secs_sql('a_')} {op} {secs_b})"
    )
    return _bind1(
        "{0}", "a_",
        f"(CASE WHEN {is_dt} THEN {dt_branch} ELSE {time_branch} END)",
    )


def _extreme_sql(
    args: list[str], least: bool, subquery_flags: list[bool] | None = None
) -> str:
    """MySQL LEAST/GREATEST: NULL when ANY argument is NULL (the
    reference's func_greatest.cpp propagates isNull through every
    operand), where Spark's least/greatest SKIP nulls.  Emitted as a
    fold of two-arg comparisons WITHOUT the least/greatest words, so
    the translator stays idempotent on its own output.

    Clean operands evaluate once via ``_bind1``; operands containing a
    scalar subquery cannot live inside a higher-order lambda (Spark
    rejects subqueries in HOFs), so those steps fold as plain CASE
    text with the operand repeated — Catalyst's ReuseSubquery dedups
    identical scalar subqueries, and LEAST/GREATEST is order-
    insensitive, so subquery operands are folded LAST to keep every
    clean operand bound.  In a textual step the accumulated clean
    expression re-evaluates up to 3× (deterministic-only: the caller
    refuses RAND/UUID operands next to subqueries)."""
    cmp = "<" if least else ">"
    flags = list(subquery_flags) if subquery_flags else [False] * len(args)
    pairs = sorted(zip(args, flags), key=lambda af: af[1])  # clean first
    acc, acc_sub = pairs[0]
    for j, (a, a_sub) in enumerate(pairs[1:]):
        if acc_sub or a_sub:
            acc = (
                f"(CASE WHEN {acc} IS NULL OR {a} IS NULL THEN NULL"
                f" WHEN {a} {cmp} {acc} THEN {a} ELSE {acc} END)"
            )
            acc_sub = True
        else:
            xv, yv = f"x{j}_", f"y{j}_"
            body = (
                f"(CASE WHEN {xv} IS NULL OR {yv} IS NULL THEN NULL"
                f" WHEN {yv} {cmp} {xv} THEN {yv} ELSE {xv} END)"
            )
            acc = _bind1(acc, xv, _bind1(a, yv, body))
    return acc


def _cast_frag(expr_toks: list[Token], tpart: list[Token], k: int) -> str | None:
    """Spark fragment for CAST(expr AS <type at tpart[k]>) / CONVERT
    (expr, <type>) with MySQL semantics, or None to pass the cast
    through to Spark untouched.

    Only MYSQL-ONLY type names are rewritten — the names Spark's parser
    rejects (SIGNED/UNSIGNED, DATETIME, TIME, bare CHAR, NCHAR, JSON)
    or mis-handles (CHAR(n) PADS where MySQL truncates).  Types legal
    in both dialects (DATE, DOUBLE, DECIMAL, BINARY, BIGINT, ...) keep
    their native Spark reading: rewriting them would make the
    translator non-idempotent on its own rendered output (the session
    re-enters already-translated statements; see
    test_translate_mysql_idempotent_on_corpus_texts).

    The expr tokens are re-run through ``_rewrite`` so nested dialect
    forms keep translating.  All rewritten casts are try_cast: the
    reference converters are permissive by construction (func_cast.cpp
    / dataconvert.cpp — malformed input → 0/NULL, never an error)."""
    tword = tpart[k][1].upper()
    if tword not in ("SIGNED", "UNSIGNED", "DATETIME", "TIME", "CHAR", "NCHAR", "JSON"):
        return None
    e = "(" + render(_rewrite(expr_toks)).strip() + ")"
    if tword in ("SIGNED", "UNSIGNED"):
        return _cast_int_sql(e, "BIGINT" if tword == "SIGNED" else "DECIMAL(20,0)")
    if tword == "TIME":
        return _cast_time_sql(e)
    if tword == "DATETIME":
        # TIMESTAMP_NTZ, not TIMESTAMP: MySQL DATETIME is zoneless (the
        # reference stores it as a tz-free bitfield,
        # utils/dataconvert/dataconvert.h:142-160) — a tz-aware Spark
        # TIMESTAMP would round-trip through the session zone and
        # serialize as Arrow timestamp[us, tz=UTC] instead of the
        # zoneless timestamp[us] every consumer of DATETIME expects
        return f"try_cast({e} AS TIMESTAMP_NTZ)"
    # CHAR / NCHAR / JSON → string; bare CHAR crashes Spark's parser
    # (DATATYPE_MISSING_SIZE) and CHAR(n) would PAD where MySQL
    # truncates → string + substring
    n = None
    j = _next_code(tpart, k + 1)
    if j is not None and tpart[j] == ("sym", "("):
        args = _split_args(tpart[j + 1 : _match_paren(tpart, j)])
        if args and render(args[0]).strip().isdigit():
            n = render(args[0]).strip()
    s = f"try_cast({e} AS STRING)"
    return f"substring({s}, 1, {n})" if n else s


def _time_format_sql(x: str, fmt: str) -> str:
    """TIME_FORMAT(x, fmt) over a MySQL TIME VALUE for pure-time-token
    formats (ref func_time_format.cpp): hours may exceed 24 or be
    negative, so rendering reads the value's seconds — %H/%k show the
    full hour count ('100'), %h/%I/%l are mod-12 with 0 → 12.  Mirrors
    registry.time_format; format_string('%02d') because lpad TRUNCATES
    a 3-digit hour field.  The timestamp re-parse binds ONCE (tt_);
    pmod of unix_micros keeps the fractional second for %f and stays
    positive pre-1970."""
    is_dt = (
        "(tt_ IS NOT NULL AND trim(CAST(tf_ AS STRING)) RLIKE"
        " '^[0-9][0-9][0-9][0-9]-[0-9][0-9]?-[0-9][0-9]?')"
    )
    secs = _bind1(
        x, "tf_",
        _bind1(
            "try_cast(tf_ AS TIMESTAMP)", "tt_",
            f"(CASE WHEN {is_dt} THEN"
            " CAST(CAST(pmod(unix_micros(tt_), 86400000000)"
            " AS DECIMAL(20,0)) / 1000000 AS DECIMAL(17,6))"
            f" ELSE {_time_secs_sql('tf_')} END)",
        ),
    )
    sign = "(CASE WHEN s_ < 0 THEN '-' ELSE '' END)"
    h = "CAST(abs(s_) DIV 3600 AS BIGINT)"
    mi = "CAST((abs(s_) % 3600) DIV 60 AS BIGINT)"
    se = "CAST(floor(abs(s_) % 60) AS BIGINT)"
    micros = "CAST(round((abs(s_) % 1) * 1000000, 0) AS BIGINT)"
    h12 = f"(CASE WHEN {h} % 12 = 0 THEN 12 ELSE {h} % 12 END)"
    ampm = f"(CASE WHEN ({h} % 24) < 12 THEN 'AM' ELSE 'PM' END)"
    parts: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i + 1]
            if tok == "H":
                parts.append(f"concat({sign}, format_string('%02d', {h}))")
            elif tok == "k":
                parts.append(f"concat({sign}, CAST({h} AS STRING))")
            elif tok in ("h", "I"):
                parts.append(f"format_string('%02d', {h12})")
            elif tok == "l":
                parts.append(f"CAST({h12} AS STRING)")
            elif tok == "i":
                parts.append(f"format_string('%02d', {mi})")
            elif tok in ("s", "S"):
                parts.append(f"format_string('%02d', {se})")
            elif tok == "f":
                parts.append(f"format_string('%06d', {micros})")
            elif tok == "p":
                parts.append(ampm)
            elif tok == "r":
                parts.append(
                    f"concat(format_string('%02d:%02d:%02d', {h12}, {mi},"
                    f" {se}), ' ', {ampm})"
                )
            elif tok == "T":
                parts.append(
                    f"concat({sign}, format_string('%02d:%02d:%02d', {h},"
                    f" {mi}, {se}))"
                )
            else:  # %% and unknown tokens render literally
                parts.append(_sql_str(tok))
            i += 2
        else:
            # literal run up to the next '%'; max(j, i+1) also consumes
            # a TRAILING lone '%' (fmt[i]=='%' with no token after it),
            # which otherwise left i unchanged and spun this loop
            # forever
            j = i
            while j < len(fmt) and fmt[j] != "%":
                j += 1
            j = max(j, i + 1)
            parts.append(_sql_str(fmt[i:j]))
            i = j
    if not parts:  # empty format → '' (MySQL), still NULL-gated below
        parts.append("''")
    body = f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]
    return _bind1(
        secs, "s_",
        f"(CASE WHEN s_ IS NULL THEN CAST(NULL AS STRING) ELSE {body} END)",
    )


def _time_field_sql(field: str, x: str) -> str:
    """HOUR/MINUTE/SECOND over the full MySQL operand class (ref
    func_hour/minute/second.cpp, mirrors registry._time_field): TIME
    values keep their full hour count (HOUR('272:59:59') = 272) and
    negatives read their magnitude; datetime-looking input extracts
    its time-of-day field.  extract(FIELD FROM ts), not hour()/
    minute()/second() calls — re-emitting the matched name would break
    translator idempotency."""
    is_dt = (
        "(tt_ IS NOT NULL AND trim(CAST(tv_ AS STRING)) RLIKE"
        " '^[0-9][0-9][0-9][0-9]-[0-9][0-9]?-[0-9][0-9]?')"
    )
    dt = f"CAST(extract({field} FROM tt_) AS INT)"
    tval_body = {
        "HOUR": "CAST(ta_ DIV 3600 AS INT)",
        "MINUTE": "CAST((ta_ % 3600) DIV 60 AS INT)",
        "SECOND": "CAST(floor(ta_ % 60) AS INT)",
    }[field]
    tval = _bind1(f"abs({_time_secs_sql('tv_')})", "ta_", tval_body)
    return _bind1(
        x, "tv_",
        _bind1(
            "try_cast(tv_ AS TIMESTAMP)", "tt_",
            f"(CASE WHEN {is_dt} THEN {dt} ELSE {tval} END)",
        ),
    )


def _timediff_sql() -> str:
    """TIMEDIFF(a, b) = a − b as a MySQL TIME string with microseconds
    (func_timediff.cpp).  Each operand reads as a DATETIME when it
    LOOKS like one (unix_micros), else as a TIME value through
    ``_time_secs_sql`` ('8:59:40', packed 85940, fractional seconds) —
    the old template ran both through unix_timestamp, which NULLs on
    TIME strings and rendered the literal text 'null:null:null'.

    Each operand's classification binds ONCE into a (flag, micros)
    struct: MIXED operand types (one DATETIME-looking, one TIME) are
    NULL like MySQL — the old per-operand classification subtracted
    epoch micros from time-of-day micros and returned a huge bogus
    duration.  The result clamps to MySQL's TIME range ±838:59:59.
    999999.  The fraction appears only when nonzero; NULL → NULL."""

    def opnd(ph: str, var: str) -> str:
        ts = f"try_cast({var} AS TIMESTAMP)"
        is_dt = (
            f"({ts} IS NOT NULL AND trim(CAST({var} AS STRING)) RLIKE"
            f" '^[0-9][0-9][0-9][0-9]-[0-9][0-9]?-[0-9][0-9]?')"
        )
        return _bind1(
            ph, var,
            f"named_struct('d', (CASE WHEN {is_dt} THEN 1 ELSE 0 END),"
            f" 'u', (CASE WHEN {is_dt}"
            f" THEN CAST(unix_micros({ts}) AS DECIMAL(20,0))"
            f" ELSE CAST({_time_secs_sql(var)} * 1000000 AS DECIMAL(20,0))"
            f" END))",
        )

    pair = f"named_struct('x', {opnd('{0}', 'ta_')}, 'y', {opnd('{1}', 'tb_')})"
    # 'f': does either operand carry fractional seconds?  MySQL's
    # clamped maximum follows the result fsp ('838:59:59' for
    # second-resolution operands, '838:59:59.999999' when an operand
    # has microseconds)
    raw = _bind1(
        pair, "tp_",
        "named_struct("
        "'u', (CASE WHEN tp_.x.d <> tp_.y.d THEN CAST(NULL AS DECIMAL(21,0))"
        " ELSE CAST(tp_.x.u - tp_.y.u AS DECIMAL(21,0)) END),"
        " 'f', (CASE WHEN tp_.x.u % 1000000 <> 0"
        " OR tp_.y.u % 1000000 <> 0 THEN 1 ELSE 0 END))",
    )
    lim0 = 838 * 3600000000 + 59 * 60000000 + 59 * 1000000
    limf = lim0 + 999999
    clamped = _bind1(
        raw, "tq_",
        _bind1(
            f"(CASE WHEN tq_.f = 1 THEN CAST({limf} AS DECIMAL(21,0))"
            f" ELSE CAST({lim0} AS DECIMAL(21,0)) END)",
            "tl_",
            "(CASE WHEN tq_.u > tl_ THEN tl_"
            " WHEN tq_.u < -tl_ THEN -tl_ ELSE tq_.u END)",
        ),
    )
    render_body = (
        "concat(CASE WHEN td_ < 0 THEN '-' ELSE '' END,"
        " format_string('%02d:%02d:%02d',"
        " CAST(abs(td_) DIV 3600000000 AS BIGINT),"
        " CAST((abs(td_) % 3600000000) DIV 60000000 AS BIGINT),"
        " CAST((abs(td_) % 60000000) DIV 1000000 AS BIGINT)),"
        " CASE WHEN abs(td_) % 1000000 > 0 THEN"
        " format_string('.%06d', CAST(abs(td_) % 1000000 AS BIGINT))"
        " ELSE '' END)"
    )
    return _bind1(
        clamped, "td_",
        f"(CASE WHEN td_ IS NULL THEN CAST(NULL AS STRING)"
        f" ELSE {render_body} END)",
    )


#: months since year 0 of a MySQL period ({p} injected) with the YYMM
#: 2-digit-year resolution (00-69 → 20xx, 70-99 → 19xx) — mirrors
#: registry._period_months
_PERIOD_MONTHS_SQL = (
    "((CASE WHEN ({p} DIV 100) < 70 THEN ({p} DIV 100) + 2000"
    " WHEN ({p} DIV 100) < 100 THEN ({p} DIV 100) + 1900"
    " ELSE ({p} DIV 100) END) * 12 + ({p} % 100))"
)

#: MySQL-only function → Spark expression template ({0}, {1} = args,
#: already parenthesized).  Mirrors the Column-level builders in
#: functions/registry.py (reference: utils/funcexp/func_*.cpp).
_TEMPLATES = {
    # days since year 0 (func_to_days.cpp); 719528 = TO_DAYS('1970-01-01')
    "TO_DAYS": "CAST(datediff(CAST({0} AS DATE), DATE '1970-01-01') + 719528 AS BIGINT)",
    "FROM_DAYS": "date_add(DATE '1970-01-01', CAST({0} - 719528 AS INT))",
    # periods may be YYMM as well as YYYYMM (func_period_add.cpp /
    # my_time convert_period_to_month): 2-digit years resolve 00-69 →
    # 20xx, 70-99 → 19xx — PERIOD_ADD(6801, 2) is 206803, not 6803.
    # Operands bind ONCE via _bind1 (the months fragment reads its
    # period 4×; an unbound splice re-evaluates the operand per copy)
    "PERIOD_ADD": _bind1(
        "{0}", "pp_",
        _bind1(
            "(" + _PERIOD_MONTHS_SQL.format(p="pp_") + " - 1 + {1})",
            "mm_",
            "(mm_ DIV 12 * 100 + mm_ % 12 + 1)",
        ),
    ),
    "PERIOD_DIFF": (
        "(" + _bind1("{0}", "pa_", _PERIOD_MONTHS_SQL.format(p="pa_"))
        + " - " + _bind1("{1}", "pb_", _PERIOD_MONTHS_SQL.format(p="pb_")) + ")"
    ),
    # _time_secs_sql handles the full TIME input class — '[-]H:MM'
    # 2-part strings, packed 1230 numerics, fractional seconds — where
    # the old 3-way split crashed under ANSI on 2-part input; the
    # BIGINT cast keeps the established integral output shape
    "TIME_TO_SEC": "CAST(" + _time_secs_sql("{0}") + " AS BIGINT)",
    "SEC_TO_TIME": _sec_to_time_sql("{0}"),
    # try_cast + octet range guard: malformed / out-of-range octets
    # -> NULL (MySQL); a raw CAST raised under ANSI.  1-3 part short
    # forms resolve per the reference (func_inet_aton.cpp dot_count
    # switch): the LAST part fills the low bytes — '127.1' →
    # 127.0.0.1, '127.2.1' → 127.2.0.1.
    "INET_ATON": _bind1(
        "transform(split({0}, '\\\\.'), o_ -> try_cast(o_ AS BIGINT))", "p_",
        "(CASE WHEN exists(p_, x_ -> x_ IS NULL OR x_ < 0 OR x_ > 255)"
        " THEN CAST(NULL AS BIGINT)"
        " WHEN size(p_) = 4"
        " THEN p_[0] * 16777216 + p_[1] * 65536 + p_[2] * 256 + p_[3]"
        " WHEN size(p_) = 3 THEN p_[0] * 16777216 + p_[1] * 65536 + p_[2]"
        " WHEN size(p_) = 2 THEN p_[0] * 16777216 + p_[1]"
        " WHEN size(p_) = 1 THEN p_[0] END)"
    ),
    "STRCMP": (
        "(CASE WHEN {0} IS NULL OR {1} IS NULL THEN NULL"
        " WHEN {0} = {1} THEN 0 WHEN {0} < {1} THEN -1 ELSE 1 END)"
    ),
    "INET_NTOA": (
        "concat(CAST(({0} DIV 16777216) % 256 AS STRING), '.',"
        " CAST(({0} DIV 65536) % 256 AS STRING), '.',"
        " CAST(({0} DIV 256) % 256 AS STRING), '.',"
        " CAST({0} % 256 AS STRING))"
    ),
    # TRUNCATE routes through _truncate_func in _rewrite (it needs the
    # literal-d fold; see its docstring)
    # doy <= 0 -> NULL (MySQL), not a walk into the previous year
    "MAKEDATE": (
        "(CASE WHEN {1} >= 1"
        " THEN date_add(make_date({0}, 1, 1), CAST({1} - 1 AS INT)) END)"
    ),
    "MAKETIME": (
        # hour via format_string (lpad truncates >= 100 h / negatives);
        # minute/second out of [0,60) -> NULL (MySQL); fractional
        # seconds preserved (capped 6 dp) to mirror registry maketime;
        # the rounding BOUNDARY is clamped because %09.6f rounds —
        # seconds in [59.9999995, 60) pass the < 60 guard but would
        # render as the invalid '60' (a blanket 6-dp floor corrupts
        # values like 1.000001 whose double sits just below)
        "(CASE WHEN {0} IS NOT NULL"
        " AND {1} BETWEEN 0 AND 59 AND CAST({2} AS DOUBLE) >= 0"
        " AND CAST({2} AS DOUBLE) < 60 THEN"
        " concat(CASE WHEN {0} < 0 THEN '-' ELSE '' END,"
        " format_string('%02d:%02d:', abs(CAST({0} AS BIGINT)),"
        " CAST({1} AS BIGINT)),"
        " CASE WHEN CAST({2} AS DOUBLE) = floor(CAST({2} AS DOUBLE))"
        " THEN format_string('%02d', CAST({2} AS BIGINT))"
        " ELSE regexp_replace(format_string('%09.6f',"
        " CASE WHEN CAST({2} AS DOUBLE) >= 59.9999995"
        " THEN 59.999999 ELSE CAST({2} AS DOUBLE) END),"
        " '\\\\.?0+$', '') END) END)"
    ),
    # ADDTIME/SUBTIME return-type follows the FIRST operand
    # (func_add_time.cpp): a datetime-ish first operand yields the
    # MySQL DATETIME render, a bare TIME first operand yields a TIME
    # string — the old template coerced TIME-string firsts to a
    # timestamp on TODAY's date (a current-date-dependent wrong answer)
    "ADDTIME": _addsubtime_sql(plus=True),
    "SUBTIME": _addsubtime_sql(plus=False),
    "TIMEDIFF": _timediff_sql(),
    "MICROSECOND": "CAST(unix_micros(CAST({0} AS TIMESTAMP)) % 1000000 AS INT)",
    # MySQL DAYNAME/MONTHNAME return FULL names ('Saturday', ref
    # funchelpers.h:150 weekday_names; funcexp.cpp:105,156); Spark 4's
    # bare dayname/monthname builtins abbreviate ('Sat') — same
    # EEEE/MMMM rewrite as the registry Column builders
    "DAYNAME": "date_format({0}, 'EEEE')",
    "MONTHNAME": "date_format({0}, 'MMMM')",
    # MySQL renders boolean-valued functions as 1/0, not true/false
    "ISNULL": "(CASE WHEN {0} IS NULL THEN 1 ELSE 0 END)",
    # MySQL SIGN is an INTEGER -1/0/1; spelled signum so the template
    # never re-matches its own output (translator idempotency)
    "SIGN": "CAST(signum({0}) AS BIGINT)",
    # MySQL INSERT(str,pos,len,newstr) (func_insert.cpp, funcexp.cpp:
    # 130): pos outside [1, length] returns str unchanged; negative or
    # overlong len replaces through the end; NULL any-operand → NULL.
    # Routed here only for paren-call sites — statement-keyword INSERT
    # is never followed by '(' (see _rewrite)
    "MYSQL_INSERT_FUNC": (
        "(CASE WHEN {1} IS NULL OR {2} IS NULL OR {3} IS NULL"
        " THEN CAST(NULL AS STRING)"
        " WHEN {1} BETWEEN 1 AND char_length({0}) THEN"
        " (CASE WHEN {2} < 0 THEN concat(substring({0}, 1, {1} - 1), {3})"
        " ELSE overlay({0}, {3}, {1}, {2}) END)"
        " ELSE {0} END)"
    ),
}

_RENAMES = {"UCASE": "upper", "LCASE": "lower", "MID": "substring",
            "FORMAT": "format_number", "SYSDATE": "current_timestamp",
            # MySQL LENGTH is BYTES (the reference's func_length.cpp
            # uses strlen); Spark's length counts characters
            "LENGTH": "octet_length",
            # MySQL STD/STDDEV/VARIANCE are POPULATION statistics
            # (STDDEV_SAMP/VAR_SAMP are the sample forms); Spark's
            # bare stddev/variance are SAMPLE
            "STD": "stddev_pop", "STDDEV": "stddev_pop",
            "VARIANCE": "var_pop"}


def _template_arity(name: str) -> int:
    return max(int(m) for m in _re.findall(r"\{(\d)\}", _TEMPLATES[name])) + 1

#: MySQL INTERVAL units → (multiplier, Spark unit).  WEEK/QUARTER have
#: no Spark literal form and normalize to DAY/MONTH.
_INTERVAL_UNITS = {
    "MICROSECOND": (1, "MICROSECOND"),
    "SECOND": (1, "SECOND"), "MINUTE": (1, "MINUTE"), "HOUR": (1, "HOUR"),
    "DAY": (1, "DAY"), "WEEK": (7, "DAY"),
    "MONTH": (1, "MONTH"), "QUARTER": (3, "MONTH"), "YEAR": (1, "YEAR"),
}


def _date_addsub(name: str, inner: list[Token]) -> list[Token]:
    """DATE_ADD/DATE_SUB/ADDDATE/SUBDATE → interval arithmetic.

    ``INTERVAL <n> <unit>`` with a literal n emits the typed-literal
    form (preserves DATE-ness); an expression n emits
    ``(n * mult) * INTERVAL '1' unit`` (Spark returns TIMESTAMP for
    day-time intervals — MySQL keeps DATE; acceptable drift, documented).
    Compound units (HOUR_MINUTE, DAY_SECOND, …) take a literal
    multi-field operand, folded to an ANSI typed-interval literal by
    the bare-INTERVAL rewrite before this function runs (non-literal
    compound operands are refused below).
    The 2-arg day form (``ADDDATE(d, n)``) maps to date_add/date_sub.
    """
    args = _split_args(inner)
    if len(args) != 2:
        raise DialectError(f"{name} expects 2 arguments")
    plus = name in ("DATE_ADD", "ADDDATE")
    base = render(args[0]).strip()
    first = [t for t in args[0] if t[0] not in ("ws", "comment")]
    is_str = len(first) == 1 and first[0][0] == "string"
    # a bare DATE string ('2020-01-31', no time part) keeps its
    # date-ness through date-only units (func_date_add.cpp:
    # string-date + date unit returns a date); any other string, or a
    # time-bearing unit, promotes to MySQL DATETIME — zoneless
    # (dataconvert.h:142-160) → TIMESTAMP_NTZ.  The cast is chosen PER
    # INTERVAL KIND below: Spark's DATE + sub-day interval returns a
    # tz-aware TIMESTAMP, so a date base must only be used when the
    # result stays a DATE.
    bare_date = is_str and _re.fullmatch(
        r"[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}", _unquote(first[0][1]).strip()
    )

    def _cast_base(date_ok: bool) -> str:
        if not is_str:
            return base
        # MySQL coerces a string datetime operand; Spark resolves
        # string + day-time interval but NOT string + year-month
        t = "DATE" if (bare_date and date_ok) else "TIMESTAMP_NTZ"
        return f"CAST({base} AS {t})"

    second = [t for t in args[1] if t[0] not in ("ws", "comment")]
    if (
        len(second) == 1
        and second[0][0] == "code"
        and second[0][1].startswith(("INTERVAL ", "CAST(NULL AS INTERVAL"))
    ):
        # a compound INTERVAL the inner _rewrite already folded into an
        # ANSI typed-interval literal; negation distributes over the
        # field sum, so the external ± is exact for DATE_SUB too.
        # Year-month compounds keep a date base a DATE; day-time
        # compounds need the ntz base (DATE + sub-day → tz-aware).
        ym = "YEAR" in second[0][1] or "MONTH" in second[0][1]
        op = "+" if plus else "-"
        return [("code", f"(({_cast_base(ym)}) {op} {second[0][1]})")]
    if second and second[0][0] == "word" and second[0][1].upper() == "INTERVAL":
        unit_tok = second[-1]
        if unit_tok[0] == "word" and unit_tok[1].upper() in _iv.COMPOUND_UNITS:
            # unreachable for LITERAL operands: the inner _rewrite
            # already folded those into the code-token branch above
            # (see the bare-INTERVAL handler).  Reaching here means a
            # non-literal operand — the reference parses the operand
            # STRING per row with getNumbers, and a column operand has
            # no MySQL-exact Spark rewrite, so refuse rather than guess.
            raise DialectError(
                f"{name}: compound INTERVAL {unit_tok[1].upper()} needs "
                "a literal operand"
            )
        spec = _INTERVAL_UNITS.get(unit_tok[1].upper()) if unit_tok[0] == "word" else None
        if spec is None:
            raise DialectError(f"{name}: unsupported INTERVAL unit {unit_tok[1]!r}")
        mult, unit = spec
        date_only = unit in ("DAY", "MONTH", "YEAR")  # WEEK/QUARTER normalize here
        b = _cast_base(date_only)
        qty = second[1:-1]
        op = "+" if plus else "-"
        # literal operand detection covers the SIGNED (-1.5), QUOTED
        # ('1.5') and e-notation (15e-1) forms, not just a bare number
        # token — each used to bypass MySQL's round-to-integer rule
        # for whole units (or crash Spark's typed-literal parser)
        qtext = render(qty).strip().replace(" ", "")
        if len(qty) == 1 and qty[0][0] == "string":
            qtext = _unquote(qty[0][1]).strip()
        if _re.fullmatch(
            r"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?", qtext
        ):
            import decimal as _dec

            val = _dec.Decimal(qtext)
            if unit != "SECOND":
                # MySQL ROUNDS a fractional operand for whole units
                # (INTERVAL 1.5 DAY = 2 days, half away from zero);
                # Spark's typed literal rejects the fraction outright.
                # SECOND keeps its fraction (real microseconds).
                val = val.quantize(
                    _dec.Decimal(1), rounding=_dec.ROUND_HALF_UP
                )
            num = format(val, "f")  # plain render, no exponent
            if mult == 1:
                ival = f"INTERVAL {num} {unit}"
                return [("code", f"(({b}) {op} {ival})")]
            qty = [("number", num)]
        n = render(qty).strip()
        n = f"({n}) * {mult}" if mult != 1 else f"({n})"
        ival = f"({n}) * INTERVAL '1' {unit}"
        expr = f"(({b}) {op} {ival})"
        if bare_date and unit == "DAY":
            # a multiplied day-time interval widens to sub-day
            # granularity, so DATE + it comes back tz-aware — re-pin
            # the date-only result (whole days never leave midnight)
            expr = f"CAST({expr} AS DATE)"
        return [("code", expr)]
    fn = "date_add" if plus else "date_sub"
    return [("code", f"{fn}({base}, {render(args[1]).strip()})")]

#: GET_FORMAT lookup — the shared table in functions/mysql_format.py
#: (ref func_get_format.cpp), same copy the registry builder reads.
_GET_FORMAT_TABLE = GET_FORMAT_TABLE


def _get_format_func(inner: list[Token]) -> list[Token] | None:
    """``GET_FORMAT(DATE|TIME|DATETIME|TIMESTAMP, region)`` — the first
    operand is a bare keyword (never an expression), which Spark's
    parser can't see as a function argument, so the whole call folds
    here: literal regions fold to the format-string literal, expression
    regions to a CASE over the five known regions (unknown → NULL,
    MySQL's behavior).  Ref func_get_format.cpp, funcexp.cpp:119."""
    args = _split_args(inner)
    if len(args) != 2:
        return None
    kind_toks = [t for t in args[0] if t[0] not in ("ws", "comment")]
    if len(kind_toks) != 1 or kind_toks[0][0] != "word":
        return None
    kind = kind_toks[0][1].lower()
    if kind == "timestamp":  # MySQL: GET_FORMAT(TIMESTAMP, x) ≡ DATETIME
        kind = "datetime"
    if kind not in ("date", "time", "datetime"):
        return None
    reg_toks = [t for t in args[1] if t[0] not in ("ws", "comment")]
    if len(reg_toks) == 1 and reg_toks[0][0] == "string":
        std = _unquote(reg_toks[0][1]).lower()
        pat = _GET_FORMAT_TABLE.get((kind, std))
        return [("code", _sql_str(pat) if pat else "CAST(NULL AS STRING)")]
    r = "upper(trim(" + render(args[1]).strip() + "))"
    cases = " ".join(
        f"WHEN '{std.upper()}' THEN {_sql_str(pat)}"
        for (k, std), pat in _GET_FORMAT_TABLE.items()
        if k == kind
    )
    return [("code", f"(CASE {r} {cases} END)")]


def _extract_func(inner: list[Token]) -> list[Token] | None:
    """``EXTRACT(<field> FROM <expr>)`` — compound fields return the
    reference's packed integers (``utils/funcexp/func_extract.cpp:
    68-86``: DAY_HOUR → day*100+hour, …); EXTRACT(WEEK) uses MySQL week
    mode 0 (``calc_mysql_week(y,m,d,0)``, func_extract.cpp:79) where
    Spark's native extract would give ISO.  Single units return None
    and pass through to Spark's extract unchanged."""
    code = [(j, t) for j, t in enumerate(inner) if t[0] not in ("ws", "comment")]
    if len(code) < 3 or code[0][1][0] != "word":
        return None
    if code[1][1][0] != "word" or code[1][1][1].upper() != "FROM":
        return None
    field = code[0][1][1].upper()
    expr = render(inner[code[1][0] + 1 :]).strip()
    if field in _iv.EXTRACT_PACKED:
        body = _iv.EXTRACT_PACKED[field].format(x="e_")
        bound = _bind1(f"CAST(({expr}) AS TIMESTAMP)", "e_", f"({body})")
        return [("code", f"CAST({bound} AS BIGINT)")]
    if field == "WEEK":
        return [("code", _week_sql(f"(CAST(({expr}) AS TIMESTAMP))", 0))]
    if field == "MICROSECOND":
        # MySQL extracts the fractional-second field; Spark's native
        # extract has no MICROSECOND
        return [(
            "code",
            f"CAST(unix_micros(CAST(({expr}) AS TIMESTAMP)) % 1000000"
            f" AS INT)",
        )]
    return None


_FMT_FUNCS = {"DATE_FORMAT": "date_format", "TIME_FORMAT": "date_format",
              "STR_TO_DATE": "to_timestamp"}


def _next_code(toks: list[Token], i: int) -> int | None:
    while i < len(toks) and toks[i][0] in ("ws", "comment"):
        i += 1
    return i if i < len(toks) else None


def _match_paren(toks: list[Token], open_i: int) -> int:
    depth = 0
    for i in range(open_i, len(toks)):
        if toks[i] == ("sym", "("):
            depth += 1
        elif toks[i] == ("sym", ")"):
            depth -= 1
            if depth == 0:
                return i
    raise DialectError("unbalanced parentheses")


def _split_args(toks: list[Token]) -> list[list[Token]]:
    args: list[list[Token]] = [[]]
    depth = 0
    for tok in toks:
        if tok == ("sym", "("):
            depth += 1
        elif tok == ("sym", ")"):
            depth -= 1
        if tok == ("sym", ",") and depth == 0:
            args.append([])
        else:
            args[-1].append(tok)
    return args


def _arg_text(toks: list[Token]) -> str:
    return "(" + render(toks).strip() + ")"


def _group_concat(inner: list[Token]) -> list[Token]:
    first = _next_code(inner, 0)
    distinct = ""
    if first is not None and inner[first][0] == "word" and inner[first][1].upper() == "DISTINCT":
        distinct = "DISTINCT "
        inner = inner[first + 1 :]
    depth, order_i, sep_i = 0, None, None
    for i, (k, t) in enumerate(inner):
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            depth -= 1
        elif depth == 0 and k == "word":
            u = t.upper()
            if u == "ORDER" and order_i is None:
                order_i = i
            elif u == "SEPARATOR" and sep_i is None:
                sep_i = i
    expr_end = min(x for x in (order_i, sep_i, len(inner)) if x is not None)
    expr_args = _split_args(inner[:expr_end])
    # GROUP_CONCAT(a, '-', b) concatenates per row in MySQL
    expr = (
        "concat(" + ", ".join(render(a).strip() for a in expr_args) + ")"
        if len(expr_args) > 1
        else render(inner[:expr_end]).strip()
    )
    order = (
        render(inner[order_i : sep_i if sep_i is not None else len(inner)]).strip()
        if order_i is not None
        else None
    )
    sep = render(inner[sep_i + 1 :]).strip() if sep_i is not None else "','"
    text = f"listagg({distinct}{expr}, {sep})"
    if order:
        text += f" WITHIN GROUP ({order})"
    return [("code", text)]


def _trim_func(inner: list[Token]) -> list[Token] | None:
    """``TRIM([BOTH|LEADING|TRAILING] remstr FROM str)`` with a
    MULTI-CHARACTER remstr: MySQL removes repeated occurrences of the
    full STRING (TRIM(TRAILING 'xyz' FROM 'barxxyz') = 'barx'), while
    Spark's native TRIM reads a multi-char trim string as a character
    SET ('bar').  Rewritten to regexp_replace with a literal-escaped
    pattern; the single-char and plain-whitespace forms keep Spark's
    native TRIM (identical semantics there).  None → pass through."""
    codes = [t for t in inner if t[0] not in ("ws", "comment")]
    if len(codes) < 4 or codes[0][0] != "word":
        return None
    mode = codes[0][1].upper()
    if mode not in ("BOTH", "LEADING", "TRAILING"):
        return None
    if codes[1][0] != "string":
        return None
    if codes[2][0] != "word" or codes[2][1].upper() != "FROM":
        return None
    rem = _unquote(codes[1][1])
    if len(rem) <= 1:
        return None
    # operand = everything after the depth-0 FROM in the raw stream
    depth, from_i, seen_str = 0, None, False
    for idx, t in enumerate(inner):
        if t == ("sym", "("):
            depth += 1
        elif t == ("sym", ")"):
            depth -= 1
        elif depth == 0 and t[0] == "string":
            seen_str = True
        elif (
            depth == 0 and seen_str and t[0] == "word"
            and t[1].upper() == "FROM"
        ):
            from_i = idx
            break
    if from_i is None:
        return None
    operand = "(" + render(inner[from_i + 1 :]).strip() + ")"
    esc = "".join("\\" + c if c in "\\.^$*+?()[]{}|" else c for c in rem)
    lead = _sql_str(f"^(?:{esc})+")
    trail = _sql_str(f"(?:{esc})+$")
    if mode == "LEADING":
        body = f"regexp_replace({operand}, {lead}, '')"
    elif mode == "TRAILING":
        body = f"regexp_replace({operand}, {trail}, '')"
    else:
        body = (
            f"regexp_replace(regexp_replace({operand}, {lead}, ''),"
            f" {trail}, '')"
        )
    return [("code", f"({body})")]


def _fmt_func(name: str, inner: list[Token]) -> list[Token]:
    args = _split_args(inner)
    if len(args) != 2:
        raise DialectError(f"{name} expects 2 arguments")
    fmt_toks = [t for t in args[1] if t[0] not in ("ws", "comment")]
    if len(fmt_toks) != 1 or fmt_toks[0][0] != "string":
        raise DialectError(f"{name}: format must be a string literal to translate")
    fmt = _unquote(fmt_toks[0][1])
    if name == "STR_TO_DATE":
        # MySQL STR_TO_DATE parses with a LENIENT format scan
        # (func_str_to_date.cpp accepts 1-2 digit numeric fields and
        # month names) and returns NULL on unparseable input:
        # try_to_timestamp (to_timestamp raises under ANSI) parsed in
        # the UTC session zone, then re-typed by the format's fields —
        # time tokens → zoneless DATETIME (TIMESTAMP_NTZ,
        # field-preserving under session tz = UTC), date-only format →
        # DATE.  Same shape as the registry's str_to_date builder.
        try:
            pattern = mysql_parse_format_to_spark(fmt)
        except ValueError as ex:
            raise DialectError(
                f"{name}: {ex} — use the Column-level registry builder"
                " for composed tokens"
            ) from ex
        target = "TIMESTAMP_NTZ" if mysql_format_has_time(fmt) else "DATE"
        # input-side whitespace normalization from the SAME constant
        # the registry builder iterates (MYSQL_PARSE_INPUT_NORM) so the
        # two paths can't drift; _sql_str itself doubles backslashes
        # for Spark's escape-processing string literals
        norm = f"trim(CAST(({render(args[0]).strip()}) AS STRING))"
        for pat, rep in MYSQL_PARSE_INPUT_NORM:
            norm = f"regexp_replace({norm}, {_sql_str(pat)}, {_sql_str(rep)})"
        text = (
            f"try_cast(try_to_timestamp({norm},"
            f" {_sql_str(pattern)}) AS {target})"
        )
        return [("code", text)]
    if name == "TIME_FORMAT":
        # shared pairwise token scan + token set (mysql_format.py): a
        # '%%' escape must not leak its following literal into the
        # gate, and a LITERAL-ONLY format still takes the TIME path
        # (date_format would NULL a >24 h TIME operand) — both exactly
        # like the registry twin
        if not (mysql_format_tokens(fmt) - MYSQL_TIME_FORMAT_TOKENS):
            return [(
                "code",
                _time_format_sql(f"({render(args[0]).strip()})", fmt),
            )]
    try:
        pattern = mysql_datetime_format_to_spark(fmt)
    except ValueError as ex:
        if name in ("DATE_FORMAT", "TIME_FORMAT"):
            # composed tokens (%D %U %u %V %v %X %x %w) — expression
            # composition in SQL text, same semantics as the registry's
            # Column builder (date_format_mysql).
            return [("code", _compose_date_format(f"({render(args[0]).strip()})", fmt))]
        raise DialectError(
            f"{name}: {ex} — use the Column-level registry builder for composed tokens"
        ) from ex
    text = f"{_FMT_FUNCS[name]}({render(args[0]).strip()}, {_sql_str(pattern)})"
    return [("code", text)]


# Week-token building blocks for _compose_date_format, as Spark SQL
# text over a (parenthesized) date expression {x}.  MySQL WEEK() mode
# semantics (ref utils/funcexp/func_week.cpp, func_date_format.cpp):
#   %U = mode 0: Sunday-first, 00-53, week 1 starts at the year's first
#        Sunday (_calc_week: mode 0 xor 4 → first_weekday rule);
#   %u = mode 1: Monday-first, 00-53, week 1 = first week with >3 days
#        in the year, i.e. the week containing Jan 4;
#   %V/%X = mode 2 week/week-year: Sunday-first analog of ISO — the
#        Sunday starting a week fixes its year, weeks count from that
#        year's first Sunday, never 0;
#   %v/%x = mode 3: ISO (Spark weekofyear / extract(YEAROFWEEK)).
_SQL_FIRST_SUNDAY = (
    "date_add(trunc({d}, 'YEAR'), (7 - (dayofweek(trunc({d}, 'YEAR')) - 1)) % 7)"
)
_SQL_WEEK1_MONDAY = (
    "date_sub(make_date(year({x}), 1, 4),"
    " (dayofweek(make_date(year({x}), 1, 4)) + 5) % 7)"
)
_SQL_WEEK_FROM = (
    "CASE WHEN datediff({x}, {start}) < 0 THEN '00'"
    " ELSE lpad(cast(cast(floor(datediff({x}, {start}) / 7) AS INT) + 1"
    " AS STRING), 2, '0') END"
)
_SQL_SUNDAY_OF = "date_sub({x}, dayofweek({x}) - 1)"


def _week_sql(x: str, mode: int) -> str:
    """MySQL ``WEEK(x, mode)`` as Spark SQL text (modes 0-3; the
    WEEK-mode ↔ DATE_FORMAT-token correspondence is documented at
    ``_compose_date_format``)."""
    if mode == 0:
        fs = _SQL_FIRST_SUNDAY.format(d=x)
        return (
            f"CASE WHEN datediff({x}, {fs}) < 0 THEN 0"
            f" ELSE cast(floor(datediff({x}, {fs}) / 7) AS INT) + 1 END"
        )
    if mode == 1:
        w1m = _SQL_WEEK1_MONDAY.format(x=x)
        return (
            f"CASE WHEN datediff({x}, {w1m}) < 0 THEN 0"
            f" ELSE cast(floor(datediff({x}, {w1m}) / 7) AS INT) + 1 END"
        )
    if mode == 2:
        ws = _SQL_SUNDAY_OF.format(x=x)
        fs2 = _SQL_FIRST_SUNDAY.format(d=f"({ws})")
        return f"(cast(floor(datediff({ws}, {fs2}) / 7) AS INT) + 1)"
    if mode == 3:
        return f"weekofyear({x})"
    raise DialectError(f"WEEK mode {mode} is not supported (modes 0-3)")


def _week_func(name: str, inner: list[Token]) -> list[Token]:
    """``WEEK(x[, mode])`` / ``YEARWEEK(x[, mode])`` — Spark has no
    WEEK function; expand to the composed SQL (ref func_week.cpp).
    YEARWEEK forces week-year semantics, so modes {0,2} and {1,3}
    coincide (week never 0; the year shifts with the week)."""
    args = _split_args(inner)
    if len(args) not in (1, 2):
        raise DialectError(f"{name} expects 1 or 2 arguments")
    x = f"({render(args[0]).strip()})"
    mode = 0
    if len(args) == 2:
        m_toks = [t for t in args[1] if t[0] not in ("ws", "comment")]
        if len(m_toks) != 1 or m_toks[0][0] != "number":
            raise DialectError(f"{name}: mode must be an integer literal")
        mode = int(m_toks[0][1])
    if name == "WEEK":
        return [("code", _week_sql(x, mode))]
    if mode in (0, 2):
        ws = _SQL_SUNDAY_OF.format(x=x)
        return [("code", f"(year({ws}) * 100 + {_week_sql(x, 2)})")]
    if mode in (1, 3):
        return [("code", f"(extract(YEAROFWEEK FROM {x}) * 100 + weekofyear({x}))")]
    raise DialectError(f"YEARWEEK mode {mode} is not supported (modes 0-3)")


def _compose_date_format(x: str, fmt: str) -> str:
    """DATE_FORMAT with composed tokens as a concat() of SQL pieces."""
    pieces: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            s = "".join(lit)
            if "%" in s:
                # chunked: adjacent tokens like %e%d render as separate
                # date_format calls (a merged 'ddd' is ONE 3-digit field)
                pieces.extend(
                    f"date_format({x}, {_sql_str(ch)})"
                    for ch in mysql_datetime_format_to_spark_chunks(s)
                )
            else:
                pieces.append(_sql_str(s))
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i + 1]
            if tok in "DUuVvXxw":
                flush()
                if tok == "w":
                    pieces.append(f"cast(dayofweek({x}) - 1 AS STRING)")
                elif tok == "U":
                    fs = _SQL_FIRST_SUNDAY.format(d=x)
                    pieces.append(_SQL_WEEK_FROM.format(x=x, start=fs))
                elif tok == "u":
                    w1m = _SQL_WEEK1_MONDAY.format(x=x)
                    pieces.append(_SQL_WEEK_FROM.format(x=x, start=w1m))
                elif tok in "VX":
                    ws = _SQL_SUNDAY_OF.format(x=x)
                    if tok == "V":
                        fs2 = _SQL_FIRST_SUNDAY.format(d=f"({ws})")
                        pieces.append(
                            f"lpad(cast(cast(floor(datediff({ws}, {fs2}) / 7) AS INT)"
                            " + 1 AS STRING), 2, '0')"
                        )
                    else:
                        pieces.append(f"lpad(cast(year({ws}) AS STRING), 4, '0')")
                elif tok == "v":
                    pieces.append(f"lpad(cast(weekofyear({x}) AS STRING), 2, '0')")
                elif tok == "x":
                    pieces.append(
                        f"lpad(cast(extract(YEAROFWEEK FROM {x}) AS STRING), 4, '0')"
                    )
                elif tok == "D":
                    d = f"dayofmonth({x})"
                    pieces.append(
                        f"concat(cast({d} AS STRING),"
                        f" CASE WHEN {d} % 100 IN (11, 12, 13) THEN 'th'"
                        f" WHEN {d} % 10 = 1 THEN 'st'"
                        f" WHEN {d} % 10 = 2 THEN 'nd'"
                        f" WHEN {d} % 10 = 3 THEN 'rd' ELSE 'th' END)"
                    )
                i += 2
                continue
            lit.append(fmt[i]); lit.append(tok)
            i += 2
        else:
            lit.append(fmt[i]); i += 1
    flush()
    return "concat(" + ", ".join(pieces) + ")" if len(pieces) > 1 else pieces[0]


def _limit(toks: list[Token], i: int) -> tuple[int, list[Token]] | None:
    """LIMIT <n> , <m>  →  LIMIT m OFFSET n (only fires on that shape)."""
    a = _next_code(toks, i + 1)
    if a is None or toks[a][0] != "number":
        return None
    comma = _next_code(toks, a + 1)
    if comma is None or toks[comma] != ("sym", ","):
        return None
    b = _next_code(toks, comma + 1)
    if b is None or toks[b][0] != "number":
        return None
    return b + 1, [("code", f"LIMIT {toks[b][1]} OFFSET {toks[a][1]}")]


#: MySQL SELECT options accepted (and dropped/normalized) right after
#: SELECT — mysqld's select_option_list surface.
_SELECT_MODIFIERS = frozenset(
    {"STRAIGHT_JOIN", "SQL_NO_CACHE", "SQL_CACHE", "SQL_CALC_FOUND_ROWS",
     "HIGH_PRIORITY", "SQL_SMALL_RESULT", "SQL_BIG_RESULT",
     "SQL_BUFFER_RESULT", "DISTINCTROW"}
)


#: Charset introducers MySQL allows before string literals
#: (`_utf8'abc'`); the reference's mysqld front end resolves them to a
#: collation, which Spark strings don't carry — dropped, except
#: `_binary` which keeps its binary-string semantics via a cast.
_CHARSET_INTRODUCERS = frozenset(
    {"_utf8", "_utf8mb3", "_utf8mb4", "_latin1", "_ascii", "_ucs2",
     "_utf16", "_utf16le", "_utf32", "_gbk", "_big5", "_binary"}
)


_ARITH_SYMS = frozenset({"+", "-", "*", "/", "%"})


def _is_arith_op(toks: list[Token], j: int | None) -> bool:
    """toks[j] is an arithmetic operator (sym or DIV/MOD keyword) — the
    ONE shared spelling for every numeric-context fold below (three
    hand-rolled copies had already drifted: the cmp-side copy lost the
    unary-sign skip its hex sibling carried)."""
    return j is not None and (
        (toks[j][0] == "sym" and toks[j][1] in _ARITH_SYMS)
        or (toks[j][0] == "word" and toks[j][1].upper() in ("DIV", "MOD"))
    )


def _cmp_adjacent_number(toks: list[Token], j: int | None, forward: bool) -> bool:
    """toks[j] is a comparison sym whose operand beyond it starts (when
    forward — a unary +/- sign is skipped) or ends with a NUMBER
    literal: the other side is provably numeric, so MySQL's double
    coercion of THIS side is certain."""
    if j is None or toks[j][0] != "sym" or toks[j][1] not in _CMP_OPS:
        return False
    k = _next_code(toks, j + 1) if forward else _prev_code(toks, j)
    if k is None:
        return False
    if forward and toks[k][0] == "sym" and toks[k][1] in ("-", "+"):
        k = _next_code(toks, k + 1)
        if k is None:
            return False
    return toks[k][0] == "number"


def _hex_numeric_context(toks: list[Token], start: int, end: int) -> bool:
    """True when the hex/bit literal spanning toks[start:end+1] sits in
    a syntactically NUMERIC context, where MySQL reads the literal as
    an integer: an arithmetic operator (or DIV/MOD keyword) directly on
    either side, or a comparison whose OTHER operand is a numeric
    literal (`0x41 = 65` → 1).  Elsewhere it stays a binary string —
    including comparisons with columns/strings, which MySQL resolves by
    the other operand's runtime type (`X'41' = 'A'` is a binary string
    compare; folding to 65 would silently break it)."""
    p = _prev_code(toks, start)
    if _is_arith_op(toks, p):
        return True
    n = _next_code(toks, end + 1)
    if _is_arith_op(toks, n):
        return True
    return (
        _cmp_adjacent_number(toks, p, forward=False)
        or _cmp_adjacent_number(toks, n, forward=True)
    )


def _bits_to_hex(bits: str) -> str:
    """MySQL bit literal (b'1010' / 0b1010) → Spark hex binary literal:
    left-pad to whole bytes, x'0A'."""
    if not bits:
        return "x''"
    v = int(bits, 2)
    n_bytes = max((len(bits) + 7) // 8, 1)
    return "x'" + v.to_bytes(n_bytes, "big").hex().upper() + "'"


# ------------------------------------- MySQL boolean-context truthiness
#
# mysqld accepts ANY expression in a boolean context and coerces it
# through Item::val_bool — decimal/float/int `!= 0`, string via an
# atoi-style prefix parse `!= 0` (the reference replicates this in
# utils/funcexp/func_if.cpp:38-72 boolVal).  Spark's analyzer rejects a
# non-boolean condition outright (DATATYPE_MISMATCH / FILTER_NOT_
# BOOLEAN), so `WHERE flag`, `IF(2,'y','n')`, `NOT 0.1` and `1 AND 0.5`
# all failed analysis.  This pass rewrites boolean contexts at token
# level BEFORE `_rewrite` (so inner MySQL functions still translate):
#
# - WHERE / HAVING / join-ON spans, searched-CASE WHEN spans, and
#   IF()'s first argument get the full fold;
# - SELECT-list items fold only when they are logical expressions
#   (contain top-level AND/OR or a leading NOT) — `SELECT 0.1` must
#   stay numeric;
# - operands with a depth-0 comparison / LIKE / IN / IS / BETWEEN /
#   EXISTS / RLIKE / REGEXP (CASE..END bodies skipped) are already
#   boolean and pass through untouched — real-world predicates keep
#   their exact shape and Parquet pushdown;
# - numeric and string LITERAL atoms fold to TRUE/FALSE at translate
#   time with MySQL's exact prefix-parse;
# - every other atom wraps in `try_cast((e) AS BOOLEAN)` — Spark casts
#   numerics to boolean by `!= 0` (verified: 0.1→true, 2→true,
#   0/0.0→false, NULL→NULL), and the cast is an identity no-op when
#   the operand was boolean after all, so a detection miss degrades to
#   nothing.  Documented narrowing: a STRING-typed COLUMN in boolean
#   context goes through Spark's boolean-string cast ('1'/'true'…),
#   not MySQL's prefix parse — wrapping columns in a regexp parse
#   would poison every plan for a case no migration corpus hits.

_BOOL_SYMS = frozenset({"=", "<>", "!=", "<", ">", "<=", ">=", "<=>"})
_BOOL_WORDS = frozenset(
    {"LIKE", "RLIKE", "REGEXP", "IN", "IS", "BETWEEN", "EXISTS", "SOUNDS"}
)
#: boolean-returning call names that need no wrap (wrap would be a
#: no-op identity cast anyway; kept narrow on purpose)
_BOOL_FUNCS = frozenset(
    {"ISNULL", "ISNOTNULL", "REGEXP_LIKE", "ARRAY_CONTAINS", "CONTAINS",
     "STARTSWITH", "ENDSWITH", "EXISTS"}
)
_SEL_TERMINATORS = frozenset(
    {"FROM", "UNION", "INTERSECT", "EXCEPT", "ORDER", "LIMIT", "INTO"}
)
_WHERE_TERMINATORS = frozenset(
    {"GROUP", "HAVING", "ORDER", "LIMIT", "WINDOW", "UNION", "INTERSECT",
     "EXCEPT", "INTO", "FOR", "PROCEDURE", "QUALIFY"}
)
_ON_TERMINATORS = _WHERE_TERMINATORS | frozenset(
    {"JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "STRAIGHT_JOIN",
     "NATURAL", "WHERE", "USING", "ON", "SET", "GROUP"}
)
#: leading SELECT modifiers to pass over before the first list item
_SEL_MODIFIERS = frozenset(
    {"DISTINCT", "ALL", "DISTINCTROW", "HIGH_PRIORITY", "STRAIGHT_JOIN",
     "SQL_SMALL_RESULT", "SQL_BIG_RESULT", "SQL_BUFFER_RESULT",
     "SQL_NO_CACHE", "SQL_CACHE", "SQL_CALC_FOUND_ROWS"}
)

_NUM_PREFIX_RE = _re.compile(
    r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"
)


def _fully_numeric_str(s: str) -> bool:
    """The whole string is ONE numeric literal by MYSQL'S lexer.  Not
    Python's float(), which also accepts '1_000', 'nan', 'inf',
    'Infinity' — strings MySQL prefix-parses to 1/0/0/0 but Spark's
    double cast either NULLs or (for nan/inf) reads as non-finite, so
    treating them as 'already coerces correctly' silently diverged."""
    t = s.strip()
    m = _NUM_PREFIX_RE.match(t)
    return m is not None and m.end() == len(t)


def _num_prefix_val(s: str) -> float:
    """MySQL's string→number coercion: longest numeric prefix, else 0
    (the atoll/strtod class, func_cast.cpp:144)."""
    m = _NUM_PREFIX_RE.match(s.strip())
    return float(m.group(0)) if m else 0.0


def _render_num_literal(val: float) -> str:
    """Fold value → SQL literal.  Integral values emit as INT literals:
    MySQL's string→number coercion yields a double whose STRING
    rendering drops the point ('3x'+1 renders '4'), while a Spark
    double literal renders '4.0' — visible in any string context
    (CONCAT('a'+0,'b') must be '0b', not '0.0b').  Non-finite values
    (a '9e999' literal prefix) clamp to MySQL's DBL_MAX behavior —
    repr(inf) is not valid SQL."""
    import math

    if not math.isfinite(val):
        return ("-" if val < 0 else "") + "1.7976931348623157e308"
    if val == int(val) and abs(val) < 2**53:
        return repr(int(val))
    return repr(val)


def _mysql_str_truthy(s: str) -> bool:
    """MySQL string → bool: atoi-style numeric prefix parse, != 0
    (func_if.cpp:62-66; 'abc'→0→false, '1a'→1→true, '0.5x'→0.5→true)."""
    return _num_prefix_val(s) != 0.0


_CMP_OPS = {
    "=": lambda a, b: a == b,
    "<=>": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    ">=": lambda a, b: a >= b,
}


def _fold_numeric_string_cmp(toks: list[Token]) -> list[Token]:
    """MySQL coerces a non-numeric string to its numeric PREFIX when
    compared with a number (`0 = 'abc'` → 1, `1 = '1a'` → 1 — same
    atoll class as the CAST prefix parse, func_cast.cpp:144); Spark
    casts the string to double, gets NULL, and silently drops the row.
    Folded at translate time, scoped to LITERAL-vs-LITERAL only: a
    numeric literal on one side, a string literal that does NOT fully
    parse as a number on the other.  Fully-numeric strings already
    compare correctly through Spark's double coercion, and bare COLUMNS
    are deliberately NOT wrapped in a regexp prefix parse — that would
    kill Parquet pushdown for every string comparison.  Operands
    ADJACENT to a tighter-binding arithmetic operator are also skipped
    (`3 * 2 = 'abc'`, `0 = 'abc' * 2`, `-1 < 'abc'`): the literal is
    then a subexpression operand, not the comparison's operand."""

    def _arith_adjacent(j: int | None) -> bool:
        return j is not None and (
            (toks[j][0] == "sym" and toks[j][1] in
             ("+", "-", "*", "/", "%", "^", "."))
            or (toks[j][0] == "word" and toks[j][1].upper() in ("DIV", "MOD"))
        )

    out: list[Token] = []
    i = 0
    while i < len(toks):
        k, t = toks[i]
        if k == "sym" and t in _CMP_OPS:
            p = _prev_code(toks, i)
            n = _next_code(toks, i + 1)
            lit = None  # (numeric_value, string_value, first, last)
            if p is not None and n is not None:
                if toks[p][0] == "number" and toks[n][0] == "string":
                    lit = (toks[p][1], toks[n][1], p, n)
                elif toks[p][0] == "string" and toks[n][0] == "number":
                    lit = (toks[n][1], toks[p][1], p, n)
                elif toks[p][0] == "string" and toks[n][0] == "sym" \
                        and toks[n][1] in ("-", "+"):
                    n2 = _next_code(toks, n + 1)
                    if n2 is not None and toks[n2][0] == "number" \
                            and not _arith_adjacent(_next_code(toks, n2 + 1)):
                        lit = (toks[n][1] + toks[n2][1], toks[p][1], p, n2)
            if lit is not None and (
                _arith_adjacent(_prev_code(toks, lit[2]))
                or _arith_adjacent(_next_code(toks, lit[3] + 1))
            ):
                lit = None
            if lit is not None:
                num_txt, str_tok, first, last = lit
                try:
                    num_val = float(num_txt)
                except ValueError:
                    num_val = None
                s = _unquote(str_tok)
                if num_val is not None and not _fully_numeric_str(s):
                    s_val = _num_prefix_val(s)
                    left, right = (
                        (num_val, s_val)
                        if toks[first][0] == "number"
                        else (s_val, num_val)
                    )
                    verdict = _CMP_OPS[t](left, right)
                    del out[len(out) - (i - first):]
                    out.extend([
                        ("ws", " "),
                        ("code", "TRUE" if verdict else "FALSE"),
                        ("ws", " "),
                    ])
                    i = last + 1
                    continue
        out.append(toks[i])
        i += 1
    return out


def _fold_string_arith(toks: list[Token]) -> list[Token]:
    """MySQL converts a string operand of +,-,*,/,%,DIV,MOD to DOUBLE by
    numeric-prefix parse (`'3x' + 1` → 4, `'abc' * 2` → 0); Spark's
    cast gives NULL for any non-fully-numeric string, silently NULLing
    the whole expression.  Folds LITERAL strings only (a bare string
    column stays unwrapped — the documented plan-shape trade shared
    with `_fold_numeric_string_cmp`), skips fully-numeric literals
    (Spark already coerces those correctly), and skips date-INTERVAL
    arithmetic (`'2020-01-01' - INTERVAL 1 DAY` is DATE math in MySQL,
    not a 2020−interval subtraction)."""

    out: list[Token] = []
    for i, tok in enumerate(toks):
        k, t = tok
        if k == "string":
            p = _prev_code(toks, i)
            n = _next_code(toks, i + 1)
            # introducer/typed literals are NOT bare strings: X''/B''
            # hex-bit forms, charset introducers (_utf8'…'), and
            # DATE/TIME/TIMESTAMP '…' typed literals keep their string
            introduced = (
                p is not None
                and toks[p][0] == "word"
                and (
                    toks[p][1].upper() in ("X", "B", "N", "DATE", "TIME",
                                           "TIMESTAMP")
                    or toks[p][1].startswith("_")
                )
            )
            # _cmp_adjacent_number: string compared against an
            # expression whose adjacent token is a NUMBER literal
            # (`3 * 2 = 'abc'`, `'abc' = -3 * 2`) — the other side is
            # provably numeric even though the literal-vs-literal cmp
            # fold (which needs the WHOLE side to be one literal)
            # skipped it
            if not introduced and (
                _is_arith_op(toks, p) or _is_arith_op(toks, n)
                or _cmp_adjacent_number(toks, p, forward=False)
                or _cmp_adjacent_number(toks, n, forward=True)
            ):
                s = _unquote(t)
                interval_adjacent = False
                if n is not None and toks[n][0] == "sym" and toks[n][1] in ("+", "-"):
                    n2 = _next_code(toks, n + 1)
                    if n2 is not None and toks[n2][0] == "word" \
                            and toks[n2][1].upper() == "INTERVAL":
                        interval_adjacent = True
                if p is not None and toks[p][0] == "sym" and toks[p][1] in ("+", "-"):
                    p2 = _prev_code(toks, p)
                    # a unit WORD alone is not evidence of interval
                    # math — hour/day/week/... are everyday column
                    # names, and `day - '1h'` must still fold; require
                    # the actual `INTERVAL <quantity> <unit>` chain
                    if p2 is not None and toks[p2][0] == "word" and (
                        toks[p2][1].upper() == "INTERVAL"
                        or (toks[p2][1].upper() in _INTERVAL_UNITS
                            and _interval_chain_before(toks, p2))
                    ):
                        interval_adjacent = True
                if not _fully_numeric_str(s) and not interval_adjacent:
                    out.append(("code", _render_num_literal(_num_prefix_val(s))))
                    continue
        out.append(tok)
    return out


def _interval_chain_before(toks: list[Token], unit_idx: int) -> bool:
    """True when the unit word at ``unit_idx`` closes an actual
    ``INTERVAL <quantity> <unit>`` chain.  The quantity is an arbitrary
    bounded expression (``INTERVAL 1+1 DAY``, ``INTERVAL t.n DAY``,
    ``INTERVAL FLOOR(2.5) HOUR``), so the scan walks back over
    expression tokens — atoms, arithmetic syms, dots, balanced paren
    groups — until it reaches INTERVAL (chain confirmed), an
    expression boundary (a comma/semicolon/unbalanced paren or a
    clause/logical keyword — no chain), or a depth cap."""
    j = _prev_code(toks, unit_idx)
    for _ in range(24):
        if j is None:
            return False
        k, t = toks[j]
        if k == "word":
            u = t.upper()
            if u == "INTERVAL":
                return True
            if u in _BITOP_BOUNDARY_WORDS or u in ("AND", "OR", "NOT"):
                return False
            j = _prev_code(toks, j)
            continue
        if k == "sym":
            if t == ")":
                opener = _bitop_skip_group_left(toks, j)
                if opener is None:
                    return False
                j = _prev_code(toks, opener)
                continue
            if t in ("+", "-", "*", "/", "%", "."):
                j = _prev_code(toks, j)
                continue
            return False
        if k in ("number", "string", "bident", "code"):
            j = _prev_code(toks, j)
            continue
        return False
    return False


# ------------------------------------------- MySQL bitwise operators
#
# The reference implements << >> & | ^ over uint64 (funcexp.cpp:68-72,
# func_bitwise.cpp getUIntValFromParm — every operand through uint64;
# MySQL's result type is BIGINT UNSIGNED).  Spark's operators are
# SIGNED and width-follow-the-operand: `1 << 35` shifts in 32-bit
# (silently wrong for counts 32-63), `>>` is an arithmetic shift
# (uint64(-1) >> 60 must be 15, not -1), and `1 << 63` displays as a
# negative.  This pass rewrites each bit-op usage into an explicit
# fragment computing in 64-bit with a logical right shift, the MySQL
# count rule (count outside 0-63 → 0), and the engine's BIGINT-
# UNSIGNED stand-in DECIMAL(20,0) (the CAST AS UNSIGNED type).
#
# Operand extents follow MYSQL precedence (^ > * / DIV % MOD > + - >
# << >> > & > |), scanned token-wise with paren/bracket/CASE..END
# group skips; processing is highest-level-first, leftmost-first, so
# mixed chains group exactly as mysqld parses them.  The &/|/^
# fragments re-emit their operator INSIDE the binding lambda — on
# re-entry (idempotency) the occurrence is recognized by its left
# operand being exactly the bind variable (the SQRT-guard trick) and
# passed through.  A scan that cannot find a clean operand extent
# (empty side, unsupported adjacent syntax) leaves that occurrence to
# Spark untouched rather than corrupt the statement.
#
# Documented narrowing: a STRING operand goes through try_cast → NULL
# (the reference's getUIntValFromParm reads string parms as 0,
# func_bitwise.cpp:86-99; MySQL prefix-parses) — garbage-string
# operands of bit ops hit neither, but NULL is the visible-not-silent
# choice and string operands of bit math don't appear in migration
# corpora.

#: '->' / '->>' (JSON extraction) bind tighter than every arith op, so
#: a JSON chain stays one operand: doc->>'$.a' & 1 groups the whole
#: extraction on the left
_BITOP_PREC = {
    "^": 90, "~": 85, "*": 80, "/": 80, "%": 80, "+": 70, "-": 70,
    "<<": 60, ">>": 60, "&": 50, "|": 40, "->": 95, "->>": 95,
}
#: '~' is unary bit inversion — ABOVE ^ in MySQL's table (so ~a ^ b is
#: (~a) ^ b; the left scan's prefix-attach handles that) but processed
#: as its own level (its operand is one unary-prefixed primary); the
#: reference FuncMap lacks '~' entirely (it errors), so uint64-exact
#: support here is a strict superset
_BITOP_LEVELS = (("^",), ("~",), ("<<", ">>"), ("&",), ("|",))
#: bind variables anchoring re-entry detection, per op
_BITOP_VARS = {"&": "ba_", "|": "bo_", "^": "bx_", "~": "bn_"}
#: words that terminate an operand extent (clause/logical keywords);
#: DIV/MOD are handled as precedence-80 operators, CASE/END as groups
_BITOP_BOUNDARY_WORDS = frozenset({
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER",
    "LIMIT", "OFFSET", "AND", "OR", "XOR", "NOT", "AS", "ON", "USING",
    "JOIN", "INNER", "OUTER", "CROSS", "NATURAL", "STRAIGHT_JOIN",
    "UNION", "INTERSECT", "EXCEPT", "ALL", "DISTINCT", "DISTINCTROW",
    "WHEN", "THEN", "ELSE", "IN", "IS", "LIKE", "RLIKE", "REGEXP",
    "SOUNDS", "BETWEEN", "ESCAPE", "COLLATE", "INTERVAL", "VALUES",
    "SET", "INTO", "ASC", "DESC", "SEPARATOR", "OVER", "WINDOW",
    "QUALIFY", "FOR", "RETURNING", "WITH",
})
#: words that can never be a function name directly before (...)
_BITOP_NEVER_FN = frozenset({
    "WHEN", "THEN", "ELSE", "AND", "OR", "NOT", "XOR", "IN", "ON",
    "USING", "AS", "SELECT", "WHERE", "FROM", "BY", "HAVING",
    "VALUES", "SET", "BETWEEN", "LIKE",
})
_HEX_TAIL_RE = _re.compile(r"^x[0-9a-fA-F]+$", _re.IGNORECASE)
_BIN_TAIL_RE = _re.compile(r"^b[01]+$", _re.IGNORECASE)


def _bitop_skip_group_left(toks: list[Token], j: int) -> int | None:
    """toks[j] is ')' or ']'; return the matching opener's index."""
    close, open_ = toks[j][1], {")": "(", "]": "["}[toks[j][1]]
    depth = 1
    j -= 1
    while j >= 0:
        if toks[j] == ("sym", close):
            depth += 1
        elif toks[j] == ("sym", open_):
            depth -= 1
            if depth == 0:
                return j
        j -= 1
    return None


def _bitop_skip_group_right(toks: list[Token], j: int) -> int | None:
    """toks[j] is '(' or '['; return the matching closer's index."""
    open_, close = toks[j][1], {"(": ")", "[": "]"}[toks[j][1]]
    depth = 1
    j += 1
    while j < len(toks):
        if toks[j] == ("sym", open_):
            depth += 1
        elif toks[j] == ("sym", close):
            depth -= 1
            if depth == 0:
                return j
        j += 1
    return None


def _bitop_case_left(toks: list[Token], end_idx: int) -> int | None:
    """toks[end_idx] is the word END; index of its matching CASE."""
    depth = 1
    j = end_idx - 1
    while j >= 0:
        if toks[j][0] == "word":
            u = toks[j][1].upper()
            if u == "END":
                depth += 1
            elif u == "CASE":
                depth -= 1
                if depth == 0:
                    return j
        j -= 1
    return None


def _bitop_case_right(toks: list[Token], case_idx: int) -> int | None:
    """toks[case_idx] is the word CASE; index of its matching END."""
    depth = 1
    j = case_idx + 1
    while j < len(toks):
        if toks[j][0] == "word":
            u = toks[j][1].upper()
            if u == "CASE":
                depth += 1
            elif u == "END":
                depth -= 1
                if depth == 0:
                    return j
        j += 1
    return None


def _bitop_left_extent(toks: list[Token], op_idx: int, prec: int) -> int | None:
    """Start index of the left operand of the bit op at op_idx, by
    MySQL precedence; None when no clean extent exists."""
    start: int | None = None
    expect_operand = True
    just_group = False
    j = _prev_code(toks, op_idx)
    while j is not None:
        k, t = toks[j]
        if k == "sym" and t in (")", "]"):
            # expect_operand: an operand group.  Otherwise only the
            # '(...)' a just-consumed postfix '[index]' attaches to
            # (f(x)[0] read leftward) continues the same operand.
            if not expect_operand and not (just_group and t == ")"):
                break
            opener = _bitop_skip_group_left(toks, j)
            if opener is None:
                return None
            start, j = opener, _prev_code(toks, opener)
            expect_operand, just_group = False, True
            continue
        if k == "sym":
            p = _BITOP_PREC.get(t)
            if t in ("~", "!"):
                # prefix op: attaches to the operand just consumed (or
                # opens the extent when it stands at the edge)
                start, j = j, _prev_code(toks, j)
                continue
            if not expect_operand and t == ".":
                # qualified reference: '.' joins member and qualifier
                # into ONE operand (t.flags & 4 must not split at the
                # dot and strand the 't.' prefix)
                start, j = j, _prev_code(toks, j)
                expect_operand, just_group = True, False
                continue
            if not expect_operand and t in ("-", "+"):
                # unary vs binary sign: MySQL's unary minus binds
                # ABOVE ^, so (-1) ^ 2 takes the sign INTO the operand;
                # a sign preceded by an operand end is binary arith
                p2 = _prev_code(toks, j)
                operand_before = p2 is not None and (
                    toks[p2][0] in ("number", "string", "bident", "code")
                    or (toks[p2][0] == "sym" and toks[p2][1] in (")", "]"))
                    or (toks[p2][0] == "word"
                        and toks[p2][1].upper() not in _BITOP_BOUNDARY_WORDS
                        and toks[p2][1].upper() not in ("DIV", "MOD"))
                )
                if not operand_before:
                    start, j = j, _prev_code(toks, j)
                    continue
                if 70 > prec:
                    start, j = j, _prev_code(toks, j)
                    expect_operand, just_group = True, False
                    continue
                break
            if not expect_operand and p is not None and p > prec:
                start, j = j, _prev_code(toks, j)
                expect_operand, just_group = True, False
                continue
            if expect_operand and t in ("-", "+"):
                # unary sign at the extent's edge (boundary follows)
                start, j = j, _prev_code(toks, j)
                continue
            break
        if k == "word":
            u = t.upper()
            if u == "END":
                if not expect_operand:
                    break
                case_i = _bitop_case_left(toks, j)
                if case_i is None:
                    return None
                start, j = case_i, _prev_code(toks, case_i)
                expect_operand, just_group = False, False
                continue
            if u in ("DIV", "MOD"):
                if expect_operand or 80 <= prec:
                    break
                start, j = j, _prev_code(toks, j)
                expect_operand, just_group = True, False
                continue
            if u == "OVER":
                # what was consumed so far is a window spec (paren
                # group or named window), not an operand — no clean
                # extent exists; leave this occurrence to Spark rather
                # than corrupt it
                return None
            if u in _BITOP_BOUNDARY_WORDS:
                break
            if expect_operand:
                start, j = j, _prev_code(toks, j)
                expect_operand, just_group = False, False
                continue
            if just_group and u not in _BITOP_NEVER_FN:
                # function name directly before its argument list
                start, j = j, _prev_code(toks, j)
                just_group = False
                continue
            break
        if k in ("number", "string", "bident", "code"):
            if expect_operand:
                start, j = j, _prev_code(toks, j)
                expect_operand, just_group = False, False
                continue
            # number '0' completing a 0xNN/0bNN pair, or an introducer
            # word's string — handled by the pair checks below
            if k == "number" and t == "0" and start is not None \
                    and toks[start][0] == "word" \
                    and (_HEX_TAIL_RE.match(toks[start][1])
                         or _BIN_TAIL_RE.match(toks[start][1])) \
                    and start == j + 1:
                start, j = j, _prev_code(toks, j)
                continue
            break
        break
    if start is None:
        return None
    # absorb a charset/typed introducer directly before a string start
    if toks[start][0] == "string":
        p = _prev_code(toks, start)
        if p is not None and toks[p][0] == "word" and (
            toks[p][1].upper() in ("X", "B", "N", "_BINARY")
            or toks[p][1].startswith("_")
        ) and p == start - 1:
            start = p
    return start


def _bitop_right_extent(toks: list[Token], op_idx: int, prec: int) -> int | None:
    """End index of the right operand of the bit op at op_idx."""
    end: int | None = None
    expect_operand = True
    j = _next_code(toks, op_idx + 1)
    while j is not None:
        k, t = toks[j]
        if k == "sym" and t in ("(", "["):
            if expect_operand and t == "[":
                break
            closer = _bitop_skip_group_right(toks, j)
            if closer is None:
                return None
            end, j = closer, _next_code(toks, closer + 1)
            expect_operand = False
            continue
        if k == "sym":
            p = _BITOP_PREC.get(t)
            if expect_operand and t in ("-", "+", "~", "!"):
                j = _next_code(toks, j + 1)
                continue
            if not expect_operand and t == ".":
                # qualified reference (1 & t.flags): the dot joins the
                # qualifier already consumed with the member ahead
                j = _next_code(toks, j + 1)
                expect_operand = True
                continue
            if not expect_operand and p is not None and p > prec:
                j = _next_code(toks, j + 1)
                expect_operand = True
                continue
            break
        if k == "word":
            u = t.upper()
            if u == "CASE":
                if not expect_operand:
                    break
                end_i = _bitop_case_right(toks, j)
                if end_i is None:
                    return None
                end, j = end_i, _next_code(toks, end_i + 1)
                expect_operand = False
                continue
            if u in ("DIV", "MOD"):
                if expect_operand or 80 <= prec:
                    break
                j = _next_code(toks, j + 1)
                expect_operand = True
                continue
            if u == "OVER" and not expect_operand:
                # the operand just consumed is a window FUNCTION call —
                # splitting it from its OVER clause would corrupt the
                # statement; bail and leave this occurrence to Spark
                return None
            if u in _BITOP_BOUNDARY_WORDS:
                break
            if expect_operand:
                end, j = j, _next_code(toks, j + 1)
                expect_operand = False
                continue
            # xNN/bNN word completing an adjacent 0xNN/0bNN pair
            if end is not None and toks[end] == ("number", "0") \
                    and end == j - 1 and (_HEX_TAIL_RE.match(t)
                                          or _BIN_TAIL_RE.match(t)):
                end, j = j, _next_code(toks, j + 1)
                continue
            break
        if k in ("number", "string", "bident", "code"):
            if expect_operand:
                end, j = j, _next_code(toks, j + 1)
                expect_operand = False
                continue
            # string completing an adjacent introducer word (X'0a')
            if k == "string" and end is not None \
                    and toks[end][0] == "word" and end == j - 1 and (
                        toks[end][1].upper() in ("X", "B", "N")
                        or toks[end][1].startswith("_")):
                end, j = j, _next_code(toks, j + 1)
                continue
            break
        break
    return end


def _bitop_literal_int(text: str) -> str | None:
    """When an operand extent IS a single hex/bit literal, fold it to
    its integer value — inside a bit op the context is certainly
    numeric (mysqld reads hex literals as numbers there), and the
    generic hex pass can no longer see the adjacency once the operator
    token is gone."""
    t = text.strip()
    m = _re.fullmatch(r"0x([0-9a-fA-F]+)", t)
    if m:
        return str(int(m.group(1), 16))
    m = _re.fullmatch(r"0b([01]+)", t)
    if m:
        return str(int(m.group(1), 2))
    m = _re.fullmatch(r"[xX]'([0-9a-fA-F]*)'", t)
    if m:
        return str(int(m.group(1), 16)) if m.group(1) else "0"
    m = _re.fullmatch(r"[bB]'([01]*)'", t)
    if m:
        return str(int(m.group(1), 2)) if m.group(1) else "0"
    return None


_UNSIGNED_RENDER_BODY = (
    "(CASE WHEN bu_ < 0"
    " THEN CAST(bu_ + 18446744073709551616 AS DECIMAL(20,0))"
    " ELSE CAST(bu_ AS DECIMAL(20,0)) END)"
)


def _bitop_in64_toks(oper: list[Token]) -> list[Token]:
    """Operand tokens → fragment tokens for its int64 BIT PATTERN.
    Goes through DECIMAL(38,0) with the (2^63, 2^64-1] wrap (the
    SIGNED-cast recipe above) so a CHAINED bit op's own DECIMAL(20,0)
    result — or a uint64-sized literal — wraps to its bit pattern
    instead of NULLing in a bigint try_cast ((1 << 63) << 1 must be 0,
    not NULL); the decimal cast also rounds doubles to nearest like
    the reference's getIntVal.  The operand stays LIVE TOKENS between
    code scaffolding, so `_rewrite` still translates MySQL constructs
    inside it (CAST(x AS UNSIGNED) in a bit-op operand must not reach
    Spark verbatim)."""
    lit = _bitop_literal_int(render(oper))
    if lit is not None:
        oper = [("code", lit)]
    head = "transform(array(try_cast(("
    tail = (
        ") AS DECIMAL(38,0))), bw_ -> "
        "(CASE WHEN bw_ > 9223372036854775807"
        " AND bw_ <= 18446744073709551615"
        " THEN CAST(bw_ - 18446744073709551616 AS BIGINT)"
        " ELSE try_cast(bw_ AS BIGINT) END))[0]"
    )
    return [("code", head)] + list(oper) + [("code", tail)]


def _bitop_fragment_toks(
    op: str, left: list[Token], right: list[Token]
) -> list[Token]:
    """Fragment token list for one rewritten bit-op usage.  The shapes
    mirror _bind1 (transform-over-1-element-array binding); emitted
    wrapped in REAL paren tokens by the caller so later extent scans
    and _rewrite's paren matching see one balanced operand."""
    rf = _bitop_in64_toks(right)
    if op == "~":
        return (
            [("code", "transform(array(")]
            + rf
            + [("code",
                "), bn_ -> transform(array((~ bn_)), bu_ -> "
                + _UNSIGNED_RENDER_BODY + ")[0])[0]")]
        )
    lf = _bitop_in64_toks(left)
    if op in ("&", "|", "^"):
        var = _BITOP_VARS[op]
        return (
            [("code", "transform(array(")]
            + lf
            + [("code", f"), {var} -> transform(array(({var} {op} ")]
            + rf
            + [("code",
                ")), bu_ -> " + _UNSIGNED_RENDER_BODY + ")[0])[0]")]
        )
    fn = "shiftleft" if op == "<<" else "shiftrightunsigned"
    shifted = (
        "transform(array(" + fn + "(bv_, CAST(bs_ AS INT))), bu_ -> "
        + _UNSIGNED_RENDER_BODY + ")[0]"
    )
    body = (
        "(CASE WHEN bs_ IS NULL OR bv_ IS NULL"
        " THEN CAST(NULL AS DECIMAL(20,0))"
        " WHEN bs_ < 0 OR bs_ > 63 THEN CAST(0 AS DECIMAL(20,0))"
        " ELSE " + shifted + " END)"
    )
    return (
        [("code", "transform(array(")]
        + rf
        + [("code", "), bs_ -> transform(array(")]
        + lf
        + [("code", f"), bv_ -> {body})[0])[0]")]
    )


def _rewrite_bit_ops(toks: list[Token]) -> list[Token]:
    """Rewrite << >> & | ^ usages into the uint64 fragments above —
    highest precedence level first, leftmost first, restarting after
    every rewrite so mixed chains group exactly as mysqld parses."""
    guard_vars = frozenset(_BITOP_VARS.values())
    changed = True
    while changed:
        changed = False
        for level in _BITOP_LEVELS:
            prec = _BITOP_PREC[level[0]]
            i = 0
            while i < len(toks):
                k, t = toks[i]
                if k != "sym" or t not in level:
                    i += 1
                    continue
                # operand slices are rewritten RECURSIVELY before
                # rendering, so an emitted fragment never embeds a raw
                # target op (a nested `~ 0` or parenthesized `a ^ b`
                # would otherwise re-tokenize on re-entry and rewrite
                # again — breaking translator idempotency)
                if t == "~":
                    # unary: operand is one prefixed primary (prec 95
                    # stops at every binary operator); re-entry shows
                    # as the fragment's own `~ bn_`
                    re_ = _bitop_right_extent(toks, i, 95)
                    if re_ is None:
                        i += 1
                        continue
                    right = render(toks[i + 1 : re_ + 1]).strip()
                    if not right or right in guard_vars:
                        i += 1
                        continue
                    frag = _bitop_fragment_toks(
                        t, [], _rewrite_bit_ops(toks[i + 1 : re_ + 1])
                    )
                    toks = (
                        toks[:i] + [("sym", "(")] + frag + [("sym", ")")]
                        + toks[re_ + 1 :]
                    )
                    changed = True
                    break
                ls = _bitop_left_extent(toks, i, prec)
                re_ = _bitop_right_extent(toks, i, prec)
                if ls is None or re_ is None:
                    i += 1
                    continue
                left = render(toks[ls:i]).strip()
                if left in guard_vars:
                    i += 1  # our own emitted fragment — re-entry
                    continue
                right = render(toks[i + 1 : re_ + 1]).strip()
                if not left or not right:
                    i += 1
                    continue
                frag = _bitop_fragment_toks(
                    t,
                    _rewrite_bit_ops(toks[ls:i]),
                    _rewrite_bit_ops(toks[i + 1 : re_ + 1]),
                )
                toks = (
                    toks[:ls] + [("sym", "(")] + frag + [("sym", ")")]
                    + toks[re_ + 1 :]
                )
                changed = True
                break
            if changed:
                break
    return toks


def _soundex_sql(x: str) -> str:
    """MySQL's EXTENDED soundex as a SQL fragment (doc examples:
    SOUNDEX('Hello') = 'H400', SOUNDEX('Quadratically') = 'Q36324' —
    NOT truncated to 4 like Spark's soundex): letters only, standard
    digit map via translate, adjacent-code collapse BEFORE vowel
    removal, first letter kept, right-padded with '0' to at least 4.
    Spelled without length()/greatest()/rpad() — all three get their
    own MySQL rewrites on re-entry, which would break idempotency;
    char_length/repeat/translate pass through untouched."""
    rest = _bind1(
        "regexp_replace(translate(sd_, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        " '01230120022455012623010202'), '(.)\\\\1+', '$1')",
        "sc_",
        "regexp_replace(substring(sc_, 2), '0', '')",
    )
    core = f"concat(substring(sd_, 1, 1), {rest})"
    padded = _bind1(
        core, "sp_",
        "concat(sp_, repeat('0', 4 - char_length(sp_)))",
    )
    body = f"(CASE WHEN sd_ = '' THEN '' ELSE {padded} END)"
    return _bind1(f"regexp_replace(upper(({x})), '[^A-Z]', '')", "sd_", body)


_TEMPLATES["SOUNDEX"] = _soundex_sql("{0}")


def _soundex_frag_toks(oper: list[Token]) -> list[Token]:
    head, tail = _soundex_sql("\x00").split("\x00")
    return [("code", head)] + list(oper) + [("code", tail)]


def _rewrite_sounds_like(toks: list[Token]) -> list[Token]:
    """`a SOUNDS LIKE b` → SOUNDEX(a) = SOUNDEX(b) (mysqld's
    Item_func_sounds_like rewrite).  Operand extents reuse the bit-op
    scanners at comparison precedence; operands splice as LIVE tokens
    so inner MySQL constructs still translate.  The emission contains
    no SOUNDS token, so the pass is a no-op on re-entry."""
    while True:
        hit = None
        for i, (k, t) in enumerate(toks):
            if k == "word" and t.upper() == "SOUNDS":
                n = _next_code(toks, i + 1)
                if n is not None and toks[n][0] == "word" \
                        and toks[n][1].upper() == "LIKE":
                    hit = (i, n)
                    break
        if hit is None:
            return toks
        i, n = hit
        ls = _bitop_left_extent(toks, i, 30)
        re_ = _bitop_right_extent(toks, n, 30)
        if ls is None or re_ is None:
            raise DialectError("SOUNDS LIKE could not parse its operands")
        frag = (
            [("sym", "(")]
            + _soundex_frag_toks(toks[ls:i])
            + [("code", " = ")]
            + _soundex_frag_toks(toks[n + 1 : re_ + 1])
            + [("sym", ")")]
        )
        toks = toks[:ls] + frag + toks[re_ + 1 :]


def _bool_span_end(toks: list[Token], start: int, terminators) -> int:
    """End of a boolean-context span: first depth-0 terminator keyword,
    depth-0 comma/semicolon, or the closing paren of an enclosing
    scope."""
    depth = 0
    for i in range(start, len(toks)):
        k, t = toks[i]
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            if depth == 0:
                return i
            depth -= 1
        elif depth == 0:
            if k == "word" and t.upper() in terminators:
                return i
            if k == "sym" and t in (",", ";"):
                return i
    return len(toks)


def _split_bool_ops(span: list[Token]) -> list:
    """Split at depth-0 AND/OR/&& — skipping CASE..END bodies and the
    AND that closes a BETWEEN.  Returns [part, conn_token, part, ...]
    (odd positions are the connectives, normalized to AND/OR words)."""
    parts: list = [[]]
    depth = case_depth = between = 0
    for tok in span:
        k, t = tok
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            depth -= 1
        elif depth == 0 and k == "word":
            u = t.upper()
            if u == "CASE":
                case_depth += 1
            elif u == "END" and case_depth:
                case_depth -= 1
            elif case_depth == 0:
                if u == "BETWEEN":
                    between += 1
                elif u == "AND" and between:
                    between -= 1
                elif u in ("AND", "OR") and not between:
                    parts.append(tok)  # keep original case
                    parts.append([])
                    continue
        elif depth == 0 and case_depth == 0 and (k, t) == ("sym", "&&"):
            parts.append(("word", "AND"))
            parts.append([])
            continue
        parts[-1].append(tok)
    return parts


def _is_bool_expr(part: list[Token]) -> bool:
    """Syntactically already-boolean: a depth-0 comparison sym or
    predicate keyword (CASE..END bodies skipped), a TRUE/FALSE literal,
    a known boolean-returning call, or this pass's own try_cast wrap
    (re-entry idempotency)."""
    depth = case_depth = 0
    for tok in part:
        k, t = tok
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            depth -= 1
        elif depth == 0 and k == "word":
            u = t.upper()
            if u == "CASE":
                case_depth += 1
            elif u == "END" and case_depth:
                case_depth -= 1
            elif case_depth == 0 and (
                u in _BOOL_WORDS or u in ("TRUE", "FALSE", "NOT")
            ):
                return True
        elif depth == 0 and case_depth == 0 and k == "sym" and (
            t in _BOOL_SYMS or t == "&&"
        ):
            return True
    codes = [j for j, tk in enumerate(part) if tk[0] not in ("ws", "comment")]
    if len(codes) >= 2 and part[codes[0]][0] == "word":
        name = part[codes[0]][1].upper()
        if part[codes[1]] == ("sym", "(") and part[codes[-1]] == ("sym", ")"):
            if name in _BOOL_FUNCS:
                return True
            if name in ("TRY_CAST", "CAST"):
                txt = render(part).strip().upper()
                if txt.rstrip(")").rstrip().endswith("BOOLEAN"):
                    return True
    return False


def _booleanize(part: list[Token]) -> list[Token]:
    """Rewrite one boolean-context operand into a boolean expression
    (MySQL truthiness).  Already-boolean operands return unchanged."""
    ops = _split_bool_ops(part)
    if len(ops) > 1:
        out: list[Token] = []
        for item in ops:
            if isinstance(item, tuple):  # connective: pad only if bare
                if out and out[-1][0] != "ws":
                    out.append(("ws", " "))
                out.append(item)
            else:
                booled = _booleanize(item)
                if out and out[-1][0] == "word" and (
                    not booled or booled[0][0] != "ws"
                ):
                    out.append(("ws", " "))
                out.extend(booled)
        return out
    lead = _next_code(part, 0)
    if lead is None:
        return part
    if part[lead][0] == "word" and part[lead][1].upper() == "NOT":
        nx = _next_code(part, lead + 1)
        # `NOT NULL` stays untouched (DDL fragments share the
        # tokenizer; Spark's NOT accepts an untyped NULL anyway)
        if nx is not None and not (
            part[nx][0] == "word" and part[nx][1].upper() == "NULL"
        ):
            return part[: lead + 1] + _booleanize(part[lead + 1 :])
        return part
    if _is_bool_expr(part):
        return part
    codes = [j for j, tk in enumerate(part) if tk[0] not in ("ws", "comment")]
    # full-paren group: recurse inside (subqueries wrap as atoms below)
    if part[codes[0]] == ("sym", "(") and _match_paren(part, codes[0]) == codes[-1]:
        inner = part[codes[0] + 1 : codes[-1]]
        li = _next_code(inner, 0)
        if li is not None and not (
            inner[li][0] == "word" and inner[li][1].upper() == "SELECT"
        ):
            return (
                part[: codes[0] + 1]
                + _booleanize(inner)
                + part[codes[-1] :]
            )
    # literal folds: exact MySQL truthiness computed at translate time
    # (every emission is ws-padded — render() concatenates raw text)
    def _lit(v: bool) -> list[Token]:
        return [("ws", " "), ("code", "TRUE" if v else "FALSE"), ("ws", " ")]

    if len(codes) == 1 and part[codes[0]][0] == "number":
        try:
            return _lit(float(part[codes[0]][1]) != 0.0)
        except ValueError:
            pass
    if (
        len(codes) == 2
        and part[codes[0]][0] == "sym"
        and part[codes[0]][1] in ("-", "+")
        and part[codes[1]][0] == "number"
    ):
        try:
            return _lit(float(part[codes[1]][1]) != 0.0)
        except ValueError:
            pass
    if len(codes) == 1 and part[codes[0]][0] == "string":
        return _lit(_mysql_str_truthy(_unquote(part[codes[0]][1])))
    # general wrap — numeric != 0 via Spark's numeric→boolean cast;
    # identity when the operand was already boolean
    return (
        [("ws", " "), ("word", "try_cast"), ("sym", "("), ("sym", "(")]
        + part
        + [("sym", ")"), ("ws", " "), ("word", "AS"), ("ws", " "),
           ("word", "BOOLEAN"), ("sym", ")"), ("ws", " ")]
    )


def _booleanize_if_logical(item: list[Token]) -> list[Token]:
    """SELECT-list variant: fold ONLY when the item is a logical
    expression (top-level AND/OR, or a leading unary NOT) — a plain
    `SELECT 0.1` keeps its numeric value.  Trailing `AS alias` is
    preserved outside the fold.  (Implicit aliases after a logical
    item — `SELECT a AND b x` — are not detected; use AS.)"""
    ops = _split_bool_ops(item)
    lead = _next_code(item, 0)
    is_not = (
        lead is not None
        and item[lead][0] == "word"
        and item[lead][1].upper() == "NOT"
    )
    if len(ops) == 1 and not is_not:
        return item
    # split a trailing `AS alias` off the last part before folding
    tail: list[Token] = []
    codes = [j for j, tk in enumerate(item) if tk[0] not in ("ws", "comment")]
    if (
        len(codes) >= 2
        and item[codes[-1]][0] in ("word", "bident", "string")
        and item[codes[-2]][0] == "word"
        and item[codes[-2]][1].upper() == "AS"
    ):
        tail = item[codes[-2] :]
        item = item[: codes[-2]]
    return _booleanize(item) + tail


def _find_then(toks: list[Token], start: int) -> int | None:
    depth = case_depth = 0
    for j in range(start, len(toks)):
        k, t = toks[j]
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            depth -= 1
        elif depth == 0 and k == "word":
            u = t.upper()
            if u == "CASE":
                case_depth += 1
            elif u == "END" and case_depth:
                case_depth -= 1
            elif u == "THEN" and case_depth == 0:
                return j
    return None


def _fold_boolean_contexts(toks: list[Token]) -> list[Token]:
    """The walker: find boolean contexts and run `_booleanize` over
    their operand spans (recursing first, so nested subqueries and
    IF()s inside a span are handled before the span folds)."""
    out: list[Token] = []
    i = 0
    case_searched: list[bool] = []
    while i < len(toks):
        k, t = toks[i]
        if k == "word":
            u = t.upper()
            prev = _prev_code(toks, i)
            qualified = prev is not None and toks[prev] == ("sym", ".")
            if u == "IF" and not qualified:
                nx = _next_code(toks, i + 1)
                if nx is not None and toks[nx] == ("sym", "("):
                    close = _match_paren(toks, nx)
                    inner = _fold_boolean_contexts(toks[nx + 1 : close])
                    args = _split_args(inner)
                    if len(args) == 3:
                        out.extend([toks[i], ("sym", "(")])
                        out.extend(_booleanize(args[0]))
                        out.append(("sym", ","))
                        out.extend(args[1])
                        out.append(("sym", ","))
                        out.extend(args[2])
                        out.append(("sym", ")"))
                    else:
                        out.extend([toks[i], ("sym", "(")])
                        out.extend(inner)
                        out.append(("sym", ")"))
                    i = close + 1
                    continue
            if u in ("WHERE", "HAVING") and not qualified:
                end = _bool_span_end(toks, i + 1, _WHERE_TERMINATORS)
                span = _fold_boolean_contexts(toks[i + 1 : end])
                out.append(toks[i])
                out.extend(_booleanize(span))
                i = end
                continue
            if u == "ON" and not qualified:
                nx = _next_code(toks, i + 1)
                # skip non-join ONs: ON DUPLICATE KEY / ON UPDATE / ON
                # DELETE (INSERT and DDL fragments share the tokenizer)
                if not (
                    nx is not None and toks[nx][0] == "word"
                    and toks[nx][1].upper() in ("DUPLICATE", "UPDATE", "DELETE")
                ):
                    end = _bool_span_end(toks, i + 1, _ON_TERMINATORS)
                    span = _fold_boolean_contexts(toks[i + 1 : end])
                    out.append(toks[i])
                    out.extend(_booleanize(span))
                    i = end
                    continue
            if u == "SELECT" and not qualified:
                # select list: items fold only when logical
                out.append(toks[i])
                j = i + 1
                nxt = _next_code(toks, j)
                while (
                    nxt is not None and toks[nxt][0] == "word"
                    and toks[nxt][1].upper() in _SEL_MODIFIERS
                ):
                    out.extend(toks[j : nxt + 1])
                    j = nxt + 1
                    nxt = _next_code(toks, j)
                while True:
                    end = _bool_span_end(toks, j, _SEL_TERMINATORS)
                    item = _fold_boolean_contexts(toks[j:end])
                    out.extend(_booleanize_if_logical(item))
                    if end < len(toks) and toks[end] == ("sym", ","):
                        out.append(toks[end])
                        j = end + 1
                        continue
                    i = end
                    break
                continue
            if u == "CASE":
                nxt_c = _next_code(toks, i + 1)
                case_searched.append(
                    nxt_c is not None
                    and toks[nxt_c][0] == "word"
                    and toks[nxt_c][1].upper() == "WHEN"
                )
            elif u == "END" and case_searched:
                case_searched.pop()
            elif u == "WHEN" and case_searched and case_searched[-1]:
                then_i = _find_then(toks, i + 1)
                if then_i is not None:
                    span = _fold_boolean_contexts(toks[i + 1 : then_i])
                    out.append(toks[i])
                    out.extend(_booleanize(span))
                    i = then_i
                    continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite(toks: list[Token]) -> list[Token]:
    out: list[Token] = []
    i = 0
    # searched-vs-value CASE tracking: True = searched (CASE WHEN ...).
    # A bare NULL condition in a SEARCHED case fails Spark's analysis
    # (MySQL reads it as falsy); in a VALUE case (CASE x WHEN NULL) the
    # NULL is a comparison operand and must stay untouched.
    case_stack: list[bool] = []
    while i < len(toks):
        kind, text = toks[i]
        if kind == "sym" and text == "&&":
            # MySQL's && is AND (sql_yacc %left AND_AND_SYM); Spark has
            # no && operator.  || stays CONCAT — the PIPES_AS_CONCAT
            # reading every migration target uses (MySQL 8 deprecates
            # ||-as-OR); module docstring records the divergence.
            out.append(("word", "AND"))
            i += 1
            continue
        if (
            kind == "number"
            and text == "0"
            and i + 1 < len(toks)
            and toks[i + 1][0] == "word"
        ):
            # hex/bit literals lex as '0' + adjacent word: 0x41, 0b101
            adj = toks[i + 1][1]
            if _re.fullmatch(r"[xX][0-9A-Fa-f]+", adj):
                h = adj[1:]
                if _hex_numeric_context(toks, i, i + 1):
                    # mysqld lexes a hex literal as a NUMBER in
                    # numeric context (10 + 0x0a = 20); the binary
                    # form fails Spark arithmetic
                    out.append(("code", str(int(h, 16))))
                else:
                    out.append(
                        ("code",
                         "x'" + ("0" + h if len(h) % 2 else h) + "'")
                    )
                i += 2
                continue
            if _re.fullmatch(r"[bB][01]+", adj):
                out.append(
                    ("code",
                     str(int(adj[1:], 2))
                     if _hex_numeric_context(toks, i, i + 1)
                     else _bits_to_hex(adj[1:]))
                )
                i += 2
                continue
        if kind == "number" and case_stack and case_stack[-1]:
            pv = _prev_code(toks, i)
            sign = ""
            wi = pv
            if pv is not None and toks[pv] in (("sym", "-"), ("sym", "+")):
                sign = toks[pv][1]
                wi = _prev_code(toks, pv)
            nx = _next_code(toks, i + 1)
            if (
                wi is not None and toks[wi][0] == "word"
                and toks[wi][1].upper() == "WHEN"
                and nx is not None and toks[nx][0] == "word"
                and toks[nx][1].upper() == "THEN"
            ):
                # searched CASE WHEN [±]<number> THEN: MySQL numeric
                # truthiness reads nonzero as true (sql item_cmpfunc
                # val_bool); Spark's analyzer rejects a non-boolean
                # condition outright.  Value-form CASE x WHEN 1 keeps
                # the literal as a comparison operand (case_stack).
                if sign:
                    # the sign sym is already in out — fold it into
                    # the rewritten literal
                    while out and out[-1][0] in ("ws", "comment"):
                        out.pop()
                    out.pop()
                out.append(("code", f"(({sign}{text}) <> 0)"))
                i += 1
                continue
        if kind == "word":
            upper = text.upper()
            if upper == "CASE":
                nxt_c = _next_code(toks, i + 1)
                case_stack.append(
                    nxt_c is not None
                    and toks[nxt_c][0] == "word"
                    and toks[nxt_c][1].upper() == "WHEN"
                )
            elif upper == "END" and case_stack:
                case_stack.pop()
            elif upper == "NULL" and case_stack and case_stack[-1]:
                pv = _prev_code(toks, i)
                nx = _next_code(toks, i + 1)
                if (
                    pv is not None and toks[pv][0] == "word"
                    and toks[pv][1].upper() == "WHEN"
                    and nx is not None and toks[nx][0] == "word"
                    and toks[nx][1].upper() == "THEN"
                ):
                    # searched CASE WHEN NULL THEN ...: MySQL reads the
                    # bare NULL as falsy; Spark's analyzer rejects a
                    # non-boolean condition outright
                    out.append(("code", "CAST(NULL AS BOOLEAN)"))
                    i += 1
                    continue
            if (
                upper in ("B", "X")
                and i + 1 < len(toks)
                and toks[i + 1][0] == "string"
            ):
                # b'1010' bit literal → hex binary (x'..' passes through
                # natively; only the b-form needs translation).  In
                # NUMERIC context both fold to their integer value,
                # like mysqld's lexer (the MySQL-docs CONV chain:
                # CONV(10+'10'+'10'+X'0a',10,10) = '40')
                body = toks[i + 1][1][1:-1]
                numeric_ctx = _hex_numeric_context(toks, i, i + 1)
                if upper == "B" and set(body) <= {"0", "1"}:
                    out.append(
                        ("code",
                         str(int(body or "0", 2)) if numeric_ctx
                         else _bits_to_hex(body))
                    )
                    i += 2
                    continue
                if (
                    upper == "X" and numeric_ctx
                    and _re.fullmatch(r"[0-9A-Fa-f]*", body)
                ):
                    out.append(("code", str(int(body, 16)) if body else "0"))
                    i += 2
                    continue
            if text.lower() in _CHARSET_INTRODUCERS:
                nx = _next_code(toks, i + 1)
                if nx is not None and toks[nx][0] == "string":
                    if text.lower() == "_binary":
                        out.append(("code", f"cast({toks[nx][1]} as binary)"))
                    else:
                        out.append(toks[nx])
                    i = nx + 1
                    continue
            if upper == "DUAL":
                prev = _prev_code(toks, i)
                if prev is not None and toks[prev][1].upper() == "FROM":
                    # SELECT ... FROM DUAL — MySQL's one-row dummy table
                    out.append(("code", "(SELECT 1) AS dual"))
                    i += 1
                    continue
            # keyword-operator rewrites below never apply in qualified-
            # identifier position (`t.mod`, `t.xor`, `t.binary` are
            # legal MySQL column references after the qualifying dot)
            _qualified = (
                (p := _prev_code(toks, i)) is not None and toks[p] == ("sym", ".")
            )
            if upper == "MOD" and not _qualified:
                # infix `a MOD b` → `a % b` (Spark has mod(a,b) the
                # FUNCTION but no infix MOD; same precedence as %, so
                # the token swap is exact).  MOD is infix exactly when
                # an OPERAND precedes it — number/string/)/identifier —
                # which also keeps `MOD(a, b)` a function call and
                # `7 MOD (2)` infix; after AS/operators/keywords the
                # word stays untouched (alias or call position).
                pv = _prev_code(toks, i)
                operand_before = pv is not None and (
                    toks[pv][0] in ("number", "string", "bident")
                    or toks[pv] == ("sym", ")")
                    or (
                        toks[pv][0] == "word"
                        and toks[pv][1].upper() not in _ALIAS_BLOCKERS
                    )
                )
                if operand_before:
                    out.append(("sym", "%"))
                    i += 1
                    continue
            if upper == "XOR" and not _qualified:
                # MySQL's logical XOR binds between AND and OR; no
                # token-level rewrite preserves that precedence (e.g.
                # `x = 1 XOR y = 2` would silently re-associate under
                # `<>`), so refuse rather than mis-execute.
                raise DialectError(
                    "the XOR operator is not supported — rewrite as "
                    "(a AND NOT b) OR (NOT a AND b)"
                )
            if upper in ("LEAST", "GREATEST") and not _qualified:
                # MySQL null-strict semantics — see _extreme_sql.
                # Subquery arguments fold as plain CASE text (they are
                # rejected inside the higher-order bind), capped at 3:
                # each subquery step triples the accumulated text, and
                # past that the honest move is the XOR-style refusal,
                # not a silent null-skip divergence.
                op = _next_code(toks, i + 1)
                if op is not None and toks[op] == ("sym", "("):
                    close = _match_paren(toks, op)
                    parts = _split_args(toks[op + 1 : close])
                    flags = [
                        any(
                            t[0] == "word" and t[1].upper() == "SELECT"
                            for t in p
                        )
                        for p in parts
                    ]
                    if len(parts) >= 2 and sum(flags) > 3:
                        raise DialectError(
                            f"{upper} with more than 3 subquery arguments "
                            "is not supported — hoist the subqueries into "
                            "a derived table"
                        )
                    if len(parts) >= 2:
                        args = [
                            "(" + render(_rewrite(p)).strip() + ")" for p in parts
                        ]
                        if any(flags) and any(
                            _re.search(r"\b(RAND|UUID)\s*\(", a, _re.I)
                            for a in args
                        ):
                            # the subquery fold splices operands as
                            # plain CASE text (evaluated up to 3×); a
                            # nondeterministic operand would compare
                            # one draw and return another — refuse
                            # like the >3-subquery case
                            raise DialectError(
                                f"{upper} mixing subqueries with "
                                "nondeterministic arguments is not "
                                "supported — hoist into a derived table"
                            )
                        out.append(
                            ("code",
                             _extreme_sql(args, upper == "LEAST", flags))
                        )
                        i = close + 1
                        continue
            if upper == "CAST" and not _qualified:
                # CAST(expr AS <mysql type>) — route the type through
                # the same mapping CONVERT uses (_cast_frag /
                # _parse_mysql_type) and emit MySQL semantics for the
                # types Spark's parser rejects or mis-handles:
                # SIGNED/UNSIGNED (round-vs-truncate, func_cast.cpp),
                # TIME (TIME-string render), bare CHAR / CHAR(n)
                # (string + truncation), DATETIME (timestamp).  Types
                # not in the MySQL map fall through untouched.
                op = _next_code(toks, i + 1)
                if op is not None and toks[op] == ("sym", "("):
                    close = _match_paren(toks, op)
                    inner = toks[op + 1 : close]
                    as_i = _top_level_word(inner, "AS")
                    k = _next_code(inner, as_i + 1) if as_i is not None else None
                    if k is not None and inner[k][0] == "word":
                        frag = _cast_frag(inner[:as_i], inner, k)
                        if frag is not None:
                            out.append(("code", frag))
                            i = close + 1
                            continue
            if upper == "CONVERT" and not _qualified:
                # CONVERT(expr, TYPE) → CAST(expr AS <mapped type>);
                # CONVERT(expr USING charset) → (expr) (everything is
                # UTF-8 here, the conversion is a no-op).  The operand
                # tokens are re-run through _rewrite so nested dialect
                # forms keep translating.
                op = _next_code(toks, i + 1)
                if op is not None and toks[op] == ("sym", "("):
                    close = _match_paren(toks, op)
                    parts = _split_args(toks[op + 1 : close])
                    if len(parts) == 1:
                        using = _top_level_word(parts[0], "USING")
                        if using is not None:
                            cs = _next_code(parts[0], using + 1)
                            csname = (
                                _ident_text(parts[0][cs]).lower()
                                if cs is not None and parts[0][cs][0] in ("word", "bident")
                                else ""
                            )
                            if csname == "binary":
                                # CONVERT(x USING binary) ≡ the BINARY
                                # prefix operator: forced byte-wise form
                                out.extend(
                                    [("word", "cast"), ("sym", "("),
                                     ("word", "cast"), ("sym", "(")]
                                    + _rewrite(parts[0][:using])
                                    + [("ws", " "), ("word", "as"), ("ws", " "),
                                       ("word", "string"), ("sym", ")"),
                                       ("ws", " "), ("word", "as"), ("ws", " "),
                                       ("word", "binary"), ("sym", ")")]
                                )
                            else:
                                # charset conversion is a no-op (UTF-8)
                                out.append(("sym", "("))
                                out.extend(_rewrite(parts[0][:using]))
                                out.append(("sym", ")"))
                            i = close + 1
                            continue
                    elif len(parts) == 2:
                        tpart = parts[1]
                        k = _next_code(tpart, 0)
                        if k is not None and tpart[k][0] == "word":
                            frag = _cast_frag(parts[0], tpart, k)
                            if frag is None:
                                # types legal in both dialects keep the
                                # plain cast CONVERT always emitted
                                # (_parse_mysql_type raises on unknown)
                                spark_type, _ = _parse_mysql_type(tpart, k)
                                expr = render(_rewrite(parts[0])).strip()
                                frag = f"cast({expr} AS {spark_type})"
                            out.append(("code", frag))
                            i = close + 1
                            continue
            # (the old `AS SIGNED → BIGINT` word rewrite is gone: every
            # CAST/CONVERT form is consumed by _cast_frag above with the
            # round-vs-truncate semantics, and the word rewrite would
            # also have mangled a column ALIASED `AS SIGNED`)
            if upper == "COLLATE" and not _qualified:
                # map MySQL collation names onto Spark 4 collations:
                # *_bin → UTF8_BINARY; accent-sensitive *_as_ci →
                # UNICODE_CI; every other *_ci (general/unicode/0900_ai
                # — all accent-INsensitive in MySQL: 'é' = 'e') →
                # UNICODE_CI_AI, Spark's accent+case-insensitive ICU
                # collation
                nx = _next_code(toks, i + 1)
                if nx is not None and toks[nx][0] in ("word", "string"):
                    cname = _ident_text(toks[nx]).strip("'\"").lower()
                    target = None
                    if cname.endswith("_bin") or cname == "binary":
                        target = "UTF8_BINARY"
                    elif cname.endswith("_as_ci"):
                        target = "UNICODE_CI"
                    elif cname.endswith("_ci"):
                        target = "UNICODE_CI_AI"
                    if target is not None:
                        out.extend(
                            [("word", "COLLATE"), ("ws", " "), ("word", target)]
                        )
                        i = nx + 1
                        continue
            if upper == "BINARY" and not _qualified:
                # MySQL's BINARY prefix operator ≡ CAST(expr AS BINARY)
                # (forces byte-wise comparison).  Handled for the primary
                # forms it binds to — string literal, parenthesized expr,
                # [qualified] identifier / function call; type-position
                # BINARY (after AS) passes through.  The operand is
                # emitted as TOKENS re-run through _rewrite (not rendered
                # text), so nested dialect forms — infix MOD, %-format
                # strings inside date_format, COLLATE names — keep
                # translating inside the operand.
                prev = _prev_code(toks, i)
                nx = _next_code(toks, i + 1)
                if (
                    (prev is None or toks[prev][1].upper() != "AS")
                    and nx is not None
                    and (
                        toks[nx][0] in ("string", "word", "bident", "number")
                        or toks[nx] == ("sym", "(")
                    )
                ):
                    if toks[nx] == ("sym", "("):
                        close = _match_paren(toks, nx)
                        inner_toks = _rewrite(toks[nx : close + 1])
                        i = close + 1
                    elif toks[nx][0] == "number":
                        inner_toks = [toks[nx]]
                        i = nx + 1
                    elif toks[nx][0] == "string":
                        inner_toks = [toks[nx]]
                        i = nx + 1
                    else:
                        # identifier chain a.b.c, optionally a call f(...)
                        j = nx
                        end = j
                        while True:
                            dot = _next_code(toks, end + 1)
                            if dot is not None and toks[dot] == ("sym", ".") :
                                nxt = _next_code(toks, dot + 1)
                                if nxt is not None and toks[nxt][0] in ("word", "bident"):
                                    end = nxt
                                    continue
                            break
                        call = _next_code(toks, end + 1)
                        if call is not None and toks[call] == ("sym", "("):
                            end = _match_paren(toks, call)
                        inner_toks = _rewrite(toks[nx : end + 1])
                        i = end + 1
                    # MySQL's BINARY operates on the STRING form of its
                    # operand (BINARY 5 ≡ binary '5', BINARY (1 MOD 2) ≡
                    # binary '1') — the inner string cast reproduces that
                    # for numeric/date operands and is a no-op on strings
                    out.extend(
                        [("word", "cast"), ("sym", "("),
                         ("word", "cast"), ("sym", "(")]
                        + inner_toks
                        + [("ws", " "), ("word", "as"), ("ws", " "),
                           ("word", "string"), ("sym", ")"),
                           ("ws", " "), ("word", "as"), ("ws", " "),
                           ("word", "binary"), ("sym", ")")]
                    )
                    continue
            if upper == "INFORMATION_SCHEMA":
                # information_schema.tables/columns → the flat view
                # names InfiniSession registers (Spark temp views can't
                # be schema-qualified); mysqld serves these natively
                dot = _next_code(toks, i + 1)
                if dot is not None and toks[dot] == ("sym", "."):
                    obj = _next_code(toks, dot + 1)
                    if obj is not None and toks[obj][1].lower() in ("tables", "columns"):
                        out.append(("word", f"infoschema_{toks[obj][1].lower()}"))
                        i = obj + 1
                        continue
            if upper in ("FOR", "LOCK"):
                # trailing row-lock clauses (FOR UPDATE / LOCK IN SHARE
                # MODE): mysqld parses them; the reference engine takes
                # no row locks (table-level via DML locks only), so they
                # are accepted and dropped
                words = ["UPDATE"] if upper == "FOR" else ["IN", "SHARE", "MODE"]
                j, matched = i, []
                for w in words:
                    j = _next_code(toks, j + 1)
                    if j is None or toks[j][1].upper() != w:
                        matched = None
                        break
                    matched.append(j)
                if matched is not None:
                    tail = _next_code(toks, matched[-1] + 1)
                    if tail is None or toks[tail] == ("sym", ";"):
                        i = matched[-1] + 1
                        continue
            if upper == "INTERVAL":
                # bare `expr ± INTERVAL '<lit>' <compound unit>` — the
                # external ± distributes over the field sum, so the
                # interval itself always parses with negate=False
                lit = _next_code(toks, i + 1)
                if lit is not None and toks[lit][0] in ("string", "number"):
                    u = _next_code(toks, lit + 1)
                    if (
                        u is not None
                        and toks[u][0] == "word"
                        and toks[u][1].upper() in _iv.COMPOUND_UNITS
                    ):
                        unit_u = toks[u][1].upper()
                        raw = (
                            _unquote(toks[lit][1])
                            if toks[lit][0] == "string"
                            else toks[lit][1]
                        )
                        nums = _iv.interval_numbers(raw, negate=False)
                        if not nums:
                            raise DialectError(
                                f"INTERVAL operand {raw!r} has no numbers"
                            )
                        slots = _iv.compound_slots(unit_u, nums)
                        if slots is None:
                            # overflowed field count → NULL interval
                            # (reference dateAdd returns datetime 0)
                            out.append(("code",
                                        "CAST(NULL AS INTERVAL DAY TO SECOND)"))
                        else:
                            out.append(
                                ("code", _iv.ansi_interval_sql(unit_u, slots))
                            )
                        i = u + 1
                        continue
            nxt = _next_code(toks, i + 1)
            if nxt is not None and toks[nxt] == ("sym", "("):
                close = _match_paren(toks, nxt)
                inner = _rewrite(toks[nxt + 1 : close])
                if upper == "GROUP_CONCAT":
                    out.extend(_group_concat(inner))
                    i = close + 1
                    continue
                if upper in _FMT_FUNCS:
                    out.extend(_fmt_func(upper, inner))
                    i = close + 1
                    continue
                if upper in ("DATE_ADD", "DATE_SUB", "ADDDATE", "SUBDATE"):
                    out.extend(_date_addsub(upper, inner))
                    i = close + 1
                    continue
                if upper == "EXTRACT":
                    hit = _extract_func(inner)
                    if hit is not None:
                        out.extend(hit)
                        i = close + 1
                        continue
                if upper in ("WEEK", "YEARWEEK"):
                    out.extend(_week_func(upper, inner))
                    i = close + 1
                    continue
                if upper == "INSERT":
                    # the 4-arg string function (func_insert.cpp,
                    # funcexp.cpp:130) — safe to claim at a paren-call
                    # site: the INSERT STATEMENT keyword is never
                    # followed by '(' (a table name or INTO comes
                    # first, and parse_statement dispatches DML before
                    # expression rewriting matters)
                    args = [_arg_text(a) for a in _split_args(inner)]
                    if len(args) == 4:
                        out.append(
                            ("code",
                             _TEMPLATES["MYSQL_INSERT_FUNC"].format(*args))
                        )
                        i = close + 1
                        continue
                if upper == "CHAR" and not _qualified:
                    # multi-arg CHAR(77,121,...) concatenates code
                    # points (func_char.cpp; mysqldump/ETL output uses
                    # it); MySQL SKIPS NULL arguments — concat_ws('')
                    # does too where concat would NULL the result.
                    # 1-arg CHAR passes through untouched: it is
                    # Spark's own char() AND the CHAR(10) column type
                    # in DDL, which must not be rewritten.
                    args = [_arg_text(a) for a in _split_args(inner)]
                    if len(args) >= 2:
                        parts = ", ".join(f"char({a})" for a in args)
                        out.append(("code", f"concat_ws('', {parts})"))
                        i = close + 1
                        continue
                if upper == "GET_FORMAT":
                    hit = _get_format_func(inner)
                    if hit is not None:
                        out.extend(hit)
                        i = close + 1
                        continue
                if upper == "TIME":
                    # TIME(expr) = CAST(expr AS TIME) (the reference
                    # maps it to Func_time, funcexp.cpp:190); Spark has
                    # no TIME type, so the shared cast_time fragment
                    # renders the canonical 'HH:MM:SS' string.  DDL
                    # TIME(n) column types never reach this rewriter
                    # (CREATE goes through the ddl grammar).
                    targs = _split_args(inner)
                    if len(targs) == 1 and targs[0]:
                        e = "(" + render(targs[0]).strip() + ")"
                        out.append(("code", _cast_time_sql(e)))
                        i = close + 1
                        continue
                if upper == "TRIM":
                    hit = _trim_func(inner)
                    if hit is not None:
                        out.extend(hit)
                        i = close + 1
                        continue
                if upper in ("LPAD", "RPAD"):
                    # MySQL: a NEGATIVE pad length is NULL
                    # (func_lpad.cpp); Spark clamps it to ''.  Folded
                    # only for a LITERAL negative length — a template
                    # emitting lpad(...) would re-match its own output
                    # and break translator idempotency; column-valued
                    # lengths keep Spark's native clamp (the registry
                    # Column builder carries the full runtime guard).
                    args = _split_args(inner)
                    if len(args) == 3:
                        ntoks = [
                            t for t in args[1]
                            if t[0] not in ("ws", "comment")
                        ]
                        if (
                            len(ntoks) == 2
                            and ntoks[0] == ("sym", "-")
                            and ntoks[1][0] == "number"
                        ):
                            out.append(("code", "CAST(NULL AS STRING)"))
                            i = close + 1
                            continue
                if upper == "TRUNCATE":
                    out.extend(_truncate_func(inner))
                    i = close + 1
                    continue
                if upper == "ATAN":
                    # the reference registers atan AND atan2 to the
                    # same functor and dispatches on parm.size()
                    # (funcexp.cpp:78-79, func_math.cpp:294-300):
                    # ATAN(y, x) = ATAN2(y, x).  1-arg passes through
                    # (Spark-native atan).
                    aargs = _split_args(inner)
                    if len(aargs) == 2:
                        out.append((
                            "code",
                            f"atan2({_arg_text(aargs[0])},"
                            f" {_arg_text(aargs[1])})",
                        ))
                        i = close + 1
                        continue
                if upper in ("SQRT", "ASIN", "ACOS"):
                    hit = _domain_guard_func(upper, inner)
                    if hit is not None:
                        out.extend(hit)
                        i = close + 1
                        continue
                if upper == "LOG":
                    # 2-arg LOG base domain: base <= 0 or base == 1 →
                    # NULL (ref func_math.cpp:585-591); Spark's
                    # ln(x)/ln(1) otherwise yields ±inf.  Idempotency
                    # via the lb_ bind variable, same recipe as
                    # _domain_guard_func.  1-arg LOG passes through
                    # (Spark ln already NULLs non-positives).
                    largs = _split_args(inner)
                    if len(largs) == 2:
                        b_txt = render(largs[0]).strip()
                        if b_txt != "lb_":
                            x_txt = render(largs[1]).strip()
                            body = (
                                "(CASE WHEN lb_ <= 0 OR lb_ = 1 THEN"
                                " CAST(NULL AS DOUBLE)"
                                f" ELSE log(lb_, ({x_txt})) END)"
                            )
                            out.append(
                                ("code", _bind1(f"({b_txt})", "lb_", body))
                            )
                            i = close + 1
                            continue
                if upper in ("HOUR", "MINUTE", "SECOND"):
                    targs2 = _split_args(inner)
                    if len(targs2) == 1 and any(
                        t[0] not in ("ws", "comment") for t in targs2[0]
                    ):
                        out.append((
                            "code",
                            _time_field_sql(upper, _arg_text(targs2[0])),
                        ))
                        i = close + 1
                        continue
                if upper == "UNIX_TIMESTAMP":
                    # date-only STRING operands NULL under Spark's
                    # default 'yyyy-MM-dd HH:mm:ss' pattern; MySQL
                    # converts the operand to DATETIME first
                    # (func_unix_timestamp.cpp) — a timestamp try_cast
                    # accepts both.  unix_seconds avoids re-emitting
                    # the matched name (translator idempotency).
                    uargs = _split_args(inner)
                    if len(uargs) == 1 and any(
                        t[0] not in ("ws", "comment") for t in uargs[0]
                    ):
                        out.append((
                            "code",
                            f"unix_seconds(try_cast(CAST({_arg_text(uargs[0])}"
                            f" AS STRING) AS TIMESTAMP))",
                        ))
                        i = close + 1
                        continue
                if upper == "FIELD":
                    # bonus beyond the reference FuncMap (it lacks
                    # FIELD; MySQL migrations use it for custom sort
                    # orders): 1-based index of x among the rest, 0
                    # when absent or NULL.  Case-insensitive like
                    # MySQL's default collation (mirrors registry
                    # field(); numerics coerce through their string
                    # render — see its docstring)
                    args = [_arg_text(a) for a in _split_args(inner)]
                    if len(args) >= 2:
                        arr = ", ".join(
                            f"upper(CAST({a} AS STRING))" for a in args[1:]
                        )
                        out.append(
                            ("code",
                             f"coalesce(array_position(array({arr}),"
                             f" upper(CAST({args[0]} AS STRING))), 0)")
                        )
                        i = close + 1
                        continue
                if upper in ("BIT_AND", "BIT_OR", "BIT_XOR"):
                    # uint64 bit AGGREGATES (ref rowaggregation.cpp:
                    # ROWAGG_BIT_AND inits to 0xFFFF…, OR/XOR to 0 —
                    # an empty/all-NULL group yields the INIT value,
                    # never NULL; results display unsigned).  Spark's
                    # bit_and/or/xor NULL on empty and render signed.
                    # Idempotency via the bg_ bind variable the
                    # operand wrap introduces (same recipe as the
                    # SQRT/LOG guards).
                    bargs = _split_args(inner)
                    if len(bargs) == 1:
                        a_txt = render(bargs[0]).strip()
                        if "bg_" not in a_txt:
                            init = "-1" if upper == "BIT_AND" else "0"
                            wrap = _bind1(
                                f"try_cast(({a_txt}) AS DECIMAL(38,0))",
                                "bg_",
                                "(CASE WHEN bg_ > 9223372036854775807"
                                " AND bg_ <= 18446744073709551615"
                                " THEN CAST(bg_ - 18446744073709551616"
                                " AS BIGINT)"
                                " ELSE try_cast(bg_ AS BIGINT) END)",
                            )
                            out.append(("code", _bind1(
                                f"coalesce({upper.lower()}({wrap}), {init})",
                                "bu_",
                                _UNSIGNED_RENDER_BODY,
                            )))
                            i = close + 1
                            continue
                if upper in _TEMPLATES:
                    args = [_arg_text(a) for a in _split_args(inner)]
                    arity = _template_arity(upper)
                    if len(args) != arity:
                        raise DialectError(
                            f"{upper} expects {arity} argument(s), got {len(args)}"
                        )
                    out.append(("code", _TEMPLATES[upper].format(*args)))
                    i = close + 1
                    continue
                if upper in ("SUBSTRING", "SUBSTR", "MID"):
                    # MySQL defines position 0 as the before-start
                    # sentinel → EMPTY string, where Spark reads 0
                    # like 1.  Folded only for a LITERAL 0 (the
                    # documented MySQL edge); a runtime-zero position
                    # keeps Spark's reading — wrapping every substring
                    # in a CASE would break translator idempotency.
                    # NULL-ness of the string operand still propagates
                    # (SUBSTRING(NULL, 0) is NULL, not '').
                    args = _split_args(inner)
                    if len(args) >= 2 and render(args[1]).strip() == "0":
                        out.append(
                            ("code",
                             f"(CASE WHEN {_arg_text(args[0])} IS NULL"
                             " THEN CAST(NULL AS STRING) ELSE '' END)")
                        )
                        i = close + 1
                        continue
                if upper in _RENAMES:
                    out.append(("word", _RENAMES[upper]))
                    i += 1
                    continue
            if upper == "LIMIT":
                hit = _limit(toks, i)
                if hit is not None:
                    end, repl = hit
                    out.extend(repl)
                    i = end
                    continue
            if upper in _SELECT_MODIFIERS:
                # MySQL SELECT options mysqld accepts ahead of the
                # select list (sql_yacc: select_option_list).  None has
                # a Spark equivalent worth keeping: the cache/priority/
                # result-size hints are mysqld-internal no-ops here, and
                # STRAIGHT_JOIN (force FROM-clause join order — the
                # INFINIDB_ORDERED twin, ha_calpont_execplan.cpp:4126)
                # is delegated to Catalyst/AQE like that hint.
                # DISTINCTROW is MySQL's spelling of DISTINCT.
                prev = _prev_code(toks, i)
                if prev is not None and toks[prev][1].upper() in (
                    # modifiers may follow SELECT, another modifier, or
                    # DISTINCT[ROW] in any order (mysqld select_options)
                    "SELECT", "DISTINCT", "ALL", *_SELECT_MODIFIERS,
                ):
                    if upper == "DISTINCTROW":
                        out.append(("word", "DISTINCT"))
                    i += 1
                    continue
                if upper == "STRAIGHT_JOIN":
                    # the join-operator form: `t1 STRAIGHT_JOIN t2 ON ..`
                    # = INNER JOIN with forced order; order goes to AQE
                    out.append(("word", "JOIN"))
                    i += 1
                    continue
            if upper == "INFINIDB_ORDERED":
                # The reference's join-order session hint, written as
                # /*! INFINIDB_ORDERED */ in its own perf corpus
                # (utils/scenarios/perf/sql/3/q4.3.sql) and read by the
                # handler (ha_calpont_execplan.cpp:4126): forces the
                # FROM-clause order as the join order.  Catalyst + AQE
                # own join ordering here, so the hint is accepted and
                # dropped; per-join control is available via Spark's
                # /*+ BROADCAST/MERGE */ hints instead.
                i += 1
                continue
        out.append(toks[i])
        i += 1
    return out


#: Words after which a single-quoted string is an OPERAND, not a MySQL
#: expression alias (``SELECT count(*) 'Total'``).  Everything else —
#: ``)``, identifiers, numbers, expression terminators like END/NULL —
#: puts a following bare string in alias position.
_ALIAS_BLOCKERS = frozenset(
    """AND OR NOT XOR LIKE RLIKE REGEXP SOUNDS BETWEEN IN IS ESCAPE THEN
    ELSE WHEN CASE BY FROM WHERE SELECT HAVING ON USING AS JOIN SET
    VALUES DATE TIME TIMESTAMP INTERVAL BINARY COLLATE DIV MOD
    SEPARATOR LIMIT OFFSET UNION ALL DISTINCT EXISTS IF RETURNING
    BOTH LEADING TRAILING""".split()
)

#: Tokens that may FOLLOW an alias (select-list boundary).
_ALIAS_FOLLOWERS = frozenset("FROM LIMIT UNION ORDER GROUP HAVING WHERE".split())


def _prev_code(toks: list[Token], i: int) -> int | None:
    for j in range(i - 1, -1, -1):
        if toks[j][0] not in ("ws", "comment"):
            return j
    return None


def _string_aliases(toks: list[Token]) -> list[Token]:
    """MySQL allows a plain string literal as an expression alias
    (``SELECT count(*) 'Small Side Join Count'`` — the reference's own
    perf corpus uses this, utils/scenarios/perf/sql/110/q110.1.sql);
    Spark requires an identifier.  Convert strings in alias position to
    backtick identifiers.  Both neighbors are checked, so operand
    strings (``BETWEEN 'a' AND 'b'``, ``IN ('a','b')``, adjacent-string
    concatenation) are never touched."""
    out = list(toks)
    for idx, (k, t) in enumerate(out):
        if k != "string" or not t.startswith("'"):
            continue
        p = _prev_code(out, idx)
        if p is None:
            continue
        pk, pt = out[p]
        prev_ok = (
            (pk, pt) == ("sym", ")")
            or pk in ("bident", "number")
            or (pk == "word" and (pt.upper() == "AS" or pt.upper() not in _ALIAS_BLOCKERS))
        )
        nx = _next_code(out, idx + 1)
        next_ok = (
            nx is None
            or out[nx] in (("sym", ","), ("sym", ";"))
            or (out[nx][0] == "word" and out[nx][1].upper() in _ALIAS_FOLLOWERS)
        )
        if prev_ok and next_ok:
            out[idx] = ("bident", "`" + _unquote(t).replace("`", "``") + "`")
    return out


#: Comparison operators whose string-literal operands get ci collation.
_CMP_SYMS = frozenset({"=", "<>", "!=", "<=", ">=", "<", ">", "<=>"})


def _like_to_regex(pat: str) -> str:
    """MySQL LIKE pattern → anchored case-insensitive Java regex:
    % → .*, _ → ., backslash-escaped chars stay literal; (?s) because
    LIKE's % matches line terminators where bare .* would not."""
    out = []
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            out.append(_re.escape(pat[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(_re.escape(c))
        i += 1
    return "(?si)^" + "".join(out) + "$"


def _ci_literals(toks: list[Token]) -> list[Token]:
    """Case-insensitive collation mode: MySQL's default collation
    (latin1_swedish_ci / utf8mb4_general_ci) compares and orders
    strings case-insensitively, so in the reference ``WHERE c = 'ACME'``
    matches ``'acme'`` (mysqld collations feed the comparisons the
    handler builds, ref dbcon/mysql/ha_calpont_execplan.cpp).  Spark
    compares binary by default; Spark 4's collation support closes the
    gap.  This pass wraps string literals that are direct comparison
    operands (``=  <>  !=  <  <=  >  >=  <=>`` and IN-list members) in
    ``collate(lit, 'UTF8_LCASE')`` — Spark's explicit-collation
    precedence then makes the whole comparison case-insensitive.
    ORDER/GROUP BY on columns keep binary collation (use
    ``lower()`` there; only literal comparisons are rewritten)."""
    out = list(toks)
    for idx, (k, t) in enumerate(out):
        if k != "string" or not t.startswith("'"):
            continue
        p = _prev_code(out, idx)
        n = _next_code(out, idx + 1)
        near_cmp = (
            p is not None and out[p][0] == "sym" and out[p][1] in _CMP_SYMS
        ) or (n is not None and out[n][0] == "sym" and out[n][1] in _CMP_SYMS)
        if near_cmp:
            out[idx] = ("code", f"collate({t}, 'UTF8_LCASE')")
    i = 0
    while i < len(out):
        if out[i][0] == "word" and out[i][1].upper() == "IN":
            op = _next_code(out, i + 1)
            if op is not None and out[op] == ("sym", "("):
                close = _match_paren(out, op)
                for j in range(op + 1, close):
                    if out[j][0] == "string" and out[j][1].startswith("'"):
                        out[j] = ("code", f"collate({out[j][1]}, 'UTF8_LCASE')")
                i = close + 1
                continue
        if out[i][0] == "word" and out[i][1].upper() == "LIKE":
            # ci LIKE with a LITERAL pattern folds to an anchored
            # case-insensitive RLIKE — a purely local rewrite (the left
            # operand's span is unknown at token level, and Spark 4's
            # LIKE ignores pattern-side collation).  ESCAPE clauses
            # keep the binary LIKE (rare; collation opt-out documented).
            p = _next_code(out, i + 1)
            if (
                p is not None and out[p][0] == "string"
                and out[p][1].startswith("'")
            ):
                after = _next_code(out, p + 1)
                if not (
                    after is not None and out[after][0] == "word"
                    and out[after][1].upper() == "ESCAPE"
                ):
                    rx = _like_to_regex(_unquote(out[p][1]))
                    out[i] = ("word", "RLIKE")
                    # _sql_str already doubles backslashes for Spark's
                    # escape-processed literals — doubling again made
                    # any metachar-escaping pattern (LIKE '%.com')
                    # silently mismatch
                    out[p] = ("code", _sql_str(rx))
                    i = p + 1
                    continue
        if out[i][0] == "word" and out[i][1].upper() in ("RLIKE", "REGEXP"):
            # MySQL REGEXP follows the (ci) collation — prefix (?i)
            # onto literal patterns; skip patterns that already carry
            # an inline flag group (incl. our own LIKE fold above) so
            # re-entry stays idempotent
            p = _next_code(out, i + 1)
            if (
                p is not None and out[p][0] == "string"
                and out[p][1].startswith("'")
                and not _unquote(out[p][1]).startswith("(?")
            ):
                rx = "(?i)" + _unquote(out[p][1])
                out[p] = ("code", _sql_str(rx))
                i = p + 1
                continue
        i += 1
    return out


#: Clause keywords that end a select list / group-by list scan.
_GB_STOP = frozenset(
    {"HAVING", "ORDER", "LIMIT", "WINDOW", "UNION", "INTERSECT", "EXCEPT",
     "INTO", "FOR", "LOCK"}
)


def _permissive_group_by(toks: list[Token]) -> list[Token]:
    """MySQL's pre-ONLY_FULL_GROUP_BY semantics: a non-aggregated select
    column that isn't in GROUP BY is legal and yields an arbitrary value
    from the group (the reference inherits this — MySQL 5.1 default).
    Spark rejects the query outright, so the classic
    ``SELECT id, name, count(*) ... GROUP BY id`` fails for a migrating
    user on day one.

    Rewrite, per SELECT scope (recursively, by paren depth): wrap each
    select-list item that is a BARE column reference (``col`` /
    ``t.col``, optional alias) and not named in that scope's GROUP BY
    list in ``any_value(col)`` — MySQL 5.7+'s own documented modeling
    of the old behavior.  CONSERVATIVE on purpose: items containing any
    operator, call, or ``*`` are left alone (aggregates and expressions
    already satisfy Spark; a miss just preserves Spark's error), and
    scopes whose GROUP BY uses ordinals resolve them positionally
    first.
    """
    out = list(toks)
    i = 0
    while i < len(out):
        if out[i] == ("word", "SELECT") or (
            out[i][0] == "word" and out[i][1].upper() == "SELECT"
        ):
            _rewrite_one_scope(out, i)
        i += 1
    return out


def _scope_end(toks: list[Token], start: int) -> int:
    """Index just past this scope: the enclosing ')' or end of tokens."""
    depth = 0
    for j in range(start, len(toks)):
        k, t = toks[j]
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            if depth == 0:
                return j
            depth -= 1
    return len(toks)


def _split_top_commas(toks: list[Token], lo: int, hi: int) -> list[tuple[int, int]]:
    """(start, end) spans of comma-separated items in toks[lo:hi]."""
    spans, depth, s = [], 0, lo
    for j in range(lo, hi):
        k, t = toks[j]
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            depth -= 1
        elif depth == 0 and (k, t) == ("sym", ","):
            spans.append((s, j))
            s = j + 1
    spans.append((s, hi))
    return spans


def _bare_column(toks: list[Token], lo: int, hi: int):
    """If the span is a bare column (``col`` / ``t.col`` [AS] [alias]),
    return (col_lo, col_hi_exclusive, canonical_name, alias_or_None);
    else None."""
    codes = [j for j in range(lo, hi) if toks[j][0] not in ("ws", "comment")]
    if not codes:
        return None
    def word(j):
        return toks[j][0] in ("word", "bident")
    # col | t . col
    if not word(codes[0]):
        return None
    pos = 1
    parts = [_ident_text(toks[codes[0]])]
    if len(codes) >= 3 and toks[codes[1]] == ("sym", ".") and word(codes[2]):
        parts.append(_ident_text(toks[codes[2]]))
        pos = 3
    rest = codes[pos:]
    alias = None
    if rest:
        # optional AS alias / bare alias (one word or backtick ident)
        if toks[rest[0]][0] == "word" and toks[rest[0]][1].upper() == "AS":
            rest = rest[1:]
        if len(rest) != 1 or not (word(rest[0]) or toks[rest[0]][0] == "string"):
            return None
        at = toks[rest[0]]
        alias = (_unquote(at[1]) if at[0] == "string" else _ident_text(at)).lower()
    name = parts[-1].lower()
    if parts[0].upper() in _ALIAS_BLOCKERS or name == "*" or toks[codes[0]][1] == "*":
        return None
    end_excl = codes[pos - 1] + 1
    return (codes[0], end_excl, name, alias)


def _rewrite_one_scope(out: list[Token], sel_i: int) -> None:
    end = _scope_end(out, sel_i + 1)
    # find FROM and GROUP BY at depth 0 within the scope
    depth = 0
    from_i = group_i = None
    j = sel_i + 1
    while j < end:
        k, t = out[j]
        if (k, t) == ("sym", "("):
            j = _match_paren(out, j)
        elif k == "word":
            u = t.upper()
            if u == "FROM" and from_i is None:
                from_i = j
            elif u == "GROUP" and from_i is not None:
                nx = _next_code(out, j + 1)
                if nx is not None and out[nx][1].upper() == "BY":
                    group_i = j
                    break
        j += 1
    if from_i is None or group_i is None:
        return
    by_i = _next_code(out, group_i + 1)
    # group-by item spans end at a stop keyword or scope end
    gb_end = end
    j = by_i + 1
    while j < end:
        k, t = out[j]
        if (k, t) == ("sym", "("):
            j = _match_paren(out, j)
        elif k == "word" and t.upper() in _GB_STOP:
            gb_end = j
            break
        j += 1
    sel_spans = _split_top_commas(out, sel_i + 1, from_i)
    gb_spans = _split_top_commas(out, by_i + 1, gb_end)
    # GROUP BY names: bare columns + ordinals resolved against the list;
    # any non-bare group item (expression) aborts the rewrite — matching
    # it textually would be guesswork
    grouped: set[str] = set()
    for lo, hi in gb_spans:
        codes = [j for j in range(lo, hi) if out[j][0] not in ("ws", "comment")]
        if len(codes) == 1 and out[codes[0]][0] == "number":
            ordv = int(out[codes[0]][1]) - 1
            if 0 <= ordv < len(sel_spans):
                bc = _bare_column(out, *sel_spans[ordv])
                if bc:
                    grouped.add(bc[2])
                    if bc[3]:
                        grouped.add(bc[3])
            continue
        bc = _bare_column(out, lo, hi)
        if bc is None:
            return
        grouped.add(bc[2])
    # select aliases are valid targets for ORDER BY and count as
    # "resolvable" even after the item is wrapped
    sel_aliases = set()
    for lo, hi in sel_spans:
        bc = _bare_column(out, lo, hi)
        if bc:
            # explicit alias, or the column's own name — a bare item
            # (wrapped or not) always yields an output column with that
            # name, which ORDER BY resolves without re-wrapping
            sel_aliases.add(bc[3] or bc[2])
            continue
        # non-bare item (aggregate/expression): its LAST code token, if
        # an identifier, is a potential output alias (``count(*) c``).
        # Over-collecting is safe — a false positive only SKIPS the
        # ORDER BY wrap, preserving Spark's own resolution/error.
        codes = [j for j in range(lo, hi) if out[j][0] not in ("ws", "comment")]
        if codes and out[codes[-1]][0] in ("word", "bident", "string"):
            t = out[codes[-1]]
            sel_aliases.add(
                (_unquote(t[1]) if t[0] == "string" else _ident_text(t)).lower()
            )
    # ORDER BY under GROUP BY is equally permissive in MySQL 5.1: an
    # ungrouped bare column there also wraps in any_value
    ob_spans: list[tuple[int, int]] = []
    j = gb_end
    while j < end:
        k, t = out[j]
        if (k, t) == ("sym", "("):
            j = _match_paren(out, j)
        elif k == "word" and t.upper() == "ORDER":
            nx = _next_code(out, j + 1)
            if nx is not None and out[nx][1].upper() == "BY":
                ob_end = end
                jj = nx + 1
                while jj < end:
                    kk, tt = out[jj]
                    if (kk, tt) == ("sym", "("):
                        jj = _match_paren(out, jj)
                    elif kk == "word" and tt.upper() in (
                        "LIMIT", "UNION", "INTERSECT", "EXCEPT", "INTO",
                        "FOR", "LOCK",
                    ):
                        ob_end = jj
                        break
                    jj += 1
                ob_spans = _split_top_commas(out, nx + 1, ob_end)
                break
        j += 1
    for lo, hi in reversed(ob_spans):
        # strip a trailing ASC/DESC before the bare-column check
        codes = [j for j in range(lo, hi) if out[j][0] not in ("ws", "comment")]
        chi = hi
        if codes and out[codes[-1]][0] == "word" and out[codes[-1]][1].upper() in (
            "ASC", "DESC",
        ):
            chi = codes[-1]
        bc = _bare_column(out, lo, chi)
        if bc is None or bc[3] is not None:
            continue
        c_lo, c_hi, name, _ = bc
        if name in grouped or name in sel_aliases:
            continue
        out[c_lo:c_hi] = [("code", f"any_value({render(out[c_lo:c_hi]).strip()})")]
    # wrap ungrouped bare select columns right-to-left (indices stay valid)
    for lo, hi in reversed(sel_spans):
        bc = _bare_column(out, lo, hi)
        if bc is None:
            continue
        c_lo, c_hi, name, alias = bc
        if name in grouped or (alias and alias in grouped):
            continue
        has_alias = any(
            out[j][0] not in ("ws", "comment") for j in range(c_hi, hi)
        )
        expr = render(out[c_lo:c_hi]).strip()
        repl = f"any_value({expr})" + ("" if has_alias else f" AS {name}")
        out[c_lo:c_hi] = [("code", repl)]


def translate_mysql(
    sql: str, *, ci_collation: bool = False, strict_group_by: bool = False
) -> str:
    """MySQL-dialect SQL → Spark SQL (the ``getSelectPlan`` analog).

    ``ci_collation=True`` reproduces MySQL's default case-insensitive
    collation for string-literal comparisons (see ``_ci_literals``);
    ``strict_group_by=True`` disables the permissive-GROUP-BY rewrite,
    matching ``sql_mode = ONLY_FULL_GROUP_BY`` (InfiniSession passes it
    when the session variable contains that flag).
    """
    # a trailing statement terminator would otherwise sit inside the
    # last clause's token span and defeat span-scoped rewrites (the
    # permissive ORDER BY wrap, ASC/DESC handling)
    sql = sql.rstrip().rstrip(";").rstrip()
    # literal-comparison coercion and boolean-context truthiness folds
    # run BEFORE _rewrite so wrapped operands still get their inner
    # MySQL-function translation
    toks = _rewrite(
        _rewrite_bit_ops(_rewrite_sounds_like(_fold_boolean_contexts(
            _fold_string_arith(_fold_numeric_string_cmp(tokenize(sql)))
        )))
    )
    if not strict_group_by:
        toks = _permissive_group_by(toks)
    if ci_collation:
        toks = _ci_literals(toks)
    # strip: the truthiness folds pad their emissions with spaces, and
    # a trailing space would break idempotency (re-entry rstrips input)
    return render(_string_aliases(toks)).strip()


# ------------------------------------------------------- DML statements
#
# The reference routes INSERT/UPDATE/DELETE through DMLProc
# (`dbcon/mysql/ha_calpont_dml.cpp:605`, grammar
# `dbcon/dmlpackage/dml.y:424-530`); UPDATE/DELETE internally run a
# SELECT to locate rows.  Here the statement is parsed at token level
# and handed to the copy-on-write operators in operators/dml.py by
# ``InfiniSession.execute`` — expressions inside SET/WHERE/VALUES go
# through the same dialect rewrites as SELECT text.


def _ident_text(tok: Token) -> str:
    return tok[1][1:-1] if tok[0] == "bident" else tok[1]


def _expect_ident(toks: list[Token], i: int | None, what: str) -> tuple[str, int]:
    if i is None or toks[i][0] not in ("word", "bident"):
        raise DialectError(f"expected {what}")
    return _ident_text(toks[i]), i


def _top_level_word(toks: list[Token], *words: str) -> int | None:
    depth = 0
    for i, (k, t) in enumerate(toks):
        if (k, t) == ("sym", "("):
            depth += 1
        elif (k, t) == ("sym", ")"):
            depth -= 1
        elif depth == 0 and k == "word" and t.upper() in words:
            return i
    return None


def _where_cond(toks: list[Token], where_i: int | None, stmt: str) -> list[Token] | None:
    """The condition tokens after a DML's top-level WHERE, or None when
    there is no WHERE.  A WHERE with nothing after it is a syntax error
    (MySQL 1064) — never an always-true filter."""
    if where_i is None:
        return None
    cond = toks[where_i + 1 :]
    if _next_code(cond, 0) is None:
        raise DialectError(f"{stmt} ... WHERE without a search condition")
    return cond


#: clause keywords that must be followed by an argument
_CLAUSES = ("WHERE", "HAVING", "LIMIT", "ON", "GROUP BY", "ORDER BY")


def _reject_dangling_clause(toks: list[Token]) -> None:
    """A statement that ends in a top-level clause keyword (``SELECT *
    FROM t WHERE``) is MySQL's syntax error 1064, never a query: Spark
    would read a bare trailing WHERE as an alias of ``t`` and return
    every row."""
    code = [t for t in toks if t[0] not in ("ws", "comment")]
    if code.count(("sym", "(")) != code.count(("sym", ")")):
        return  # the dangling word is inside a parenthesized span
    tail = [t[1].upper() if t[0] == "word" else "" for t in code[-2:]]
    for clause in (tail[-1], " ".join(tail)):
        if clause in _CLAUSES:
            raise DialectError(f"{clause} without an argument")


def parse_statement(sql: str) -> dict:
    """Classify + parse one statement.  Returns a dict with ``kind`` ∈
    select|insert|update|delete; SELECTs carry the translated ``sql``,
    DML carries table/columns/assignments/where parts (text, already
    dialect-rewritten)."""
    # same pre-passes as translate_mysql: a DML WHERE takes MySQL
    # truthiness too (`DELETE FROM t WHERE flag`)
    toks = _rewrite(
        _rewrite_bit_ops(_rewrite_sounds_like(_fold_boolean_contexts(
            _fold_string_arith(_fold_numeric_string_cmp(tokenize(sql)))
        )))
    )
    # drop trailing statement terminators HERE — not just in
    # translate_mysql — so a client's `UPDATE t SET a = 1;` doesn't
    # leave the ';' inside the SET/WHERE expression text
    while toks and (
        toks[-1][0] in ("ws", "comment") or toks[-1] == ("sym", ";")
    ):
        toks.pop()
    i = _next_code(toks, 0)
    if i is None:
        raise DialectError("empty statement")
    kind = toks[i][1].upper() if toks[i][0] == "word" else ""
    if kind == "INSERT":
        return _parse_insert(toks, i)
    if kind == "REPLACE":
        # REPLACE dup-handling needs a PRIMARY/UNIQUE key; InfiniDB
        # tables have none, so per MySQL's documented semantics REPLACE
        # behaves exactly like INSERT (same degradation as INSERT
        # IGNORE / ON DUPLICATE KEY UPDATE on keyless tables)
        return _parse_insert(toks, i)
    if kind == "UPDATE":
        return _parse_update(toks, i)
    if kind == "DELETE":
        return _parse_delete(toks, i)
    if kind == "EXPLAIN":
        return {"kind": "explain", "sql": render(toks[i + 1 :]).strip()}
    if kind == "CREATE":
        return _parse_create(toks, i)
    if kind in ("DROP", "TRUNCATE"):
        return _parse_drop_truncate(toks, i, kind)
    if kind == "ALTER":
        return _parse_alter(toks, i)
    if kind == "RENAME":
        # RENAME TABLE old TO new [, old2 TO new2 ...] — MySQL's
        # standalone rename statement (the reference routes it through
        # the same DDL path as ALTER ... RENAME, ddl.y AtaRenameTable)
        j = _next_code(toks, i + 1)
        if j is None or toks[j][0] != "word" or toks[j][1].upper() != "TABLE":
            raise DialectError("RENAME expects TABLE")
        pairs: list[tuple[str, str]] = []
        for part in _split_args(toks[j + 1 :]):
            k = _next_code(part, 0)
            old, k = _expect_ident(part, k, "table name in RENAME TABLE")
            t = _next_code(part, k + 1)
            if t is None or part[t][0] != "word" or part[t][1].upper() != "TO":
                raise DialectError("RENAME TABLE expects 'old TO new'")
            new, k2 = _expect_ident(
                part, _next_code(part, t + 1), "new table name in RENAME TABLE"
            )
            if _next_code(part, k2 + 1) is not None:
                raise DialectError("unexpected tokens in RENAME TABLE pair")
            pairs.append((old, new))
        if not pairs:
            raise DialectError("RENAME TABLE requires at least one pair")
        return {"kind": "rename_tables", "pairs": pairs}
    if kind == "LOAD":
        return _parse_load_data(toks, i)
    if kind in ("BEGIN", "COMMIT", "ROLLBACK", "START", "SAVEPOINT", "RELEASE"):
        # transaction control (`dbcon/dmlpackage/dml.y:424-530` commit/
        # rollback statements; the reference resolves them through the
        # version buffer)
        if kind == "SAVEPOINT":
            name, j = _expect_ident(toks, _next_code(toks, i + 1), "savepoint name")
            if _next_code(toks, j + 1) is not None:
                raise DialectError("unexpected tokens after SAVEPOINT")
            return {"kind": "savepoint", "name": name}
        if kind == "RELEASE":
            j = _next_code(toks, i + 1)
            if j is None or toks[j][1].upper() != "SAVEPOINT":
                raise DialectError("expected SAVEPOINT after RELEASE")
            name, j = _expect_ident(toks, _next_code(toks, j + 1), "savepoint name")
            if _next_code(toks, j + 1) is not None:
                raise DialectError("unexpected tokens after RELEASE SAVEPOINT")
            return {"kind": "release_savepoint", "name": name}
        if kind == "START":
            j = _next_code(toks, i + 1)
            if j is None or toks[j][1].upper() != "TRANSACTION":
                raise DialectError("expected TRANSACTION after START")
            j = _next_code(toks, j + 1)
        else:
            j = _next_code(toks, i + 1)
            if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "WORK":
                j = _next_code(toks, j + 1)  # BEGIN/COMMIT/ROLLBACK WORK
            if (
                kind == "ROLLBACK"
                and j is not None
                and toks[j][0] == "word"
                and toks[j][1].upper() == "TO"
            ):
                j = _next_code(toks, j + 1)
                if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "SAVEPOINT":
                    j = _next_code(toks, j + 1)
                name, j = _expect_ident(toks, j, "savepoint name after ROLLBACK TO")
                if _next_code(toks, j + 1) is not None:
                    raise DialectError("unexpected tokens after ROLLBACK TO")
                return {"kind": "rollback_to", "name": name}
        if j is not None:
            raise DialectError(f"unexpected tokens after {kind}")
        return {"kind": {"START": "begin", "BEGIN": "begin"}.get(kind, kind.lower())}
    if kind == "SET":
        j = _next_code(toks, i + 1)
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "AUTOCOMMIT":
            eq = _next_code(toks, j + 1)
            v = _next_code(toks, eq + 1) if eq is not None else None
            if (
                eq is None or toks[eq] != ("sym", "=")
                or v is None or toks[v][1] not in ("0", "1")
            ):
                raise DialectError("expected SET autocommit = 0|1")
            return {"kind": "set_autocommit", "value": toks[v][1] == "1"}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "NAMES":
            # SET NAMES <charset> [COLLATE <collation>] — the first
            # statement every MySQL client sends; connection charset is
            # meaningless here (Spark strings are UTF-8), accepted as a
            # recorded no-op like mysqld under a UTF-8 server
            v = _next_code(toks, j + 1)
            if v is None or toks[v][0] not in ("word", "string"):
                raise DialectError("expected charset after SET NAMES")
            return {"kind": "set_sysvar", "name": "character_set_client",
                    "value": _unquote(toks[v][1]) if toks[v][0] == "string" else toks[v][1]}
        # SET [SESSION|GLOBAL|LOCAL] <sysvar> = <value> — client/session
        # system variables (sql_mode, charsets, timeouts...).  Stored and
        # echoed by SHOW VARIABLES; none changes engine behavior except
        # autocommit (handled above) — matching how the reference's
        # engine ignores most mysqld knobs.
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
            "SESSION", "GLOBAL", "LOCAL",
        ):
            j = _next_code(toks, j + 1)
        if j is not None and toks[j][0] == "word":
            name = toks[j][1].lower()
            eq = _next_code(toks, j + 1)
            if eq is not None and toks[eq] == ("sym", "="):
                value = render(toks[eq + 1 :]).strip().rstrip(";").strip()
                if name == "autocommit":
                    if value not in ("0", "1"):
                        raise DialectError("expected SET autocommit = 0|1")
                    return {"kind": "set_autocommit", "value": value == "1"}
                return {"kind": "set_sysvar", "name": name,
                        "value": _unquote(value) if value[:1] in "'\"" else value}
        raise DialectError("unsupported SET statement")
    if kind == "SHOW":
        j = _next_code(toks, i + 1)
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "FULL":
            nxt = _next_code(toks, j + 1)
            if nxt is not None and toks[nxt][1].upper() == "PROCESSLIST":
                return {"kind": "processlist"}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "PROCESSLIST":
            return {"kind": "processlist"}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "CREATE":
            k = _next_code(toks, j + 1)
            if k is None or toks[k][1].upper() != "TABLE":
                raise DialectError("expected TABLE after SHOW CREATE")
            table, _ = _expect_ident(
                toks, _next_code(toks, k + 1), "table after SHOW CREATE TABLE"
            )
            return {"kind": "show_create", "table": table}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
            "VARIABLES", "STATUS",
        ):
            # SHOW [SESSION|GLOBAL] VARIABLES [LIKE 'pat'] / SHOW STATUS
            like = None
            k = _next_code(toks, j + 1)
            if k is not None and toks[k][1].upper() == "LIKE":
                v = _next_code(toks, k + 1)
                if v is None or toks[v][0] != "string":
                    raise DialectError("expected pattern after LIKE")
                like = _unquote(toks[v][1])
            return {"kind": "show_variables", "like": like,
                    "status": toks[j][1].upper() == "STATUS"}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
            "SESSION", "GLOBAL",
        ):
            nxt = _next_code(toks, j + 1)
            if nxt is not None and toks[nxt][1].upper() in ("VARIABLES", "STATUS"):
                return parse_statement(
                    "SHOW " + render(toks[nxt:]).strip()
                )
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "DATABASES":
            return {"kind": "show_databases"}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "TABLE":
            nxt = _next_code(toks, j + 1)
            if nxt is not None and toks[nxt][1].upper() == "STATUS":
                like = None
                k = _next_code(toks, nxt + 1)
                if k is not None and toks[k][1].upper() == "LIKE":
                    v = _next_code(toks, k + 1)
                    if v is None or toks[v][0] != "string":
                        raise DialectError("expected pattern after LIKE")
                    like = _unquote(toks[v][1])
                return {"kind": "show_table_status", "like": like}
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "TABLES":
            # SHOW TABLES [LIKE 'pat'] — MySQL single-column result
            like = None
            k = _next_code(toks, j + 1)
            if k is not None and toks[k][1].upper() == "LIKE":
                v = _next_code(toks, k + 1)
                if v is None or toks[v][0] != "string":
                    raise DialectError("expected pattern after SHOW TABLES LIKE")
                like = _unquote(toks[v][1])
            return {"kind": "show_tables", "like": like}
        cols_at = j
        full = False
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "FULL":
            nxt = _next_code(toks, j + 1)
            if nxt is not None and toks[nxt][1].upper() in ("COLUMNS", "FIELDS"):
                cols_at, full = nxt, True
        if (
            cols_at is not None
            and toks[cols_at][0] == "word"
            and toks[cols_at][1].upper() in ("COLUMNS", "FIELDS")
        ):
            # SHOW [FULL] COLUMNS FROM t — MySQL Field/Type/Null/... shape
            k = _next_code(toks, cols_at + 1)
            if k is None or toks[k][1].upper() not in ("FROM", "IN"):
                raise DialectError("expected FROM after SHOW COLUMNS")
            table, _ = _expect_ident(
                toks, _next_code(toks, k + 1), "table after SHOW COLUMNS FROM"
            )
            return {"kind": "show_columns", "table": table, "full": full}
        # client-handshake/introspection SHOW forms (mysqld surface the
        # reference inherits unmodified — `dbcon/mysql/` leaves these to
        # the server layer; clients and BI tools send them at connect)
        word = toks[j][1].upper() if j is not None and toks[j][0] == "word" else ""
        if word == "ENGINES":
            return {"kind": "show_engines"}
        if word == "CHARSET" or (
            word == "CHARACTER"
            and (k := _next_code(toks, j + 1)) is not None
            and toks[k][1].upper() == "SET"
        ):
            return {"kind": "show_charset"}
        if word == "COLLATION":
            return {"kind": "show_collation"}
        if word in ("WARNINGS", "ERRORS"):
            # [LIMIT ...] accepted and ignored (the diagnostics area is
            # small)
            return {"kind": "show_warnings", "errors_only": word == "ERRORS"}
        if word == "COUNT":
            # SHOW COUNT(*) WARNINGS / ERRORS — the @@warning_count form
            k = _next_code(toks, j + 1)
            k2 = _next_code(toks, k + 1) if k is not None else None
            k3 = _next_code(toks, k2 + 1) if k2 is not None else None
            tail_w = _next_code(toks, k3 + 1) if k3 is not None else None
            if (
                k is not None and toks[k] == ("sym", "(")
                and k2 is not None and toks[k2] == ("sym", "*")
                and k3 is not None and toks[k3] == ("sym", ")")
                and tail_w is not None
                and toks[tail_w][1].upper() in ("WARNINGS", "ERRORS")
            ):
                return {
                    "kind": "show_warning_count",
                    "errors_only": toks[tail_w][1].upper() == "ERRORS",
                }
        if word in ("INDEX", "INDEXES", "KEYS"):
            k = _next_code(toks, j + 1)
            if k is None or toks[k][1].upper() not in ("FROM", "IN"):
                raise DialectError(f"expected FROM after SHOW {word}")
            table, _ = _expect_ident(
                toks, _next_code(toks, k + 1), f"table after SHOW {word} FROM"
            )
            return {"kind": "show_index", "table": table}
        if word == "GRANTS":
            return {"kind": "show_grants"}
        if word == "OPEN":
            k = _next_code(toks, j + 1)
            if k is not None and toks[k][1].upper() == "TABLES":
                return {"kind": "show_open_tables"}
        if word == "TRIGGERS":
            return {"kind": "show_triggers"}
        # other SHOW forms (DATABASES, ...) parse natively in Spark
    if kind == "USE":
        # USE <db> — the session is single-schema; the name is recorded
        # (SHOW TABLES' Tables_in_<db> header, information_schema rows)
        db, _ = _expect_ident(toks, _next_code(toks, i + 1), "database after USE")
        return {"kind": "use", "database": db}
    if kind == "FLUSH":
        # FLUSH TABLES / PRIVILEGES / ... — the one engine-visible effect
        # is the table/file-listing cache drop (mysqld closes table
        # handles); everything else is a server-layer ack
        return {"kind": "flush", "what": render(toks[i + 1 :]).strip().upper()}
    if kind == "LOCK":
        j = _next_code(toks, i + 1)
        if j is None or toks[j][1].upper() not in ("TABLES", "TABLE"):
            raise DialectError("expected TABLES after LOCK")
        return {"kind": "lock_tables", "spec": render(toks[j + 1 :]).strip()}
    if kind == "UNLOCK":
        j = _next_code(toks, i + 1)
        if j is None or toks[j][1].upper() not in ("TABLES", "TABLE"):
            raise DialectError("expected TABLES after UNLOCK")
        return {"kind": "unlock_tables"}
    if kind == "KILL":
        j = _next_code(toks, i + 1)
        what = "connection"
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
            "QUERY", "CONNECTION",
        ):
            what = toks[j][1].lower()
            j = _next_code(toks, j + 1)
        if j is None or toks[j][0] != "number":
            raise DialectError("expected thread id after KILL")
        return {"kind": "kill", "id": int(toks[j][1]), "what": what}
    if kind == "DO":
        # DO expr[, expr]: evaluate for side effects, return no result
        return {"kind": "do", "exprs": render(toks[i + 1 :]).strip()}
    if kind == "HELP":
        j = _next_code(toks, i + 1)
        topic = _unquote(toks[j][1]) if j is not None and toks[j][0] == "string" else ""
        return {"kind": "help", "topic": topic}
    if kind in ("CHECK", "ANALYZE", "OPTIMIZE", "REPAIR"):
        j = _next_code(toks, i + 1)
        # ANALYZE [NO_WRITE_TO_BINLOG|LOCAL] TABLE (mysqld grammar)
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
            "NO_WRITE_TO_BINLOG", "LOCAL",
        ):
            j = _next_code(toks, j + 1)
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "TABLE":
            tables = []
            k = _next_code(toks, j + 1)
            while k is not None and toks[k][0] in ("word", "bident"):
                tables.append(_ident_text(toks[k]))
                k = _next_code(toks, k + 1)
                if k is not None and toks[k] == ("sym", ","):
                    k = _next_code(toks, k + 1)
                else:
                    break  # trailing options (QUICK, EXTENDED...) ignored
            if tables:
                return {"kind": "table_maint", "op": kind.lower(), "tables": tables}
    if kind in ("DESCRIBE", "DESC"):
        j = _next_code(toks, i + 1)
        if j is not None and toks[j][0] in ("word", "bident") and toks[j][1].upper() not in (
            "SELECT", "TABLE", "EXTENDED", "FORMATTED",
        ):
            table = _ident_text(toks[j])
            if _next_code(toks, j + 1) is None:
                # bare DESCRIBE t = SHOW COLUMNS FROM t (MySQL)
                return {"kind": "show_columns", "table": table, "full": False}
    if kind == "SELECT":
        adm = _parse_admin(toks, i)
        if adm is not None:
            return adm
        outfile = _parse_into_outfile(toks)
        if outfile is not None:
            return outfile
    _reject_dangling_clause(toks)
    return {"kind": "select", "sql": render(toks)}


def _parse_into_outfile(toks: list[Token]) -> dict | None:
    """``SELECT ... INTO OUTFILE 'path' [FIELDS TERMINATED BY s
    [OPTIONALLY] ENCLOSED BY c] [ESCAPED BY c] [LINES TERMINATED BY s]``
    — the mysqld export surface (MySQL places the INTO clause either
    before FROM or at statement end; both are accepted: the clause is
    excised and the rest renders as the query).  Returns None when the
    statement has no top-level INTO."""
    into_i = _top_level_word(toks, "INTO")
    if into_i is None:
        return None
    j = _next_code(toks, into_i + 1)
    if j is not None and toks[j] == ("sym", "@"):
        # SELECT ... INTO @a[, @b ...]: variable assignment form
        names: list[str] = []
        while j is not None and toks[j] == ("sym", "@"):
            k = _next_code(toks, j + 1)
            if k is None or toks[k][0] != "word":
                raise DialectError("expected a variable name after @")
            names.append(toks[k][1])
            j = _next_code(toks, k + 1)
            if j is not None and toks[j] == ("sym", ","):
                j = _next_code(toks, j + 1)
            else:
                break
        remaining = toks[:into_i] + (toks[j:] if j is not None else [])
        return {"kind": "select_into_vars", "sql": render(remaining).strip(),
                "names": names}
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "OUTFILE":
        raise DialectError("only INTO OUTFILE / INTO @var is supported (no DUMPFILE)")
    j = _next_code(toks, j + 1)
    if j is None or toks[j][0] != "string":
        raise DialectError("INTO OUTFILE requires a quoted file path")
    path = _unquote(toks[j][1])
    opts, end = _parse_fields_lines(toks, _next_code(toks, j + 1))
    remaining = toks[:into_i] + (toks[end:] if end is not None else [])
    return {"kind": "select_into_outfile", "sql": render(remaining).strip(),
            "path": path, **opts}


def _escaped_str_arg(toks: list[Token], k: int | None, what: str) -> tuple[str, int]:
    if k is None or toks[k][0] != "string":
        raise DialectError(f"{what} requires a quoted string")
    # \n/\t/\r spelled inside the SQL literal mean the control char
    # (MySQL escape semantics); _unquote already resolved \\ and \'
    val = _unquote(toks[k][1])
    for esc, ch in (("\\n", "\n"), ("\\t", "\t"), ("\\r", "\r"), ("\\0", "\0")):
        val = val.replace(esc, ch)
    return val, k


def _parse_fields_lines(
    toks: list[Token], start: int | None
) -> tuple[dict, int | None]:
    """Shared ``[FIELDS TERMINATED BY s [OPTIONALLY] ENCLOSED BY c
    ESCAPED BY c] [LINES TERMINATED BY s]`` clause of INTO OUTFILE and
    LOAD DATA INFILE; returns (options, index after the clause)."""
    opts = {
        "sep": "\t", "quote": None, "escape": "\\", "line_sep": "\n",
        # MySQL: bare ENCLOSED BY wraps every field; OPTIONALLY wraps
        # string columns only
        "quote_optional": False,
    }
    end = start
    while end is not None and toks[end][0] == "word":
        word = toks[end][1].upper()
        if word == "FIELDS":
            k = _next_code(toks, end + 1)
            while k is not None and toks[k][0] == "word" and toks[k][1].upper() in (
                "TERMINATED", "OPTIONALLY", "ENCLOSED", "ESCAPED",
            ):
                w = toks[k][1].upper()
                if w == "OPTIONALLY":
                    opts["quote_optional"] = True
                    k = _next_code(toks, k + 1)
                    continue
                by = _next_code(toks, k + 1)
                if by is None or toks[by][1].upper() != "BY":
                    raise DialectError(f"expected BY after {w}")
                val, vi = _escaped_str_arg(toks, _next_code(toks, by + 1), f"{w} BY")
                if w == "TERMINATED":
                    opts["sep"] = val
                elif w == "ENCLOSED":
                    opts["quote"] = val
                else:
                    opts["escape"] = val
                k = _next_code(toks, vi + 1)
            end = k
        elif word == "LINES":
            k = _next_code(toks, end + 1)
            if k is None or toks[k][1].upper() != "TERMINATED":
                raise DialectError("expected TERMINATED after LINES")
            by = _next_code(toks, k + 1)
            if by is None or toks[by][1].upper() != "BY":
                raise DialectError("expected BY after LINES TERMINATED")
            val, vi = _escaped_str_arg(
                toks, _next_code(toks, by + 1), "LINES TERMINATED BY"
            )
            opts["line_sep"] = val
            end = _next_code(toks, vi + 1)
        else:
            break
    return opts, end


def _parse_load_data(toks: list[Token], i: int) -> dict:
    """``LOAD DATA [LOCAL] INFILE 'path' INTO TABLE t [FIELDS …]
    [LINES …] [IGNORE 1 LINES] [(col, …)]`` — the mysqld bulk-ingest
    statement the reference intercepts and routes to cpimport
    (`dbcon/mysql/ha_calpont_impl.cpp` load-data path;
    `writeengine/bulk/cpimport.cpp:102`)."""
    j = _next_code(toks, i + 1)
    if j is None or toks[j][1].upper() != "DATA":
        raise DialectError("expected DATA after LOAD")
    j = _next_code(toks, j + 1)
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "LOCAL":
        j = _next_code(toks, j + 1)  # LOCAL is a client-side flag; accepted
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "INFILE":
        raise DialectError("expected INFILE in LOAD DATA")
    j = _next_code(toks, j + 1)
    if j is None or toks[j][0] != "string":
        raise DialectError("LOAD DATA INFILE requires a quoted file path")
    path = _unquote(toks[j][1])
    j = _next_code(toks, j + 1)
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
        "REPLACE", "IGNORE",
    ):
        raise DialectError(
            "LOAD DATA REPLACE/IGNORE duplicate handling is not supported "
            "(the engine has no unique keys, like the reference)"
        )
    if j is None or toks[j][1].upper() != "INTO":
        raise DialectError("expected INTO TABLE in LOAD DATA")
    j = _next_code(toks, j + 1)
    if j is None or toks[j][1].upper() != "TABLE":
        raise DialectError("expected TABLE after INTO")
    table, j = _expect_ident(toks, _next_code(toks, j + 1), "table after INTO TABLE")
    opts, end = _parse_fields_lines(toks, _next_code(toks, j + 1))
    skip_header = False
    if end is not None and toks[end][0] == "word" and toks[end][1].upper() == "IGNORE":
        n_i = _next_code(toks, end + 1)
        lines_i = _next_code(toks, n_i + 1) if n_i is not None else None
        if (
            n_i is None or toks[n_i][0] != "number"
            or lines_i is None or toks[lines_i][1].upper() not in ("LINES", "ROWS")
        ):
            raise DialectError("expected IGNORE <n> LINES")
        if toks[n_i][1] != "1":
            raise DialectError("only IGNORE 1 LINES is supported (header skip)")
        skip_header = True
        end = _next_code(toks, lines_i + 1)
    columns: list[str] | None = None
    if end is not None and toks[end] == ("sym", "("):
        close = _match_paren(toks, end)
        columns = [
            _ident_text(t) for t in toks[end + 1 : close] if t[0] in ("word", "bident")
        ]
        end = _next_code(toks, close + 1)
    if end is not None:
        raise DialectError(f"unexpected trailing tokens in LOAD DATA: {toks[end][1]!r}")
    return {"kind": "load_data", "table": table, "path": path,
            "skip_header": skip_header, "columns": columns, **opts}


#: The reference's administrative UDFs, registered into mysqld and
#: invoked as ``select calfoo(...)`` (`dbcon/mysql/ha_calpont_impl.cpp:
#: 1713-2254`, `ha_calpont_partition.cpp:854-1160`).  A SELECT whose
#: entire select-list is one of these calls with literal arguments is an
#: ADMIN statement, routed to the session's admin dispatcher rather
#: than planned as a query.
_ADMIN_FUNCS = frozenset(
    {
        "calshowpartitions",
        "caldisablepartitions",
        "calenablepartitions",
        "caldroppartitions",
        "calflushcache",
        "calsettrace",
        "calgettrace",
        "calgetstats",
        "calviewtablelock",
        "calcleartablelock",
        "calshowpartitionsbyvalue",
        "caldisablepartitionsbyvalue",
        "calenablepartitionsbyvalue",
        "caldroppartitionsbyvalue",
        "callastinsertid",
        "calgetversion",
        "calonlinealter",
        "calsetparms",
    }
)


def _parse_admin(toks: list[Token], i: int) -> dict | None:
    """``SELECT cal<admin>('a', 'b', ...)`` → {"kind": "admin", "func",
    "args"} — or None if the statement is a real query (any FROM,
    non-literal args, extra select-list items)."""
    j = _next_code(toks, i + 1)
    if j is None or toks[j][0] != "word" or toks[j][1].lower() not in _ADMIN_FUNCS:
        return None
    name = toks[j][1].lower()
    k = _next_code(toks, j + 1)
    if k is None or toks[k] != ("sym", "("):
        return None
    try:
        close = _match_paren(toks, k)
    except DialectError:
        return None
    args: list = []
    for part in _split_args(toks[k + 1 : close]):
        codes = [t for t in part if t[0] not in ("ws", "comment")]
        if not codes:
            continue
        neg = False
        if len(codes) == 2 and codes[0] == ("sym", "-") and codes[1][0] == "number":
            neg, codes = True, codes[1:]
        if len(codes) != 1:
            return None
        knd, text = codes[0]
        if neg:
            args.append(-(int(text) if text.isdigit() else float(text)))
            continue
        if knd == "string":
            args.append(_unquote(text))
        elif knd == "number":
            args.append(int(text) if text.isdigit() else float(text))
        elif knd == "word" and text.upper() == "NULL":
            # byvalue range bounds accept NULL = unbounded
            # (`ha_calpont_partition.cpp:640-670`)
            args.append(None)
        else:
            return None
    rest = _next_code(toks, close + 1)
    if rest is not None and toks[rest] != ("sym", ";"):
        return None
    return {"kind": "admin", "func": name, "args": args}


#: MySQL column type → Spark SQL type (SURVEY §1.2 mapping; reference
#: enum `dbcon/execplan/calpontsystemcatalog.h:129-158`).  Display
#: widths are ignored; UNSIGNED widens per the survey (Spark has no
#: unsigned integers).
_MYSQL_TYPES = {
    "BIT": "boolean", "BOOLEAN": "boolean", "BOOL": "boolean",
    "TINYINT": ("tinyint", "smallint"), "SMALLINT": ("smallint", "int"),
    "MEDIUMINT": ("int", "int"), "INT": ("int", "bigint"),
    "INTEGER": ("int", "bigint"), "BIGINT": ("bigint", "decimal(20,0)"),
    "FLOAT": "float", "DOUBLE": "double", "REAL": "double",
    "CHAR": "string", "VARCHAR": "string", "TEXT": "string",
    "TINYTEXT": "string", "MEDIUMTEXT": "string", "LONGTEXT": "string",
    # DATETIME is zoneless in MySQL (dataconvert.h:142-160 bitfield) →
    # timestamp_ntz; TIMESTAMP is the session-zone type → ltz timestamp
    "DATE": "date", "DATETIME": "timestamp_ntz", "TIMESTAMP": "timestamp",
    "TIME": "string", "VARBINARY": "binary", "BLOB": "binary",
    "CLOB": "string",
}


def _parse_mysql_type(toks: list[Token], i: int | None) -> tuple[str, int]:
    """Parse a MySQL column type at ``i`` → (spark_type, next_index)."""
    if i is None or toks[i][0] != "word":
        raise DialectError("expected a column type")
    name = toks[i][1].upper()
    args: list[str] = []
    j = _next_code(toks, i + 1)
    if j is not None and toks[j] == ("sym", "("):
        close = _match_paren(toks, j)
        args = [render(a).strip() for a in _split_args(toks[j + 1 : close])]
        j = _next_code(toks, close + 1)
    unsigned = False
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() in ("UNSIGNED", "SIGNED"):
        unsigned = toks[j][1].upper() == "UNSIGNED"
        j = _next_code(toks, j + 1)
    if name in ("DECIMAL", "NUMERIC", "NUMBER"):
        p = args[0] if args else "10"
        s = args[1] if len(args) > 1 else "0"
        return f"decimal({p},{s})", j if j is not None else len(toks)
    spark = _MYSQL_TYPES.get(name)
    if spark is None:
        raise DialectError(f"unsupported column type {name}")
    if isinstance(spark, tuple):
        spark = spark[1] if unsigned else spark[0]
    return spark, j if j is not None else len(toks)


#: SQL-92 user specials allowed in DEFAULT (ddl.y default_clause);
#: all denote the session user → Spark's current_user()
_USER_SPECIALS = frozenset({"USER", "CURRENT_USER", "SESSION_USER", "SYSTEM_USER"})


def _default_value(part: list[Token], v: int | None) -> tuple[str | None, int | None]:
    """One DEFAULT value per the reference grammar (ddl.y
    default_clause: a single literal, NULL, or a user special) →
    (rendered value or None for NULL, index after the value)."""
    if v is None:
        raise DialectError("DEFAULT requires a value")
    neg = ""
    if part[v] == ("sym", "-"):
        neg = "-"
        v = _next_code(part, v + 1)
        if v is None:
            raise DialectError("DEFAULT requires a value")
    tok = part[v]
    if tok[0] == "word":
        up = tok[1].upper()
        if up == "NULL":
            return None, _next_code(part, v + 1)
        if up in _USER_SPECIALS:
            return "current_user()", _next_code(part, v + 1)
        if up in ("TRUE", "FALSE", "CURRENT_TIMESTAMP", "CURRENT_DATE"):
            # MySQL word literals/datetime specials; Spark spells them
            # the same.  LOCALTIME(STAMP) and NOW() normalize.
            return up, _next_code(part, v + 1)
        if up in ("LOCALTIME", "LOCALTIMESTAMP", "NOW"):
            n = _next_code(part, v + 1)
            if up == "NOW":  # optional ()
                if n is None or part[n] != ("sym", "("):
                    raise DialectError("DEFAULT NOW requires ()")
                close = _match_paren(part, n)
                n = _next_code(part, close + 1)
            return "CURRENT_TIMESTAMP", n
        raise DialectError(f"unsupported DEFAULT value {tok[1]!r}")
    if tok[0] not in ("number", "string"):
        raise DialectError(f"unsupported DEFAULT value {tok[1]!r}")
    return neg + tok[1], _next_code(part, v + 1)


def _parse_alter(toks: list[Token], i: int) -> dict:
    """ALTER TABLE <name> <action> [, <action>]* — the reference's DDL
    surface (`dbcon/ddlpackage/ddl.y:477-560`): ADD [COLUMN], DROP
    [COLUMN], MODIFY [COLUMN], CHANGE [COLUMN] old new type, RENAME TO,
    RENAME COLUMN old TO new, ALTER [COLUMN] col SET DEFAULT <value> /
    DROP DEFAULT.
    Column options beyond DEFAULT <literal> (NOT NULL, COMMENT, ...) are
    accepted and ignored where harmless or rejected where semantic."""
    j = _next_code(toks, i + 1)
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "TABLE":
        raise DialectError("only ALTER TABLE is supported")
    j = _next_code(toks, j + 1)
    table, j = _expect_ident(toks, j, "table name after ALTER TABLE")
    actions = []
    for part in _split_args(toks[j + 1 :]):
        k = _next_code(part, 0)
        if k is None:
            raise DialectError("empty ALTER action")
        verb = part[k][1].upper() if part[k][0] == "word" else ""

        def skip_col_kw(idx):
            n = _next_code(part, idx)
            if n is not None and part[n][0] == "word" and part[n][1].upper() == "COLUMN":
                n = _next_code(part, n + 1)
            return n

        nxt_word = _next_code(part, k + 1)
        nxt_up = (
            part[nxt_word][1].upper()
            if nxt_word is not None and part[nxt_word][0] == "word"
            else ""
        )
        if verb in ("ADD", "DROP") and nxt_up in (
            "INDEX", "KEY", "UNIQUE", "PRIMARY", "FULLTEXT", "SPATIAL",
            "CONSTRAINT", "FOREIGN",
        ):
            # index/constraint DDL: same rejection as the reference
            # (ha_calpont_ddl.cpp:1862 — no index subsystem)
            raise DialectError(_ERR_NON_SUPPORT_SYNTAX)
        if verb == "RENAME":
            n = _next_code(part, k + 1)
            if n is not None and part[n][0] == "word" and part[n][1].upper() == "COLUMN":
                # RENAME COLUMN old TO new (ddl.y AtaRenameColumn)
                n = _next_code(part, n + 1)
                old, n = _expect_ident(part, n, "column name after RENAME COLUMN")
                n = _next_code(part, n + 1)
                if n is None or part[n][0] != "word" or part[n][1].upper() != "TO":
                    raise DialectError("expected TO in RENAME COLUMN old TO new")
                new, n = _expect_ident(
                    part, _next_code(part, n + 1), "new column name after TO"
                )
                trailing = _next_code(part, n + 1)
                if trailing is not None:
                    raise DialectError(
                        f"unexpected tokens after RENAME COLUMN: "
                        f"{render(part[trailing:]).strip()!r}"
                    )
                actions.append({"op": "rename_column", "old": old, "new": new})
                continue
            if n is not None and part[n][0] == "word" and part[n][1].upper() == "TO":
                n = _next_code(part, n + 1)
            new, _ = _expect_ident(part, n, "new table name after RENAME TO")
            actions.append({"op": "rename_table", "new": new})
        elif verb == "ALTER":
            # ALTER [COLUMN] col SET DEFAULT <value> | DROP DEFAULT
            # (ddl.y AtaSetColumnDefault / AtaDropColumnDefault)
            n = skip_col_kw(k + 1)
            col, n = _expect_ident(part, n, "column name after ALTER COLUMN")
            n = _next_code(part, n + 1)
            word = part[n][1].upper() if n is not None and part[n][0] == "word" else ""
            if word == "DROP":
                n = _next_code(part, n + 1)
                if n is None or part[n][0] != "word" or part[n][1].upper() != "DEFAULT":
                    raise DialectError("expected DEFAULT after ALTER COLUMN ... DROP")
                trailing = _next_code(part, n + 1)
                if trailing is not None:
                    raise DialectError(
                        f"unexpected tokens after DROP DEFAULT: "
                        f"{render(part[trailing:]).strip()!r}"
                    )
                actions.append({"op": "drop_default", "column": col})
            elif word == "SET":
                n = _next_code(part, n + 1)
                if n is None or part[n][0] != "word" or part[n][1].upper() != "DEFAULT":
                    raise DialectError("expected DEFAULT after ALTER COLUMN ... SET")
                default, trailing = _default_value(part, _next_code(part, n + 1))
                if trailing is not None:
                    raise DialectError(
                        f"unexpected tokens after SET DEFAULT value: "
                        f"{render(part[trailing:]).strip()!r}"
                    )
                actions.append(
                    {"op": "set_default", "column": col, "default": default}
                )
            else:
                raise DialectError(
                    "only SET DEFAULT / DROP DEFAULT are supported after ALTER COLUMN"
                )
        elif verb == "ADD":
            n = skip_col_kw(k + 1)
            col, n = _expect_ident(part, n, "column name after ADD")
            typ, n = _parse_mysql_type(part, _next_code(part, n + 1))
            default = None
            while n is not None and n < len(part) and part[n][0] == "word":
                w = part[n][1].upper()
                if w == "DEFAULT":
                    default, n = _default_value(part, _next_code(part, n + 1))
                elif w in ("NULL", "NOT"):  # NOT NULL / NULL accepted, not enforced
                    n = _next_code(part, n + 1)
                elif w == "ENGINE":
                    # trailing ENGINE=InfiniDB table option (examples
                    # corpus) — accepted and ignored like CREATE's
                    n = _next_code(part, n + 1)
                    if n is not None and part[n] == ("sym", "="):
                        n = _next_code(part, n + 1)
                    n = _next_code(part, n + 1) if n is not None else None
                else:
                    raise DialectError(f"unsupported ADD COLUMN option {w}")
            actions.append({"op": "add", "column": col, "type": typ, "default": default})
        elif verb == "DROP":
            n = skip_col_kw(k + 1)
            col, _ = _expect_ident(part, n, "column name after DROP")
            actions.append({"op": "drop", "column": col})
        elif verb == "MODIFY":
            n = skip_col_kw(k + 1)
            col, n = _expect_ident(part, n, "column name after MODIFY")
            typ, _ = _parse_mysql_type(part, _next_code(part, n + 1))
            actions.append({"op": "modify", "column": col, "type": typ})
        elif verb == "CHANGE":
            n = skip_col_kw(k + 1)
            old, n = _expect_ident(part, n, "old column name after CHANGE")
            new, n = _expect_ident(part, _next_code(part, n + 1), "new column name")
            typ, _ = _parse_mysql_type(part, _next_code(part, n + 1))
            actions.append({"op": "change", "old": old, "new": new, "type": typ})
        else:
            raise DialectError(f"unsupported ALTER action {verb}")
    if not actions:
        raise DialectError("ALTER TABLE requires at least one action")
    return {"kind": "alter", "table": table, "actions": actions}


#: the reference's exact unsupported-DDL error text
#: (`dbcon/mysql/ha_calpont_ddl.cpp:1862`, @Bug 1888/1885)
_ERR_NON_SUPPORT_SYNTAX = (
    "The syntax or the data type(s) is not supported by InfiniDB. "
    "Please check the InfiniDB syntax guide for supported syntax or data types."
)


def _strip_on_duplicate(toks: list[Token]) -> list[Token]:
    """Drop a trailing top-level ``ON DUPLICATE KEY UPDATE ...`` clause.

    InfiniDB tables have no unique keys (`ha_calpont.h:129`
    max_supported_keys is nominal; no index subsystem exists), so per
    MySQL's documented semantics the duplicate-key branch can never
    fire and the statement degrades to a plain INSERT — the clause is
    accepted and dropped, like INSERT IGNORE.

    Matched only at paren depth 0 with the four words ADJACENT as code
    tokens (whitespace/comments between, nothing else) — an INSERT ...
    SELECT whose join/where merely mentions columns named duplicate/key
    (``ON a.duplicate = b.key``) must not be truncated."""
    depth = 0
    for i, t in enumerate(toks):
        if t == ("sym", "("):
            depth += 1
        elif t == ("sym", ")"):
            depth -= 1
        elif depth == 0 and t[0] == "word" and t[1].upper() == "ON":
            j = i
            for w in ("DUPLICATE", "KEY", "UPDATE"):
                j = _next_code(toks, j + 1)
                if j is None or toks[j][0] != "word" or toks[j][1].upper() != w:
                    break
            else:
                return toks[:i]
    return toks


def _parse_insert(toks: list[Token], i: int) -> dict:
    toks = _strip_on_duplicate(toks)
    j = _next_code(toks, i + 1)
    # INSERT modifiers: IGNORE is a no-op without unique keys (the
    # reference has none); LOW_PRIORITY/HIGH_PRIORITY/DELAYED are
    # mysqld scheduling hints — all accepted and dropped
    while (
        j is not None
        and toks[j][0] == "word"
        and toks[j][1].upper() in ("IGNORE", "LOW_PRIORITY", "HIGH_PRIORITY", "DELAYED")
    ):
        j = _next_code(toks, j + 1)
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "INTO":
        j = _next_code(toks, j + 1)  # INTO is optional in MySQL
    table, j = _expect_ident(toks, j, "table name after INSERT")
    j = _next_code(toks, j + 1)
    columns: list[str] | None = None
    if j is not None and toks[j] == ("sym", "("):
        close = _match_paren(toks, j)
        first = _next_code(toks, j + 1)
        is_subquery = (
            first is not None
            and toks[first][0] == "word"
            and toks[first][1].upper() == "SELECT"
        )
        if not is_subquery:
            columns = [
                _ident_text(t) for t in toks[j + 1 : close] if t[0] in ("word", "bident")
            ]
            j = _next_code(toks, close + 1)
    if j is None:
        raise DialectError("INSERT without VALUES, SET, or SELECT")
    if toks[j][0] == "word" and toks[j][1].upper() == "SET":
        # MySQL alternative syntax: INSERT INTO t SET a = 1, b = 'x'
        names, values = [], []
        for part in _split_args(toks[j + 1 :]):
            k = _next_code(part, 0)
            col, k = _expect_ident(part, k, "column in INSERT SET")
            eq = _next_code(part, k + 1)
            if eq is None or part[eq] != ("sym", "="):
                raise DialectError(f"INSERT SET {col}: expected '='")
            names.append(col)
            values.append(render(part[eq + 1 :]).strip())
        return {"kind": "insert", "table": table, "columns": names,
                "select_sql": "SELECT * FROM VALUES (" + ", ".join(values) + ")"}
    if toks[j][0] == "word" and toks[j][1].upper() in ("VALUES", "VALUE"):
        select_sql = "SELECT * FROM VALUES " + render(toks[j + 1 :]).strip()
    else:
        select_sql = render(toks[j:]).strip()
    return {"kind": "insert", "table": table, "columns": columns, "select_sql": select_sql}


def _parse_update(toks: list[Token], i: int) -> dict:
    j = _next_code(toks, i + 1)
    while (
        j is not None
        and toks[j][0] == "word"
        and toks[j][1].upper() in ("LOW_PRIORITY", "IGNORE")
    ):
        j = _next_code(toks, j + 1)  # scheduler/dup hints — dropped
    table, j = _expect_ident(toks, j, "table name after UPDATE")
    j = _next_code(toks, j + 1)
    # optional target alias, then optionally a JOIN clause — the
    # SQLCOM_UPDATE_MULTI surface the reference builds plans for
    # (`dbcon/mysql/ha_calpont_execplan.cpp:1076,1842`)
    alias = None
    if (
        j is not None
        and toks[j][0] in ("word", "bident")
        and toks[j][1].upper() not in ("SET", "AS")
        and toks[j][1].upper() not in _JOIN_OPEN_WORDS
        and toks[j][1].upper() not in _UNSUPPORTED_JOIN_WORDS
    ):
        alias = _ident_text(toks[j])
        j = _next_code(toks, j + 1)
    elif j is not None and toks[j][0] == "word" and toks[j][1].upper() == "AS":
        alias, j2 = _expect_ident(toks, _next_code(toks, j + 1), "alias after AS")
        j = _next_code(toks, j2 + 1)
    if (
        j is not None
        and toks[j][0] == "word"
        and toks[j][1].upper() in _UNSUPPORTED_JOIN_WORDS
    ):
        raise DialectError(
            f"multi-table UPDATE does not support {toks[j][1].upper()} JOIN"
        )
    join = None
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() in _JOIN_OPEN_WORDS:
        join_type, jj = _parse_join_type(toks, j)
        other, j = _expect_ident(toks, jj, "table after JOIN")
        j = _next_code(toks, j + 1)
        other_alias = None
        if (
            j is not None
            and toks[j][0] in ("word", "bident")
            and toks[j][1].upper() not in ("ON",)
        ):
            other_alias = _ident_text(toks[j])
            j = _next_code(toks, j + 1)
        if j is None or toks[j][0] != "word" or toks[j][1].upper() != "ON":
            raise DialectError("multi-table UPDATE requires JOIN ... ON")
        on_start = j + 1
        set_i = _top_level_word(toks, "SET")
        if set_i is None or set_i <= on_start:
            raise DialectError("UPDATE without SET")
        t_names = {n for n in (alias, table) if n}
        o_names = {n for n in (other_alias, other) if n}
        on_t, on_o = _parse_join_eq(toks[on_start:set_i], t_names, o_names)
        join = {
            "other": other,
            "on_target": on_t,
            "on_other": on_o,
            "join_type": join_type,
        }
        j = set_i
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "SET":
        raise DialectError("UPDATE without SET")
    tail = toks[j + 1 :]
    if _top_level_word(tail, "LIMIT", "ORDER") is not None:
        raise DialectError("UPDATE ... ORDER BY/LIMIT is not supported")
    # resolve qualifications: target quals strip to bare columns, join-
    # table quals become `_idb_r.<col>` struct-field refs (the matched
    # row the session's join transform exposes)
    t_names = {n for n in (alias, table) if n}
    o_names = (
        {n for n in (join and other_alias, join and other) if n} if join else set()
    )
    tail = _resolve_quals(tail, t_names, o_names)
    where_i = _top_level_word(tail, "WHERE")
    set_toks = tail[:where_i] if where_i is not None else tail
    cond = _where_cond(tail, where_i, "UPDATE")
    where = render(cond).strip() if cond is not None else None
    assignments: dict[str, str] = {}
    for part in _split_args(set_toks):
        k = _next_code(part, 0)
        col, k = _expect_ident(part, k, "column in SET")
        eq = _next_code(part, k + 1)
        if eq is None or part[eq] != ("sym", "="):
            raise DialectError(f"SET {col}: expected '='")
        assignments[col] = render(part[eq + 1 :]).strip()
    st = {"kind": "update", "table": table, "assignments": assignments, "where": where}
    if join is not None:
        st.update(kind="update_join", **join)
    return st


def _resolve_quals(
    ts: list[Token], target_names: set, other_names: set
) -> list[Token]:
    """Rewrite ``alias.col`` qualifications: target-table quals drop to
    bare columns; join-table quals become ``_idb_r.col`` (the matched-
    row struct the session's join transform provides)."""
    out: list[Token] = []
    i = 0
    while i < len(ts):
        t = ts[i]
        if t[0] in ("word", "bident"):
            name = _ident_text(t)
            dot = _next_code(ts, i + 1)
            col_i = _next_code(ts, dot + 1) if dot is not None and ts[dot] == ("sym", ".") else None
            if col_i is not None and ts[col_i][0] in ("word", "bident"):
                if name in target_names:
                    out.append(ts[col_i])
                    i = col_i + 1
                    continue
                if name in other_names:
                    out.extend([("word", "_idb_r"), ("sym", "."), ts[col_i]])
                    i = col_i + 1
                    continue
        out.append(t)
        i += 1
    return out


def _parse_join_eq(
    on_toks: list[Token], target_names: set, other_names: set
) -> tuple[str, str]:
    """``ON a.col = b.col`` → (target_col, other_col).  One equality
    only — the multi-table DML surface is bounded to the single
    equi-join the reference's own scenarios use; richer ON conditions
    raise rather than silently mis-execute."""
    sides = []
    eq_seen = False
    i = 0
    # accept optional wrapping parens (MySQL `on (a.x = b.y)`)
    codes = [k for k, t in enumerate(on_toks) if t[0] not in ("ws", "comment")]
    if (
        len(codes) >= 2
        and on_toks[codes[0]] == ("sym", "(")
        and on_toks[codes[-1]] == ("sym", ")")
    ):
        on_toks = on_toks[codes[0] + 1 : codes[-1]]
    while i < len(on_toks):
        t = on_toks[i]
        if t[0] in ("ws", "comment"):
            i += 1
            continue
        if t == ("sym", "="):
            eq_seen = True
            i += 1
            continue
        if t[0] in ("word", "bident"):
            name = _ident_text(t)
            dot = _next_code(on_toks, i + 1)
            if dot is None or on_toks[dot] != ("sym", "."):
                raise DialectError(
                    "multi-table DML ON condition must use qualified "
                    "columns (alias.col = alias.col)"
                )
            col, k = _expect_ident(
                on_toks, _next_code(on_toks, dot + 1), "column in ON"
            )
            sides.append((name, col))
            i = k + 1
            continue
        raise DialectError(
            "multi-table DML supports a single equality ON condition"
        )
    if not eq_seen or len(sides) != 2:
        raise DialectError(
            "multi-table DML supports a single equality ON condition"
        )
    by = {}
    for name, col in sides:
        if name in target_names:
            by["t"] = col
        elif name in other_names:
            by["o"] = col
        else:
            raise DialectError(f"unknown table qualifier {name!r} in ON")
    if set(by) != {"t", "o"}:
        raise DialectError("ON must join the target to the joined table")
    return by["t"], by["o"]


def _parse_create(toks: list[Token], i: int) -> dict:
    """CREATE TABLE <name> AS <select> / CREATE TABLE <name> (<typed
    column defs>) (DDL grammar analog: `dbcon/ddlpackage/ddl.y:280-296`)
    and CREATE [OR REPLACE] VIEW <name> AS <select> (views are
    first-class in the reference, merged into the plan at translate
    time — `dbcon/mysql/ha_view.cpp`).

    Typed defs support NULL/NOT NULL, DEFAULT <literal>, COMMENT, and
    ignore trailing table options (ENGINE=InfiniDB etc., the form every
    reference script uses).  Index/key constraints are REFUSED — the
    reference engine has no indexes (`dbcon/ddlpackage/`), matching its
    own error behavior."""
    j = _next_code(toks, i + 1)
    or_replace = False
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "OR":
        nxt = _next_code(toks, j + 1)
        if nxt is None or toks[nxt][1].upper() != "REPLACE":
            raise DialectError("expected REPLACE after CREATE OR")
        or_replace = True
        j = _next_code(toks, nxt + 1)
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() in (
        "INDEX", "UNIQUE", "FULLTEXT", "SPATIAL",
    ):
        # the reference rejects index DDL with its standard
        # unsupported-syntax error (ha_calpont_ddl.cpp:1862; the
        # ddl.y index grammar exists but DDLProc refuses it) — no
        # index subsystem, scans + extent elimination instead
        raise DialectError(_ERR_NON_SUPPORT_SYNTAX)
    if j is None or toks[j][0] != "word" or toks[j][1].upper() not in ("TABLE", "VIEW"):
        raise DialectError("only CREATE [OR REPLACE] TABLE/VIEW is supported")
    obj = toks[j][1].upper()
    if obj == "TABLE" and or_replace:
        raise DialectError("CREATE OR REPLACE TABLE is not supported")
    j = _next_code(toks, j + 1)
    table, j = _expect_ident(toks, j, f"name after CREATE {obj}")
    j = _next_code(toks, j + 1)
    if obj == "TABLE" and j is not None and toks[j] == ("sym", "("):
        return _parse_create_typed(toks, j, table)
    if (
        obj == "TABLE"
        and j is not None
        and toks[j][0] == "word"
        and toks[j][1].upper() == "LIKE"
    ):
        src, k = _expect_ident(toks, _next_code(toks, j + 1), "table after LIKE")
        if _next_code(toks, k + 1) is not None:
            raise DialectError("unexpected tokens after CREATE TABLE ... LIKE")
        return {"kind": "create_like", "table": table, "source": src}
    view_cols: list[str] | None = None
    if obj == "VIEW" and j is not None and toks[j] == ("sym", "("):
        # CREATE VIEW v (col1, col2, ...) AS SELECT — the explicit
        # column-name list (the reference's own tpch15.sql uses it:
        # `create view revenue0 (supplier_no, total_revenue) as ...`;
        # ddl.y view grammar line 335)
        close = _match_paren(toks, j)
        view_cols = [
            _ident_text(t) for t in toks[j + 1 : close] if t[0] in ("word", "bident")
        ]
        j = _next_code(toks, close + 1)
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "AS":
        raise DialectError(f"CREATE {obj} requires AS SELECT or a column list")
    select_sql = render(toks[j + 1 :]).strip()
    if obj == "VIEW":
        return {
            "kind": "create_view",
            "table": table,
            "select_sql": select_sql,
            "columns": view_cols,
            "or_replace": or_replace,
        }
    return {"kind": "create", "table": table, "select_sql": select_sql}


_CONSTRAINT_WORDS = frozenset(
    {"PRIMARY", "UNIQUE", "KEY", "INDEX", "FOREIGN", "CONSTRAINT", "CHECK",
     "FULLTEXT", "SPATIAL"}
)


def _parse_create_typed(toks: list[Token], open_i: int, table: str) -> dict:
    """Typed column-definition list of CREATE TABLE."""
    close = _match_paren(toks, open_i)
    columns: list[dict] = []
    for part in _split_args(toks[open_i + 1 : close]):
        k = _next_code(part, 0)
        if k is None:
            raise DialectError("empty column definition")
        if part[k][0] == "word" and part[k][1].upper() in _CONSTRAINT_WORDS:
            raise DialectError(
                f"{part[k][1].upper()} constraints are not supported — the "
                "engine has no indexes (reference behavior: dbcon/ddlpackage)"
            )
        name, k = _expect_ident(part, k, "column name")
        spark_type, k = _parse_mysql_type(part, _next_code(part, k + 1))
        col = {
            "name": name,
            "type": spark_type,
            "nullable": True,
            "default": None,
            "auto_increment": False,
        }
        while k is not None and k < len(part):
            if part[k][0] != "word":
                raise DialectError(f"unexpected token in column def: {part[k][1]!r}")
            w = part[k][1].upper()
            if w == "NOT":
                nxt = _next_code(part, k + 1)
                if nxt is None or part[nxt][1].upper() != "NULL":
                    raise DialectError("expected NULL after NOT")
                col["nullable"] = False
                k = _next_code(part, nxt + 1)
            elif w == "NULL":
                k = _next_code(part, k + 1)
            elif w == "DEFAULT":
                col["default"], k = _default_value(part, _next_code(part, k + 1))
            elif w == "COMMENT":
                v = _next_code(part, k + 1)
                if v is None or part[v][0] != "string":
                    raise DialectError("COMMENT requires a string")
                # the REFERENCE's documented autoincrement form (it
                # rejects MySQL's attribute — ha_calpont_ddl.cpp:1855):
                # COMMENT 'autoincrement[,<start>]'
                # (`dbcon/mysql/ha_autoi.cpp:40-101`; ';' separates a
                # compression segment)
                ai = _parse_autoincrement_comment(_unquote(part[v][1]))
                if ai is not None:
                    if "INT" not in col["type"].upper() and "LONG" not in col["type"].upper():
                        raise DialectError(
                            f"autoincrement requires an integer column "
                            f"({name} is {col['type']})"
                        )
                    col["auto_increment"] = True
                    col["ai_start"] = ai
                k = _next_code(part, v + 1)
            elif w == "AUTO_INCREMENT":
                # ref: cpimport/we_bulkload reserve id ranges from a
                # central counter (writeengine/bulk/cpimport.cpp:102-168);
                # execution analog: operators/dml.py assign_auto_increment
                if "INT" not in col["type"].upper() and "LONG" not in col["type"].upper():
                    raise DialectError(
                        f"AUTO_INCREMENT requires an integer column ({name} is {col['type']})"
                    )
                col["auto_increment"] = True
                k = _next_code(part, k + 1)
            else:
                raise DialectError(f"unsupported column attribute {w}")
        columns.append(col)
    # table options: ENGINE=InfiniDB / DEFAULT CHARSET etc. accepted and
    # ignored; two carry semantics — the reference's table-level
    # COMMENT='autoincrement=<col>[,<start>]' (ha_autoi.cpp
    # parseAutoincrementTableComment) and MySQL's AUTO_INCREMENT=<n>
    # start value
    opts = toks[close + 1 :]
    oi = _next_code(opts, 0)
    compression = None
    ai_start_opt: int | None = None
    while oi is not None:
        t = opts[oi]
        if t[0] == "word" and t[1].upper() == "COMMENT":
            eq = _next_code(opts, oi + 1)
            if eq is not None and opts[eq] == ("sym", "="):
                v = _next_code(opts, eq + 1)
                if v is not None and opts[v][0] == "string":
                    comment = _unquote(opts[v][1])
                    spec = _parse_autoincrement_table_comment(comment)
                    if spec is not None:
                        col_name, start = spec
                        hit = [c for c in columns if c["name"].lower() == col_name.lower()]
                        if not hit:
                            raise DialectError(
                                f"autoincrement comment names unknown column {col_name!r}"
                            )
                        hit[0]["auto_increment"] = True
                        hit[0]["ai_start"] = start
                    # reference COMMENT='compression=N': 0 = none,
                    # 1/2 = snappy-class block compression
                    # (ha_calpont_ddl.cpp:225-258; idbcompress.cpp:29)
                    import re as _re

                    cm = _re.search(
                        r"compression\s*=\s*(\d+)", comment, _re.IGNORECASE
                    )
                    if cm is not None:
                        compression = (
                            "uncompressed" if int(cm.group(1)) == 0 else "snappy"
                        )
                    oi = _next_code(opts, v + 1)
                    continue
        if t[0] == "word" and t[1].upper() == "AUTO_INCREMENT":
            eq = _next_code(opts, oi + 1)
            v = _next_code(opts, eq + 1) if eq is not None else None
            if (
                eq is not None and opts[eq] == ("sym", "=")
                and v is not None and opts[v][0] == "number"
            ):
                # applied AFTER the scan: mysqldump emits
                # AUTO_INCREMENT=N before COMMENT='autoincrement=col',
                # so the flagged column may not exist yet
                ai_start_opt = int(opts[v][1])
                oi = _next_code(opts, v + 1)
                continue
        oi = _next_code(opts, oi + 1)
    if sum(1 for c in columns if c["auto_increment"]) > 1:
        # ERR_INVALID_NUMBER_AUTOINCREMENT analog (ha_calpont_ddl.cpp:816)
        raise DialectError("only one AUTO_INCREMENT column per table (MySQL rule)")
    if ai_start_opt is not None:
        for c in columns:
            if c["auto_increment"]:
                c["ai_start"] = ai_start_opt
    return {
        "kind": "create_typed",
        "table": table,
        "columns": columns,
        "compression": compression,
    }


def _parse_autoincrement_comment(comment: str) -> int | None:
    """Column COMMENT 'autoincrement[,<start>]' → start value (1 when
    omitted), None when the comment is not an autoincrement marker.
    Mirrors `parseAutoincrementColumnComment` (ha_autoi.cpp:101): the
    marker must START a ';'-separated segment (a descriptive comment
    that merely CONTAINS the word is not a marker); a malformed start
    in a genuine marker raises (ERR_INVALID_START_VALUE analog)."""
    import re as _re

    for seg in comment.split(";"):
        m = _re.match(r"\s*autoincrement\s*(?:,\s*(.*))?\s*$", seg, _re.IGNORECASE)
        if m is None:
            continue
        start_txt = (m.group(1) or "").strip()
        if not start_txt:
            return 1
        if not _re.fullmatch(r"\d+", start_txt):
            raise DialectError(
                f"invalid autoincrement start value {start_txt!r}"
            )
        return int(start_txt)
    return None


def _parse_autoincrement_table_comment(comment: str) -> tuple[str, int] | None:
    """Table COMMENT='autoincrement=<col>[,<start>]' →
    (column, start); None when absent.  Mirrors the table-level branch
    of ha_autoi.cpp (parseAutoincrementTableComment); the marker must
    start a ';'-separated segment."""
    import re as _re

    for seg in comment.split(";"):
        m = _re.match(
            r"\s*autoincrement\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:,\s*(.*))?\s*$",
            seg,
            _re.IGNORECASE,
        )
        if m is None:
            continue
        start_txt = (m.group(2) or "").strip()
        if not start_txt:
            return m.group(1), 1
        if not _re.fullmatch(r"\d+", start_txt):
            raise DialectError(
                f"invalid autoincrement start value {start_txt!r}"
            )
        return m.group(1), int(start_txt)
    return None


def _parse_drop_truncate(toks: list[Token], i: int, kind: str) -> dict:
    j = _next_code(toks, i + 1)
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "INDEX":
        raise DialectError(_ERR_NON_SUPPORT_SYNTAX)  # ha_calpont_ddl.cpp:1862
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "VIEW":
        j = _next_code(toks, j + 1)
        if_exists = False
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "IF":
            nxt = _next_code(toks, j + 1)
            if nxt is not None and toks[nxt][1].upper() == "EXISTS":
                if_exists = True
                j = _next_code(toks, nxt + 1)
        view, _ = _expect_ident(toks, j, "view name after DROP VIEW")
        return {"kind": "drop_view", "table": view, "if_exists": if_exists}
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "TABLE":
        j = _next_code(toks, j + 1)
    if_exists = False
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "IF":
        nxt = _next_code(toks, j + 1)
        if nxt is not None and toks[nxt][0] == "word" and toks[nxt][1].upper() == "EXISTS":
            if_exists = True
            j = _next_code(toks, nxt + 1)
    table, j = _expect_ident(toks, j, f"table name after {kind}")
    return {"kind": kind.lower(), "table": table, "if_exists": if_exists}


def _parse_delete(toks: list[Token], i: int) -> dict:
    j = _next_code(toks, i + 1)
    while (
        j is not None
        and toks[j][0] == "word"
        and toks[j][1].upper() in ("LOW_PRIORITY", "QUICK", "IGNORE")
    ):
        j = _next_code(toks, j + 1)  # scheduler hints — dropped
    # multi-table forms (SQLCOM_DELETE_MULTI — the reference plans them
    # through the same SELECT machinery as UPDATE_MULTI):
    #   DELETE <ref>[.*] FROM <target> [alias] JOIN <other> ON ...
    #   DELETE FROM <ref>[.*] USING <target> [alias] JOIN <other> ON ...
    if (
        j is not None
        and toks[j][0] in ("word", "bident")
        and toks[j][1].upper() != "FROM"
    ):
        del_ref = _ident_text(toks[j])
        k = _next_code(toks, j + 1)
        k = _skip_dot_star(toks, k)
        if k is not None and toks[k][0] == "word" and toks[k][1].upper() == "FROM":
            return _parse_delete_join(toks, k, del_ref)
        raise DialectError(
            "expected FROM after the DELETE target reference "
            "(multi-table DELETE form)"
        )
    if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "FROM":
        j = _next_code(toks, j + 1)
    table, j = _expect_ident(toks, j, "table name after DELETE")
    nxt = _skip_dot_star(toks, _next_code(toks, j + 1))
    if nxt is not None and toks[nxt][0] == "word" and toks[nxt][1].upper() == "USING":
        # DELETE FROM t USING t [alias] JOIN o ON ... — route to the
        # join parser with the USING keyword standing in for FROM
        return _parse_delete_join(toks, nxt, table)
    if nxt is not None and not (
        toks[nxt][0] == "word" and toks[nxt][1].upper() == "WHERE"
    ):
        # anything but WHERE here (JOIN, an alias, ...) would silently
        # change which rows die — refuse rather than mis-execute
        raise DialectError(
            f"unexpected {toks[nxt][1]!r} after DELETE FROM {table} — "
            "multi-table DELETE uses 'DELETE t FROM t JOIN ...' or "
            "'DELETE FROM t USING t JOIN ...'"
        )
    tail = toks[j + 1 :]
    if _top_level_word(tail, "LIMIT", "ORDER") is not None:
        raise DialectError("DELETE ... ORDER BY/LIMIT is not supported")
    cond = _where_cond(tail, _top_level_word(tail, "WHERE"), "DELETE")
    where = render(cond).strip() if cond is not None else None
    return {"kind": "delete", "table": table, "where": where}


def _skip_dot_star(toks: list[Token], i: int | None) -> int | None:
    """Skip an optional ``.*`` after a table reference (MySQL's
    ``DELETE t.* FROM ...`` spelling)."""
    if i is not None and toks[i] == ("sym", "."):
        k = _next_code(toks, i + 1)
        if k is not None and toks[k] == ("sym", "*"):
            return _next_code(toks, k + 1)
    return i


#: join-type words that may open a join clause in multi-table DML.
#: LEFT is implemented with real outer semantics (unmatched target rows
#: still qualify, join fields read NULL — MySQL's rule); RIGHT is
#: equivalent to INNER for the TARGET's rows (unmatched target rows do
#: not appear on the preserved side, and NULL-extended rows are not
#: updatable); FULL/CROSS/bare-OUTER/STRAIGHT_JOIN are refused.
_JOIN_OPEN_WORDS = ("JOIN", "INNER", "LEFT", "RIGHT")
_UNSUPPORTED_JOIN_WORDS = ("FULL", "CROSS", "OUTER", "STRAIGHT_JOIN")


def _parse_join_type(toks: list[Token], j: int) -> tuple[str, int]:
    """Consume [INNER|LEFT [OUTER]|RIGHT [OUTER]] JOIN starting at ``j``
    (which must be one of _JOIN_OPEN_WORDS); returns (join_type, index
    after JOIN) with join_type ∈ {'inner', 'left'} (RIGHT folds to
    inner for the target side)."""
    word = toks[j][1].upper()
    jt = "inner"
    if word in ("LEFT", "RIGHT"):
        jt = "left" if word == "LEFT" else "inner"
        j = _next_code(toks, j + 1)
        if j is not None and toks[j][0] == "word" and toks[j][1].upper() == "OUTER":
            j = _next_code(toks, j + 1)
    elif word == "INNER":
        j = _next_code(toks, j + 1)
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "JOIN":
        raise DialectError("expected JOIN in multi-table DML")
    return jt, _next_code(toks, j + 1)


def _parse_delete_join(toks: list[Token], from_i: int, del_ref: str) -> dict:
    """``DELETE t FROM t [alias] JOIN o [alias] ON t.k = o.k [WHERE …]``
    — rows of the TARGET with a join match are deleted (MySQL
    multi-table DELETE, single deleted table)."""
    j = _next_code(toks, from_i + 1)
    table, j = _expect_ident(toks, j, "table name after DELETE ... FROM")
    j = _next_code(toks, j + 1)
    alias = None
    if (
        j is not None
        and toks[j][0] in ("word", "bident")
        and toks[j][1].upper() not in ("WHERE",)
        and toks[j][1].upper() not in _JOIN_OPEN_WORDS
        and toks[j][1].upper() not in _UNSUPPORTED_JOIN_WORDS
    ):
        alias = _ident_text(toks[j])
        j = _next_code(toks, j + 1)
    if (
        j is not None
        and toks[j][0] == "word"
        and toks[j][1].upper() in _UNSUPPORTED_JOIN_WORDS
    ):
        raise DialectError(
            f"multi-table DELETE does not support {toks[j][1].upper()} JOIN"
        )
    if del_ref not in {n for n in (alias, table) if n}:
        raise DialectError(
            f"multi-table DELETE may only delete from the target table "
            f"({del_ref!r} does not name it)"
        )
    if j is None or toks[j][0] != "word" or toks[j][1].upper() not in _JOIN_OPEN_WORDS:
        raise DialectError("multi-table DELETE requires JOIN ... ON")
    join_type, jj = _parse_join_type(toks, j)
    other, j = _expect_ident(toks, jj, "table after JOIN")
    j = _next_code(toks, j + 1)
    other_alias = None
    if j is not None and toks[j][0] in ("word", "bident") and toks[j][1].upper() != "ON":
        other_alias = _ident_text(toks[j])
        j = _next_code(toks, j + 1)
    if j is None or toks[j][0] != "word" or toks[j][1].upper() != "ON":
        raise DialectError("multi-table DELETE requires JOIN ... ON")
    tail = toks[j + 1 :]
    where_i = _top_level_word(tail, "WHERE")
    on_toks = tail[:where_i] if where_i is not None else tail
    t_names = {n for n in (alias, table) if n}
    o_names = {n for n in (other_alias, other) if n}
    on_t, on_o = _parse_join_eq(on_toks, t_names, o_names)
    cond = _where_cond(tail, where_i, "DELETE")
    where = None
    if cond is not None:
        where = render(_resolve_quals(cond, t_names, o_names)).strip()
    return {
        "kind": "delete_join",
        "table": table,
        "other": other,
        "on_target": on_t,
        "on_other": on_o,
        "where": where,
        "join_type": join_type,
    }


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level ``;`` — the mysql
    client batch surface (how the reference's scenario scripts run,
    `utils/scenarios/perf/test/pfSubmitGroupTest.sh` feeding .sql files).
    Tokenizer-based: semicolons inside strings, backtick identifiers,
    and comments never split.  Empty/comment-only statements drop."""
    stmts: list[str] = []
    cur: list[Token] = []
    for tok in tokenize(script):
        if tok == ("sym", ";"):
            if any(t[0] not in ("ws", "comment") for t in cur):
                stmts.append(render(cur).strip())
            cur = []
        else:
            cur.append(tok)
    if any(t[0] not in ("ws", "comment") for t in cur):
        stmts.append(render(cur).strip())
    return stmts


# ------------------------------------------- user variables / prepared

def sql_literal(v) -> str:
    """Render a Python value as a SQL literal (user-variable inlining
    and EXECUTE parameter binding)."""
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex().upper() + "'"
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v}'"
    return _sql_str(str(v))


def substitute_user_vars(toks: list[Token], values: dict) -> list[Token]:
    """Inline ``@name`` references as literals (MySQL user variables;
    undefined variables read as NULL, MySQL's documented behavior).
    String literals / comments / backtick identifiers never touched —
    they are single tokens."""
    out: list[Token] = []
    i = 0
    while i < len(toks):
        if (
            toks[i] == ("sym", "@")
            and i + 1 < len(toks)
            and toks[i + 1] == ("sym", "@")
        ):
            # @@system_var is NOT a user variable — pass through for the
            # statement layer (session substitutes the known ones)
            out.extend(toks[i : i + 3])
            i += 3
        elif (
            toks[i] == ("sym", "@")
            and i + 1 < len(toks)
            and toks[i + 1][0] == "word"
        ):
            out.append(("word", sql_literal(values.get(toks[i + 1][1]))))
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def parse_set_user_var(toks: list[Token]) -> tuple[str, str] | None:
    """``SET @name = <expr>`` → (name, expr_sql); None if not that
    shape (checked BEFORE variable substitution — the lhs must stay a
    name)."""
    i = _next_code(toks, 0)
    if i is None or toks[i][0] != "word" or toks[i][1].upper() != "SET":
        return None
    j = _next_code(toks, i + 1)
    if j is None or toks[j] != ("sym", "@"):
        return None
    k = _next_code(toks, j + 1)
    if k is None or toks[k][0] != "word":
        raise DialectError("expected a variable name after @")
    name = toks[k][1]
    eq = _next_code(toks, k + 1)
    if eq is None or toks[eq] != ("sym", "="):
        raise DialectError("expected = in SET @var")
    expr = render(toks[eq + 1 :]).strip()
    if not expr:
        raise DialectError("SET @var requires an expression")
    return name, expr


def parse_prepared(toks: list[Token]) -> dict | None:
    """PREPARE name FROM '<sql>' / EXECUTE name [USING lit, ...] /
    DEALLOCATE PREPARE name — the mysqld prepared-statement surface
    (server-side text protocol; '?' placeholders bind positionally)."""
    i = _next_code(toks, 0)
    if i is None or toks[i][0] != "word":
        return None
    kw = toks[i][1].upper()
    if kw == "PREPARE":
        name, j = _expect_ident(toks, _next_code(toks, i + 1), "statement name")
        f = _next_code(toks, j + 1)
        if f is None or toks[f][1].upper() != "FROM":
            raise DialectError("expected FROM in PREPARE")
        s = _next_code(toks, f + 1)
        if s is None or toks[s][0] != "string":
            raise DialectError("PREPARE requires a quoted statement string")
        return {"kind": "prepare", "name": name, "sql": _unquote(toks[s][1])}
    if kw == "EXECUTE":
        name, j = _expect_ident(toks, _next_code(toks, i + 1), "statement name")
        u = _next_code(toks, j + 1)
        params: list[str] = []
        if u is not None:
            if toks[u][1].upper() != "USING":
                raise DialectError("expected USING in EXECUTE")
            params = [render(p).strip() for p in _split_args(toks[u + 1 :])]
        return {"kind": "execute_prepared", "name": name, "params": params}
    if kw == "DEALLOCATE":
        j = _next_code(toks, i + 1)
        if j is None or toks[j][1].upper() != "PREPARE":
            raise DialectError("expected PREPARE after DEALLOCATE")
        name, _ = _expect_ident(toks, _next_code(toks, j + 1), "statement name")
        return {"kind": "deallocate", "name": name}
    return None


def bind_placeholders(sql: str, params: list[str]) -> str:
    """Replace '?' placeholders (outside strings/comments) with the
    rendered parameter literals, positionally."""
    toks = tokenize(sql)
    n_ph = sum(1 for t in toks if t == ("sym", "?"))
    if n_ph != len(params):
        raise DialectError(
            f"prepared statement has {n_ph} placeholder(s), {len(params)} given"
        )
    it = iter(params)
    return render(
        [("word", next(it)) if t == ("sym", "?") else t for t in toks]
    )
