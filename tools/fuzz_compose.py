"""Composition fuzzer for the ClickHouse-dialect front-end.

The hand-written probe batches (1-87) test spellings mostly in
isolation; every round's ADVICE findings have been COMPOSITION bugs
instead — a function in WHERE position instead of SELECT, an aliased
table function, an Array-variant swallowing two args, a literal rewrite
capturing its own alias. This tool attacks that residual class
directly: it generates random TYPE-CORRECT expression trees from a
table of known signatures, places them in random clause positions with
deliberately hazardous aliases and string literals, and checks two
properties:

  1. DIFFERENTIAL (core pool): the same tree is emitted in both the
     ClickHouse spelling (pushed through chsql.translate -> Spark) and
     the DuckDB spelling; row multisets must match within float
     tolerance. Catches silent wrong-value composition bugs.
  2. EXECUTE-OR-REFUSE (wider CH-only pool): translate() either
     produces SQL that Spark executes, or raises a loud ValueError.
     A non-ValueError from translate(), or a Spark parse/analysis
     error on translated SQL, is a bug (the opaque-failure class).

Usage:
    python tools/fuzz_compose.py --n 300 --seed 1 [--exec-only]
Prints one line per failure and a summary; exit 1 on any failure.
Outside --exec-only, n // 10 differential zipped ARRAY JOIN cases
(build_array_join_query) follow the n trees.
The pytest pin (tests/test_fuzz_compose.py) runs a small fixed-seed
budget of both modes in the suite.
"""

from __future__ import annotations

import argparse
import decimal
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ---------------------------------------------------------------- data

import datetime as _dt

ROWS = [
    # (i, j, f, s, b, arr, d)
    (0, 3, 0.0, "", True, [1, 2, 3], _dt.date(2024, 2, 29)),
    (1, -2, 1.5, "alpha", False, [], _dt.date(2023, 12, 31)),
    (-4, 7, -2.25, "Beta,One", True, [5], _dt.date(2024, 1, 1)),
    (9, 9, 3.75, "if(x,1,2)", False, [0, -1], _dt.date(2024, 7, 15)),
    (-7, 1, -0.5, "AS inf", True, [42, 42], _dt.date(1999, 3, 1)),
    (12, -5, 2.5, "it''s", False, [7, 8, 9, 10], _dt.date(2025, 6, 2)),
    (3, 0, -1.25, "tuple(1) -- c", True, [2], _dt.date(2024, 2, 1)),
    (5, 4, 0.75, "naN", False, [1], _dt.date(2024, 12, 30)),
]

# alias pool: names that have historically been captured by literal /
# function rewrites, plus SQL-keyword-adjacent spellings
ALIASES = [
    "inf", "nan", "format", "range", "key", "value", "end_", "first_",
    "v", "x", "y", "total", "anyx", "ifx", "sumx",
]

STR_LITS = [
    "plain", "a,b(c)", "AS inf", "if(a,b)", "tuple(1)", "x''y",
    "-- not a comment", "1e9", "array(", " intDiv ", "",
    "h\u00e9llo w\u00f6rld", "\u043d\u0430\u0443\u043a\u0430",
]


def esc(s: str) -> str:
    return s.replace("'", "''")


# -------------------------------------------------- expression grammar
#
# Each production returns (ch_sql, duck_sql, typ). duck_sql is None when
# the spelling has no DuckDB twin (execution-only pool). Types: INT,
# FLOAT, STR, BOOL, ARR (array<bigint>). Trees are built top-down with
# a depth budget; leaves are columns or literals.

INT, FLOAT, STR, BOOL, ARR, DATE, MAP = (
    "INT", "FLOAT", "STR", "BOOL", "ARR", "DATE", "MAP")

COLS = {INT: ["i", "j"], FLOAT: ["f"], STR: ["s"], BOOL: ["b"],
        ARR: ["arr"], DATE: ["d"]}

# second table for join shapes: duplicate key 1 (fan-out), unmatched 77
ROWS_U = [
    (0, "zero", 0.5),
    (1, "one", -1.0),
    (1, "uno", 2.5),
    (9, "nine", 3.0),
    (77, "none", 9.9),
]
COLS_U = {STR: ["s2"], FLOAT: ["f2"]}


class Gen:
    def __init__(self, rng: random.Random, diff_only: bool,
                 extra_cols: dict | None = None):
        self.rng = rng
        self.diff_only = diff_only  # restrict to productions with twins
        self.cols = {
            t: COLS[t] + (extra_cols or {}).get(t, []) for t in COLS
        }

    def leaf(self, typ):
        r = self.rng
        if typ == MAP:  # no map column (duck dict params bind STRUCT)
            return ("map('a', 1, 'b', 2)", "MAP {'a': 1, 'b': 2}", MAP)
        if r.random() < 0.55:
            c = r.choice(self.cols[typ])
            return c, c, typ
        if typ == INT:
            v = r.choice([-3, -1, 0, 1, 2, 7, 100])
            return str(v), str(v), INT
        if typ == FLOAT:
            v = r.choice(["0.5", "-1.25", "2.0", "10.75"])
            return v, v, FLOAT
        if typ == STR:
            v = esc(r.choice(STR_LITS))
            return f"'{v}'", f"'{v}'", STR
        if typ == DATE:
            v = r.choice(["2024-02-29", "2023-12-31", "2024-06-15"])
            return f"toDate('{v}')", f"DATE '{v}'", DATE
        if typ == BOOL:
            # CH spells booleans 0/1 as often as true/false; exercise
            # the comparison form so both engines see real booleans
            a, d, _ = self.leaf(INT)
            return f"({a} > 0)", f"({d} > 0)", BOOL
        # ARR literal
        items = [r.choice(["-2", "0", "1", "3", "9"])
                 for _ in range(r.randint(0, 3))]
        body = ", ".join(items)
        if items:
            return f"[{body}]", f"[{body}]", ARR
        # empty literal needs a typed spelling on the duck side
        return "emptyArrayInt64()", "[]::BIGINT[]", ARR

    # (ch_template, duck_template_or_None, result_type, arg_types)
    # templates use {0}, {1}, ...
    PRODS = [
        # arithmetic / numeric
        ("({0} + {1})", "({0} + {1})", INT, (INT, INT)),
        ("({0} - {1})", "({0} - {1})", INT, (INT, INT)),
        ("({0} * {1})", "({0} * {1})", INT, (INT, INT)),
        ("plus({0}, {1})", "({0} + {1})", INT, (INT, INT)),
        ("multiply({0}, {1})", "({0} * {1})", INT, (INT, INT)),
        ("negate({0})", "(-({0}))", INT, (INT,)),
        ("abs({0})", "abs({0})", INT, (INT,)),
        ("greatest({0}, {1})", "greatest({0}, {1})", INT, (INT, INT)),
        ("least({0}, {1})", "least({0}, {1})", INT, (INT, INT)),
        # CH intDiv truncates toward zero (C++ integer division)
        ("intDiv({0}, 7)", "CAST(trunc(({0}) / 7.0) AS BIGINT)", INT, (INT,)),
        ("modulo({0}, 7)", "(CAST({0} AS BIGINT) % 7)", INT, (INT,)),
        ("bitAnd({0}, {1})", "(CAST({0} AS BIGINT) & CAST({1} AS BIGINT))",
         INT, (INT, INT)),
        ("bitOr({0}, {1})", "(CAST({0} AS BIGINT) | CAST({1} AS BIGINT))",
         INT, (INT, INT)),
        ("({0} + {1})", "({0} + {1})", FLOAT, (FLOAT, FLOAT)),
        ("({0} * {1})", "({0} * {1})", FLOAT, (FLOAT, FLOAT)),
        ("abs({0})", "abs({0})", FLOAT, (FLOAT,)),
        ("floor({0})", "floor({0})", FLOAT, (FLOAT,)),
        ("ceil({0})", "ceil({0})", FLOAT, (FLOAT,)),
        ("round({0}, 2)", "round({0}, 2)", FLOAT, (FLOAT,)),
        ("toFloat64({0})", "CAST({0} AS DOUBLE)", FLOAT, (INT,)),
        ("toInt64({0})", "CAST(trunc({0}) AS BIGINT)", INT, (FLOAT,)),
        # string
        ("length({0})", "length({0})", INT, (STR,)),
        ("lower({0})", "lower({0})", STR, (STR,)),
        ("upper({0})", "upper({0})", STR, (STR,)),
        ("reverse({0})", "reverse({0})", STR, (STR,)),
        # duck concat() SKIPS NULLs; CH and Spark propagate — || matches
        ("concat({0}, {1})", "(({0}) || ({1}))", STR, (STR, STR)),
        ("substring({0}, 2, 3)", "substring({0}, 2, 3)", STR, (STR,)),
        ("position({0}, 'a')", "strpos({0}, 'a')", INT, (STR,)),
        ("trimBoth({0})", "trim({0})", STR, (STR,)),
        ("repeat({0}, 2)", "repeat({0}, 2)", STR, (STR,)),
        ("startsWith({0}, 'a')", "starts_with({0}, 'a')", BOOL, (STR,)),
        ("toString({0})", "CAST({0} AS VARCHAR)", STR, (INT,)),
        # conditional / null
        ("if({0}, {1}, {2})", "CASE WHEN {0} THEN {1} ELSE {2} END",
         INT, (BOOL, INT, INT)),
        ("if({0}, {1}, {2})", "CASE WHEN {0} THEN {1} ELSE {2} END",
         STR, (BOOL, STR, STR)),
        ("multiIf({0}, {1}, {2})", "CASE WHEN {0} THEN {1} ELSE {2} END",
         INT, (BOOL, INT, INT)),
        ("coalesce(nullIf({0}, 0), {1})", "coalesce(nullif({0}, 0), {1})",
         INT, (INT, INT)),
        # boolean algebra
        ("({0} AND {1})", "({0} AND {1})", BOOL, (BOOL, BOOL)),
        ("({0} OR {1})", "({0} OR {1})", BOOL, (BOOL, BOOL)),
        ("NOT ({0})", "NOT ({0})", BOOL, (BOOL,)),
        ("({0} = {1})", "({0} = {1})", BOOL, (INT, INT)),
        ("({0} < {1})", "({0} < {1})", BOOL, (INT, INT)),
        ("({0} != {1})", "({0} <> {1})", BOOL, (STR, STR)),
        ("({0} LIKE '%a%')", "({0} LIKE '%a%')", BOOL, (STR,)),
        # arrays (1-based in both engines)
        ("length({0})", "len({0})", INT, (ARR,)),
        ("arraySum({0})", "coalesce(list_sum({0}), 0)", INT, (ARR,)),
        ("arraySort({0})", "list_sort({0})", ARR, (ARR,)),
        ("arrayReverse({0})", "list_reverse({0})", ARR, (ARR,)),
        ("arrayConcat({0}, {1})", "list_concat({0}, {1})", ARR, (ARR, ARR)),
        ("arrayPushBack({0}, {1})", "list_append({0}, CAST({1} AS BIGINT))",
         ARR, (ARR, INT)),
        ("has({0}, {1})", "list_contains({0}, {1})", BOOL, (ARR, INT)),
        ("indexOf({0}, {1})", "coalesce(list_position({0}, {1}), 0)",
         INT, (ARR, INT)),
        ("arraySlice({0}, 1, 2)", "list_slice({0}, 1, 2)", ARR, (ARR,)),
        ("range(3)", "range(0, 3)", ARR, ()),
        # date/time family (CH toDayOfWeek default mode == isodow;
        # addDays through a CAST both sides so DATE vs TIMESTAMP
        # display cannot skew the compare)
        ("toYear({0})", "year({0})", INT, (DATE,)),
        ("toMonth({0})", "month({0})", INT, (DATE,)),
        ("toDayOfMonth({0})", "day({0})", INT, (DATE,)),
        ("toDayOfWeek({0})", "isodow({0})", INT, (DATE,)),
        ("toQuarter({0})", "quarter({0})", INT, (DATE,)),
        ("toStartOfMonth({0})", "CAST(date_trunc('month', {0}) AS DATE)",
         DATE, (DATE,)),
        ("toMonday({0})", "CAST(date_trunc('week', {0}) AS DATE)",
         DATE, (DATE,)),
        ("toLastDayOfMonth({0})", "last_day({0})", DATE, (DATE,)),
        # day count bounded mod 365: an unbounded composed INT overflows
        # the date range (year 168271) in BOTH engines, differently
        ("CAST(addDays({0}, modulo({1}, 365)) AS DATE)",
         "CAST(({0}) + (CAST({1} AS BIGINT) % 365) * INTERVAL 1 DAY"
         " AS DATE)",
         DATE, (DATE, INT)),
        ("dateDiff('day', {0}, {1})", "date_diff('day', {0}, {1})",
         INT, (DATE, DATE)),
        ("formatDateTime({0}, '%Y-%m')", "strftime({0}, '%Y-%m')",
         STR, (DATE,)),
        ("toYYYYMM({0})", "CAST(strftime({0}, '%Y%m') AS BIGINT)",
         INT, (DATE,)),
        ("toString({0})", "CAST({0} AS VARCHAR)", STR, (DATE,)),
        ("greatest({0}, {1})", "greatest({0}, {1})", DATE, (DATE, DATE)),
        ("least({0}, {1})", "least({0}, {1})", DATE, (DATE, DATE)),
        ("if({0}, {1}, {2})", "CASE WHEN {0} THEN {1} ELSE {2} END",
         DATE, (BOOL, DATE, DATE)),
        ("({0} < {1})", "({0} < {1})", BOOL, (DATE, DATE)),
        ("({0} = {1})", "({0} = {1})", BOOL, (DATE, DATE)),
        # map expressions (no map column: dict params insert as STRUCT
        # in duck, so maps compose inline — which also exercises the
        # bracket/subscript rewrites against map access)
        ("map('a', {0}, 'b', {1})", "MAP {{'a': ({0}), 'b': ({1})}}",
         MAP, (INT, INT)),
        ("({0}['a'])", "element_at({0}, 'a')[1]", INT, (MAP,)),
        ("mapValues({0})", "map_values({0})", ARR, (MAP,)),
        ("length(mapKeys({0}))", "len(map_keys({0}))", INT, (MAP,)),
        ("arraySum(mapValues({0}))",
         "coalesce(list_sum(map_values({0})), 0)", INT, (MAP,)),
        ("mapContains({0}, 'a')", "contains(map_keys({0}), 'a')",
         BOOL, (MAP,)),
        # HOFs — the batch-86 class
        ("arrayMap(x -> x + {1}, {0})",
         "list_transform({0}, x -> x + {1})", ARR, (ARR, INT)),
        ("arrayFilter(x -> x > {1}, {0})",
         "list_filter({0}, x -> x > {1})", ARR, (ARR, INT)),
        ("arrayExists(x -> x = {1}, {0})",
         "(len(list_filter({0}, x -> x = {1})) > 0)", BOOL, (ARR, INT)),
        ("arrayCount(x -> x > {1}, {0})",
         "len(list_filter({0}, x -> x > {1}))", INT, (ARR, INT)),
    ]

    # execution-only CH spellings (no duck twin rendered; checked for
    # execute-or-refuse). Arg types still enforced.
    EXEC_PRODS = [
        ("base64Encode({0})", STR, (STR,)),
        ("hex({0})", STR, (STR,)),
        ("cityHash64({0})", INT, (STR,)),
        ("sipHash64({0})", INT, (STR,)),
        ("halfMD5({0})", INT, (STR,)),
        # NOTE: splitByChar returns array<string> — deliberately NOT in
        # the ARR pool (ARR is array<bigint>; feeding strings into
        # arraySum would be a type-invalid query, i.e. a false positive)
        ("length(splitByChar(',', {0}))", INT, (STR,)),
        ("formatReadableSize(abs({0}))", STR, (INT,)),
        ("formatReadableQuantity(abs({0}))", STR, (INT,)),
        ("bitCount({0})", INT, (INT,)),
        ("toTypeName({0})", STR, (INT,)),
        ("emptyArrayInt64()", ARR, ()),
        ("arrayStringConcat(splitByChar(',', {0}), ';')", STR, (STR,)),
        ("lengthUTF8({0})", INT, (STR,)),
        ("leftPad({0}, 8, '*')", STR, (STR,)),
        ("rightPad({0}, 8, '*')", STR, (STR,)),
        ("tupleElement(tuple({0}, {1}), 1)", INT, (INT, INT)),
        ("arrayDistinct({0})", ARR, (ARR,)),
        ("arrayCompact(arraySort({0}))", ARR, (ARR,)),
        ("arrayCumSum({0})", ARR, (ARR,)),
        ("arrayDifference({0})", ARR, (ARR,)),
        ("arrayEnumerate({0})", ARR, (ARR,)),
        ("bitShiftLeft({0}, 2)", INT, (INT,)),
        ("roundToExp2(abs({0}))", INT, (INT,)),
        ("intHash32({0})", INT, (INT,)),
        ("toUInt8OrZero(toString({0}))", INT, (INT,)),
        ("JSONLength('{{\"a\": [1,2]}}')", INT, ()),
        ("domain('https://ex.com/p?q=1')", STR, ()),
        ("path('https://ex.com/p?q=1')", STR, ()),
        ("cutQueryString('https://ex.com/p?q=1')", STR, ()),
        ("IPv4NumToString(abs({0}))", STR, (INT,)),
        ("parseTimeDelta('5m 30s')", FLOAT, ()),
        ("editDistance({0}, 'alpha')", INT, (STR,)),
        ("ngramDistance({0}, 'alpha')", FLOAT, (STR,)),
        # date tails without stable duck twins (mode args, relative
        # nums, week modes) — execute-or-refuse only
        ("monthName({0})", STR, (DATE,)),
        ("toISOWeek({0})", INT, (DATE,)),
        ("toRelativeDayNum({0})", INT, (DATE,)),
        ("toStartOfQuarter({0})", DATE, (DATE,)),
        ("toWeek({0})", INT, (DATE,)),
        ("toYYYYMMDD({0})", INT, (DATE,)),
        ("dateName('month', {0})", STR, (DATE,)),
        ("toDayOfYear({0})", INT, (DATE,)),
    ]

    def expr(self, typ, depth):
        r = self.rng
        if depth <= 0 or r.random() < 0.18:
            return self.leaf(typ)
        pool = [p for p in self.PRODS if p[2] == typ]
        if not self.diff_only:
            pool = pool + [
                (t, None, rt, ats) for (t, rt, ats) in self.EXEC_PRODS
                if rt == typ
            ]
        if not pool:
            return self.leaf(typ)
        ch_t, duck_t, _, arg_types = r.choice(pool)
        args = [self.expr(at, depth - 1) for at in arg_types]
        ch = ch_t.format(*[a[0] for a in args])
        if duck_t is None or any(a[1] is None for a in args):
            duck = None
        else:
            duck = duck_t.format(*[a[1] for a in args])
        return ch, duck, typ


# ----------------------------------------------------- query assembly

AGGS = [
    # (ch_template, duck_template, arg type)
    ("sum({0})", "sum({0})", INT),
    ("min({0})", "min({0})", INT),
    ("max({0})", "max({0})", INT),
    ("min({0})", "min({0})", DATE),
    ("max({0})", "max({0})", DATE),
    ("min({0})", "min({0})", STR),
    ("max({0})", "max({0})", STR),
    ("count()", "count(*)", None),
    ("avg({0})", "avg({0})", FLOAT),
    ("countIf({0})", "count(*) FILTER (WHERE {0})", BOOL),
    ("sumIf({0}, {1})", "sum({0}) FILTER (WHERE {1})", "INT,BOOL"),
    ("uniqExact({0})", "count(DISTINCT {0})", STR),
]


def build_query(rng: random.Random, diff: bool):
    """Returns (ch_sql, duck_sql_or_None). Scalar-typed SELECT over t;
    random WHERE / PREWHERE / alias-in-WHERE; optionally GROUP BY
    (positional or BY-ALIAS) with aggregates + HAVING; optional
    ORDER BY <all outputs> LIMIT (deterministic under the sorted-set
    compare); optional JOIN u (USING form; fan-out + unmatched keys) or
    IN/NOT IN subquery."""
    join = rng.choice(
        ["none", "none", "none", "inner", "left", "any_left",
         "in_sub", "notin_sub"])
    extra = COLS_U if join in ("inner", "left", "any_left") else None
    g = Gen(rng, diff_only=diff, extra_cols=extra)
    from_ch = from_duck = "t"
    if join == "none" and rng.random() < 0.2:
        # derived table with its own condition — exercises the
        # per-nesting-level clause rewrites (incl. PREWHERE inside a
        # subquery, which ClickHouse permits)
        sub = Gen(rng, diff_only=diff)
        sch, sduck, _ = sub.expr(BOOL, 1)
        kw = "PREWHERE" if rng.random() < 0.4 else "WHERE"
        from_ch = f"(SELECT * FROM t {kw} {sch}) AS st"
        from_duck = (f"(SELECT * FROM t WHERE {sduck}) AS st"
                     if sduck else None)
    if join == "inner":
        from_ch = from_duck = "t JOIN u USING (i)"
    elif join == "left":
        from_ch = from_duck = "t LEFT JOIN u USING (i)"
    elif join == "any_left":
        # deterministic one-row-per-key reduce is engine-specific —
        # execute-or-refuse only, no duck twin
        from_ch, from_duck = "t ANY LEFT JOIN u USING (i)", None
    aliases = rng.sample(ALIASES, 6)
    win_idx = -1
    grouped = rng.random() < 0.45
    sel_ch, sel_duck = [], []
    having_ch = having_duck = ""
    if grouped:
        kt = rng.choice([INT, STR, BOOL, DATE])
        kch, kduck, _ = g.expr(kt, rng.randint(0, 2))
        ka = aliases.pop()
        sel_ch.append(f"{kch} AS {ka}")
        sel_duck.append(f"{kduck} AS {ka}" if kduck else None)
        for n in range(rng.randint(1, 3)):
            ch_t, duck_t, at = rng.choice(AGGS)
            a = aliases.pop()
            if at is None:
                ach, aduck = ch_t, duck_t
            elif at == "INT,BOOL":
                e1 = g.expr(INT, 1)
                e2 = g.expr(BOOL, 1)
                ach = ch_t.format(e1[0], e2[0])
                aduck = (duck_t.format(e1[1], e2[1])
                         if e1[1] and e2[1] else None)
            else:
                e = g.expr(at, rng.randint(0, 2))
                ach = ch_t.format(e[0])
                aduck = duck_t.format(e[1]) if e[1] else None
            # CH sum/min/max on Int64 stays integral; duck sum -> HUGEINT
            # — tolerance compare handles it. Cast avg args identically.
            sel_ch.append(f"{ach} AS {a}")
            sel_duck.append(f"{aduck} AS {a}" if aduck else None)
        # CH resolves GROUP BY <alias> (alias preferred); Spark does
        # too — exercise the hazardous-alias spelling half the time
        group_sql = (f" GROUP BY {ka}" if rng.random() < 0.5
                     else " GROUP BY 1")
        if rng.random() < 0.35:
            having_ch = " HAVING count() >= 1"
            having_duck = " HAVING count(*) >= 1"
    else:
        for n in range(rng.randint(1, 4)):
            t = rng.choice([INT, FLOAT, STR, BOOL, DATE])
            ech, educk, _ = g.expr(t, rng.randint(1, 3))
            a = aliases.pop()
            sel_ch.append(f"{ech} AS {a}")
            sel_duck.append(f"{educk} AS {a}" if educk else None)
        if join == "none" and from_ch == "t" and rng.random() < 0.35:
            wch, wduck = window_item(rng, g, aliases.pop())
            win_idx = len(sel_ch)  # window aliases can't go in WHERE
            sel_ch.append(wch)
            sel_duck.append(wduck)
        group_sql = ""

    # WHERE / PREWHERE (CH merges PREWHERE into the scan; duck twin is
    # a plain AND). Ungrouped queries may also REFERENCE a SELECT alias
    # in WHERE (CH prefer-alias semantics — the inliner under test);
    # the duck twin spells the inlined expression.
    conj_ch, conj_duck = [], []
    if join == "in_sub":
        conj_ch.append("i IN (SELECT i FROM u)")
        conj_duck.append("i IN (SELECT i FROM u)")
    elif join == "notin_sub":
        conj_ch.append("i NOT IN (SELECT i FROM u)")
        conj_duck.append("i NOT IN (SELECT i FROM u)")
    if rng.random() < 0.6:
        wch, wduck, _ = g.expr(BOOL, rng.randint(1, 2))
        conj_ch.append(wch)
        conj_duck.append(wduck)
    pre_ch = ""
    if rng.random() < 0.25:
        pch, pduck, _ = g.expr(BOOL, 1)
        pre_ch = f" PREWHERE {pch}"
        conj_duck.append(pduck)
    if not grouped and sel_ch and rng.random() < 0.4:
        # pick a non-boolean-safe alias reference: alias IS NOT NULL
        # works for every type and forces the inliner to fire. Window
        # aliases are excluded — referencing one in WHERE is invalid
        # in ClickHouse too (windows evaluate after WHERE)
        k = rng.randrange(len(sel_ch))
        if k == win_idx:
            k = 0
        a_name = sel_ch[k].rsplit(" AS ", 1)[1]
        a_expr_duck = (sel_duck[k].rsplit(" AS ", 1)[0]
                       if sel_duck[k] else None)
        conj_ch.append(f"{a_name} IS NOT NULL")
        conj_duck.append(f"({a_expr_duck}) IS NOT NULL"
                         if a_expr_duck else None)
    where_ch = f" WHERE {' AND '.join(conj_ch)}" if conj_ch else ""
    duck_ok = all(c is not None for c in conj_duck)
    where_duck = (f" WHERE {' AND '.join(conj_duck)}"
                  if conj_duck and duck_ok else "")

    order_ch = order_duck = ""
    if rng.random() < 0.3:
        # order by ALL outputs (total order at output granularity, so
        # LIMIT is deterministic under the sorted-set compare); random
        # DESC exercises the NULLS-LAST default alignment (CH and duck
        # both sort values, NaN, NULL regardless of direction; Spark
        # needed the explicit directive — see chsql
        # _rewrite_order_by_null_direction)
        names = [s.rsplit(" AS ", 1)[1]
                 + (" DESC" if rng.random() < 0.3 else "")
                 for s in sel_ch]
        order_ch = order_duck = f" ORDER BY {', '.join(names)} LIMIT 5"

    ch = (f"SELECT {', '.join(sel_ch)} FROM {from_ch}{pre_ch}{where_ch}"
          f"{group_sql}{having_ch}{order_ch}")
    if (from_duck is None
            or any(x is None for x in sel_duck)
            or any(c is None for c in conj_duck)):
        return ch, None
    duck = (f"SELECT {', '.join(sel_duck)} FROM {from_duck}{where_duck}"
            f"{group_sql}{having_duck}{order_duck}")
    return ch, duck


# window-function productions: (ch_template, duck_template, arg type
# or None). Emitted over a deterministic spec — PARTITION BY b ORDER BY
# i (i values are unique) — so results are stable; aggregate forms get
# an explicit ROWS frame. lagInFrame is the CH in-frame spelling and
# requires the explicit frame; duck's lag ignores frames entirely.
WINFNS = [
    ("row_number()", "row_number()", None, False),
    ("rank()", "rank()", None, False),
    ("dense_rank()", "dense_rank()", None, False),
    ("count()", "count(*)", None, True),
    ("sum({0})", "sum({0})", INT, True),
    ("min({0})", "min({0})", INT, True),
    ("max({0})", "max({0})", INT, True),
    ("lag({0}, 1, 0)", "lag({0}, 1, 0)", INT, False),
    ("leadInFrame({0}, 1, 0)", "lead({0}, 1, 0)", INT, "frame_ch_only"),
    ("lagInFrame({0}, 1, 0)", "lag({0}, 1, 0)", INT, "frame_ch_only"),
]


def window_item(rng, g, alias):
    ch_t, duck_t, at, framed = WINFNS[rng.randrange(len(WINFNS))]
    if at is None:
        fch, fduck = ch_t, duck_t
    else:
        e = g.expr(at, rng.randint(0, 1))
        fch = ch_t.format(e[0])
        fduck = duck_t.format(e[1]) if e[1] else None
    part = rng.choice(["PARTITION BY b ", ""])
    frame = " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW"
    if framed is True and rng.random() < 0.5:
        spec_ch = spec_duck = f"{part}ORDER BY i{frame}"
    elif framed == "frame_ch_only":
        # CH requires the explicit frame for *InFrame; duck's
        # lag/lead ignore frames
        spec_ch = f"{part}ORDER BY i{frame}"
        spec_duck = f"{part}ORDER BY i"
    else:
        spec_ch = spec_duck = f"{part}ORDER BY i"
    ch = f"{fch} OVER ({spec_ch}) AS {alias}"
    duck = (f"{fduck} OVER ({spec_duck}) AS {alias}"
            if fduck is not None else None)
    return ch, duck


# --------------------------------------------------- zipped ARRAY JOIN
#
# A multi-item [LEFT] ARRAY JOIN walks its arrays in step. DuckDB zips
# the unnest() calls of one SELECT list the same way: shorter arrays pad
# with NULL, and a NULL array counts as empty. LEFT keeps a row whose
# arrays are all empty or NULL, with NULL elements: the engine's OUTER
# spelling (ClickHouse fills the element type's default instead). These
# cases come from their own random stream, so a seed's build_query trees
# do not change.

def _aj_item(g: Gen) -> tuple[str, str]:
    """One ARRAY JOIN item, (ch, duck): a bigint array, sometimes NULL on
    some rows, enumerated, or a string split."""
    r = g.rng.random()
    if r < 0.2:
        c = g.expr(BOOL, 1)
        a = g.expr(ARR, 1)
        return (f"if({c[0]}, {a[0]}, NULL)",
                f"CASE WHEN {c[1]} THEN {a[1]} ELSE NULL END")
    if r < 0.35:
        a = g.expr(ARR, 1)
        return f"arrayEnumerate({a[0]})", f"list_transform({a[1]}, (x, i) -> i)"
    if r < 0.45:
        e = g.expr(STR, 1)
        return f"splitByChar(',', {e[0]})", f"string_split({e[1]}, ',')"
    a = g.expr(ARR, g.rng.randint(0, 2))
    return a[0], a[1]


def build_array_join_query(rng: random.Random) -> tuple[str, str]:
    """(ch_sql, duck_sql): SELECT i and 2-3 zipped items over t, LEFT or
    not, sometimes filtered on the first zipped alias."""
    g = Gen(rng, diff_only=True)
    items = [_aj_item(g) for _ in range(rng.randint(2, 3))]
    names = rng.sample(ALIASES, len(items))
    left = rng.random() < 0.5
    where = f" WHERE {names[0]} IS NOT NULL" if rng.random() < 0.3 else ""
    cols = ", ".join(["i", *names])
    aj = ", ".join(f"{ch} AS {a}" for (ch, _), a in zip(items, names))
    ch = f"SELECT {cols} FROM t {'LEFT ' if left else ''}ARRAY JOIN {aj}{where}"
    zipped = "SELECT i, " + ", ".join(
        f"unnest({d}) AS {a}" for (_, d), a in zip(items, names)) + " FROM t"
    if left:
        # DuckDB's LATERAL cannot see t's columns inside a lambda, so
        # the kept rows are a UNION ALL branch of their own
        empty = " AND ".join(f"coalesce(len({d}), 0) = 0" for _, d in items)
        nulls = ", ".join(f"NULL AS {a}" for a in names)
        zipped += f" UNION ALL SELECT i, {nulls} FROM t WHERE {empty}"
    return ch, f"SELECT {cols} FROM ({zipped}) AS z{where}"


# ------------------------------------------------------------ harness

def norm_rows(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, bool):
                vals.append(int(v))
            elif isinstance(v, decimal.Decimal):
                r6 = round(float(v), 6)
                vals.append(int(r6) if r6.is_integer() else r6)
            elif isinstance(v, float):
                r6 = round(v, 6)
                # integral floats sort/compare as ints so a width
                # difference (CH Int64 vs duck HUGEINT vs DOUBLE)
                # never misaligns the row sort
                vals.append(int(r6) if r6.is_integer() else r6)
            elif isinstance(v, int):
                vals.append(v)
            elif v is None:
                vals.append(None)
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--exec-only", action="store_true",
                    help="only the execute-or-refuse pool (wider fns)")
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()

    import duckdb

    from ed_clickhouse_spark.chsql import translate
    from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases
    from ed_clickhouse_spark.session import get_spark

    spark = get_spark("fuzz_compose", shuffle_partitions=4)
    register_sql_aliases(spark)
    df = spark.createDataFrame(
        ROWS, "i BIGINT, j BIGINT, f DOUBLE, s STRING, b BOOLEAN,"
              " arr ARRAY<BIGINT>, d DATE")
    df.createOrReplaceTempView("t")
    spark.createDataFrame(
        ROWS_U, "i BIGINT, s2 STRING, f2 DOUBLE"
    ).createOrReplaceTempView("u")

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (i BIGINT, j BIGINT, f DOUBLE, s VARCHAR,"
        " b BOOLEAN, arr BIGINT[], d DATE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?, ?)", ROWS)
    con.execute("CREATE TABLE u (i BIGINT, s2 VARCHAR, f2 DOUBLE)")
    con.executemany("INSERT INTO u VALUES (?, ?, ?)", ROWS_U)

    def cases():
        rng = random.Random(args.seed)
        for q in range(args.n):
            diff_mode = (not args.exec_only) and rng.random() < 0.6
            yield (q, *build_query(rng, diff=diff_mode))
        if not args.exec_only:
            aj = random.Random(f"array_join:{args.seed}")
            for q in range(args.n, args.n + max(1, args.n // 10)):
                yield (q, *build_array_join_query(aj))

    fails = []
    n_diff = n_exec = n_refused = n_known = 0
    for q, ch, duck in cases():
        if args.verbose:
            print(f"-- [{q}] {ch}")
        try:
            t = translate(ch)
        except ValueError:
            n_refused += 1
            continue  # loud refusal is a pass
        except Exception as e:  # noqa: BLE001 — crash class
            fails.append((q, ch, f"translate CRASH {type(e).__name__}: {e}"))
            continue
        try:
            got = norm_rows([tuple(r) for r in spark.sql(t.sql).collect()])
        except Exception as e:  # noqa: BLE001
            lines = [ln for ln in str(e).splitlines() if ln.strip()]
            msg = (lines[0] if lines else repr(e))[:300]
            # KNOWN DEVIATION: CH length()/empty() on a BARE array
            # column carries no syntactic type evidence a textual
            # rewriter could use (chsql routes every syntactically
            # evident array to size(); see _arrayish). Counted, not
            # failed.
            if ('resolve "length(' in msg or 'resolve "(length(' in msg
                    ) and "ARRAY" in msg:
                n_known += 1
                continue
            # ANSI overflow is the engine's documented
            # loud-error-over-silent-wrap deviation (CH UInt64 wraps)
            if "ARITHMETIC_OVERFLOW" in msg or "CAST_OVERFLOW" in msg:
                n_known += 1
                continue
            fails.append((q, ch, f"OPAQUE spark error: {msg}"))
            continue
        if duck is None:
            n_exec += 1
            continue
        try:
            want = norm_rows(con.execute(duck).fetchall())
        except Exception as e:  # noqa: BLE001
            # oracle-side rendering gap, not an engine bug — report
            # separately so the pool can be fixed, don't count as fail
            if args.verbose:
                print(f"   [oracle-render gap] {e}")
            n_exec += 1
            continue
        n_diff += 1
        if not rows_match(got, want):
            fails.append((q, ch, f"VALUE MISMATCH\n  spark={got[:4]}\n"
                                 f"  duck ={want[:4]}\n  duckSQL={duck}"))

    print(f"fuzz_compose: n={args.n} diff={n_diff} exec={n_exec}"
          f" refused={n_refused} known_dev={n_known}"
          f" FAILURES={len(fails)}")
    for q, ch, msg in fails:
        print(f"[{q}] {ch}\n    {msg}")
    sys.exit(1 if fails else 0)


def rows_match(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if va is None or vb is None:
                if va is not vb and not (va is None and vb is None):
                    return False
                continue
            if isinstance(va, (int, float)) and isinstance(vb, (int, float)):
                if abs(float(va) - float(vb)) > 1e-6 * max(
                        1.0, abs(float(va)), abs(float(vb))):
                    return False
            elif str(va) != str(vb):
                return False
    return True


if __name__ == "__main__":
    main()
