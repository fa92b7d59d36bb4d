"""Byte-identity corpus for the ClickHouse-dialect translator.

Translates a fixed input set with ``chsql.translate`` (no Spark
session) and records, per input, the emitted SQL or the ``ValueError``
text of a refusal:

  * the 50 ``examples/dashboard.sql`` panels, with the column specs
    ``tests/test_examples.py`` builds (read here with pyarrow from the
    fixture directory given by ``--sf``);
  * the ClickHouse query constants of ``suite/q_dialect.py`` (with the
    DDL spec its query function passes, where it passes one);
  * every string-literal ``translate()`` argument in
    ``tests/test_chsql.py`` (with literal ``specs``/``params``);
  * a fixed-seed ``tools/fuzz_compose.build_query`` set, drawn in the
    same rng order as the fuzzer's own main loop;
  * a fixed list of clause shapes (CLAUSE_SHAPES): where each clause
    ends next to every other clause, the table functions and the
    depth-0 splices, so the clause passes are gated on inputs the
    other sources do not reach.

Each case stores its input, specs and params, so the tier-1 test
(tests/test_translate_corpus.py) replays the file without the fixture
or Spark. Regenerate after a deliberate output change:

    python tools/translate_corpus.py --sf <sf0.001 fixture dir>
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

OUT = os.path.join(ROOT, "tests", "data", "translate_corpus.json")
FUZZ_SEED = 20261017
FUZZ_N = 300
DASH_TABLES = ("events", "documents", "orders", "customer", "lineitem")


def _dashboard_cases(sf: str) -> list[dict]:
    import pyarrow.parquet as pq

    with open(os.path.join(ROOT, "examples", "dashboard.sql")) as f:
        text = f.read()
    # the statement split of tests/test_examples.py:_statements
    body = "\n".join(
        ln for ln in text.splitlines() if not ln.strip().startswith("--")
    )
    stmts = [s.strip() for s in body.split(";") if s.strip()]
    specs = {
        name: pq.read_schema(os.path.join(sf, f"{name}.parquet")).names
        for name in DASH_TABLES
    }
    return [
        {"src": f"dashboard#{i}", "sql": s, "specs": {"columns": specs}}
        for i, s in enumerate(stmts, start=1)
    ]


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return None


def _dialect_cases() -> list[dict]:
    path = os.path.join(ROOT, "ed_clickhouse_spark", "suite", "q_dialect.py")
    tree = ast.parse(open(path).read())
    consts = {}
    for node in tree.body:
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            v = _literal(node.value)
            if isinstance(v, str) and "SELECT" in v.upper():
                consts[node.targets[0].id] = v
    # the DDL spec a query function hands translate(), if any:
    # ``spec = parse_clickhouse_ddl("...")`` + ``translate(Q, {"t": spec})``
    ddl_for = {}
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        ddls = {}
        for node in ast.walk(fn):
            if (isinstance(node, ast.Assign)
                    and isinstance(node.value, ast.Call)
                    and getattr(node.value.func, "id", None)
                    == "parse_clickhouse_ddl"):
                ddls[node.targets[0].id] = _literal(node.value.args[0])
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "translate"
                    and len(node.args) == 2
                    and isinstance(node.args[0], ast.Name)
                    and isinstance(node.args[1], ast.Dict)):
                ddl_for[node.args[0].id] = {
                    _literal(k): ddls[v.id]
                    for k, v in zip(node.args[1].keys, node.args[1].values)
                }
    return [
        {"src": f"q_dialect.{name}", "sql": sql,
         "specs": {"ddl": ddl_for[name]} if name in ddl_for else None}
        for name, sql in consts.items()
    ]


def _test_chsql_cases() -> list[dict]:
    path = os.path.join(ROOT, "tests", "test_chsql.py")
    tree = ast.parse(open(path).read())
    out = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "translate" and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)):
            continue
        specs = _literal(node.args[1]) if len(node.args) > 1 else None
        kw = {k.arg: _literal(k.value) for k in node.keywords}
        specs = kw.get("specs", specs)
        case = {"src": f"test_chsql:{node.lineno}", "sql": node.args[0].value,
                "specs": {"columns": specs} if specs else None}
        if kw.get("params"):
            case["params"] = kw["params"]
        out.append(case)
    return sorted(out, key=lambda c: int(c["src"].split(":")[1]))


# one query level's clauses next to each other; ``t`` has ``x``, ``g``,
# ``a`` and the arrays ``xs``, ``a``/``b`` where an input joins them
CLAUSE_SHAPES = (
    # FETCH, bare OFFSET, WINDOW
    "SELECT x FROM t ORDER BY x OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY",
    "SELECT x FROM t ORDER BY x FETCH FIRST 3 ROWS ONLY",
    "SELECT x FROM t ORDER BY x FETCH FIRST 3 ROWS WITH TIES",
    "SELECT x FROM t ORDER BY x OFFSET 5",
    "SELECT x FROM t PREWHERE a > 1 OFFSET 5",
    "SELECT x FROM t PREWHERE a > 1 WHERE x < 3 ORDER BY x LIMIT 2 OFFSET 1",
    "SELECT x, sum(x) OVER w AS s FROM t WINDOW w AS (ORDER BY x)",
    "SELECT x FROM t PREWHERE a > 1 WINDOW w AS (ORDER BY x)",
    # QUALIFY next to ORDER BY, LIMIT and SETTINGS
    "SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn"
    " FROM t QUALIFY rn = 1 ORDER BY g",
    "SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn"
    " FROM t QUALIFY rn <= 2 LIMIT 5",
    "SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn"
    " FROM t QUALIFY rn = 1 SETTINGS max_threads = 4",
    "SELECT g, x FROM t WHERE x > 0 QUALIFY row_number() OVER"
    " (PARTITION BY g ORDER BY x) = 1 ORDER BY g LIMIT 3",
    # arrayJoin() lifted past each clause
    "SELECT arrayJoin(xs) AS x FROM t WINDOW w AS (ORDER BY x)",
    "SELECT arrayJoin(xs) AS x, row_number() OVER (ORDER BY x) AS rn"
    " FROM t QUALIFY rn = 1",
    "SELECT arrayJoin(xs) AS x FROM t ORDER BY x OFFSET 1",
    "SELECT arrayJoin(xs) AS x FROM t OFFSET 1",
    "SELECT arrayJoin(xs) AS x FROM t WHERE x > 1",
    "SELECT arrayJoin(xs) AS x FROM t PREWHERE g > 1 ORDER BY x",
    "SELECT g, arrayJoin(xs) AS x FROM t GROUP BY g, x HAVING x > 1",
    "SELECT arrayJoin(xs) FROM t LIMIT 2",
    "SELECT arrayJoin([1, 2]) AS x",
    # ARRAY JOIN: chained, LEFT, bare items, next to OFFSET and JOIN
    "SELECT x FROM t ARRAY JOIN xs AS x OFFSET 1",
    "SELECT xs FROM t ARRAY JOIN xs ORDER BY xs OFFSET 2",
    "SELECT x, y FROM t ARRAY JOIN a AS x ARRAY JOIN b AS y",
    "SELECT x, y FROM t LEFT ARRAY JOIN a AS x LEFT ARRAY JOIN b AS y",
    "SELECT x, y FROM t ARRAY JOIN a AS x LEFT ARRAY JOIN b AS y"
    " WHERE y > 1",
    "SELECT x, y FROM t ARRAY JOIN a AS x, b AS y QUALIFY x = y",
    "SELECT x, u.k FROM t ARRAY JOIN xs AS x JOIN u ON t.g = u.g",
    "SELECT x FROM t ARRAY JOIN xs AS x WINDOW w AS (ORDER BY x)",
    # UNION / EXCEPT / INTERSECT branches with their own clauses
    "SELECT a FROM t PREWHERE a > 1 UNION ALL SELECT a FROM u"
    " PREWHERE a < 5",
    "SELECT g, x FROM t ORDER BY x LIMIT 1 BY g UNION ALL"
    " SELECT g, x FROM u ORDER BY x LIMIT 2 BY g",
    "SELECT a FROM t PREWHERE a > 1 UNION DISTINCT SELECT a FROM u",
    "SELECT a FROM t PREWHERE a > 1 EXCEPT SELECT a FROM u",
    "SELECT a FROM t INTERSECT SELECT a FROM u PREWHERE a > 1",
    "SELECT x FROM t ARRAY JOIN xs AS x UNION ALL SELECT y FROM u"
    " ARRAY JOIN ys AS y",
    # LIMIT BY, WITH TOTALS, WITH FILL, LIMIT WITH TIES
    "SELECT g, x FROM t ORDER BY x LIMIT 1 OFFSET 1 BY g",
    "SELECT g, x FROM t ORDER BY x LIMIT 1, 2 BY g LIMIT 10",
    "SELECT g, x FROM t ORDER BY g, x DESC LIMIT 1 BY g SETTINGS a = 1",
    "SELECT g, count() AS c FROM t GROUP BY g WITH TOTALS ORDER BY g",
    "SELECT x, count() AS c FROM t GROUP BY x ORDER BY x WITH FILL"
    " FROM 1 TO 5",
    "SELECT x FROM t ORDER BY x LIMIT 2 WITH TIES",
    # SETTINGS / FORMAT at the end, and as names
    "SELECT x FROM t SETTINGS max_threads = 1 FORMAT JSONEachRow",
    "SELECT x FROM t FORMAT CSV;",
    "SELECT name, value FROM system.settings WHERE name = 'a'",
    "SELECT x AS format FROM t WHERE format > 1 ORDER BY format",
    # table functions and system tables
    "SELECT number FROM numbers(5)",
    "SELECT number FROM numbers(2, 3) WHERE number > 2",
    "SELECT zero FROM zeros(3)",
    "SELECT generate_series FROM generate_series(1, 5, 2)",
    "SELECT * FROM generateSeries(5, 1, -1)",
    "SELECT dummy FROM system.one",
    "SELECT number FROM system.numbers LIMIT 3",
    "SELECT name FROM system.tables AS st WHERE database = 'default'",
    "SELECT * FROM (SELECT number FROM numbers(3)) AS n"
    " JOIN system.one ON 1 = 1",
    "SELECT a FROM view(SELECT a FROM t WHERE a > 1)",
    "SELECT k FROM view(WITH 1 AS k SELECT k) AS v",
    "SELECT * FROM format(JSONEachRow, '{\"a\": 1}') WHERE a > 0",
    "SELECT * FROM format(JSONEachRow, '{\"a\": 1}') f ORDER BY a",
    "SELECT * FROM format(JSONEachRow, '{\"a\": 1}') OFFSET 1",
    "SELECT * FROM format(JSONEachRow, '{\"a\": 1}') QUALIFY a = 1",
    # FINAL, ANY JOIN, star EXCEPT
    "SELECT a FROM t FINAL WHERE a > 1",
    "SELECT a FROM t AS s FINAL PREWHERE a > 1",
    "SELECT a FROM t s FINAL JOIN u FINAL USING (a)",
    "SELECT * FROM a ANY LEFT JOIN b USING (k)",
    "SELECT * FROM a LEFT ANY JOIN b AS bb USING (k, j) WHERE k > 1",
    "SELECT * EXCEPT x FROM t",
    "SELECT * EXCEPT `x` FROM t UNION ALL SELECT * EXCEPT (x) FROM u",
    # nan / inf beside an alias named inf
    "SELECT nan AS a, inf AS b, -inf AS c",
    "SELECT 1 AS inf, inf + 1 AS y",
    "SELECT x FROM t WHERE x < inf AND x > -inf AND s != 'inf'",
    # ranking windows with and without ORDER BY
    "SELECT row_number() OVER () AS rn FROM t",
    "SELECT rank() OVER (PARTITION BY g) AS r FROM t",
    "SELECT dense_rank() OVER (PARTITION BY g ORDER BY x) AS r FROM t",
    "SELECT ntile(4) OVER (PARTITION BY g) AS q, cume_dist() OVER ( )"
    " AS c FROM t",
    "SELECT row_number() OVER w AS rn FROM t WINDOW w AS (ORDER BY x)",
    "SELECT percent_rank() OVER (PARTITION BY g ROWS BETWEEN"
    " UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM t",
    # condition-head rewrites and inline aliases
    "SELECT x FROM t WHERE 1",
    "SELECT g FROM t GROUP BY g HAVING 0",
    "SELECT x FROM t WHERE (x)",
    "SELECT x FROM t WHERE (1) AND x > 0",
    "SELECT x FROM t WHERE 1 AND x > 0 UNION ALL SELECT x FROM u HAVING 1",
    "SELECT (x + 1 AS j) + 1, j * 2 FROM t WHERE j > 0",
    "SELECT x + 1 AS y FROM t WHERE y > 2 ORDER BY y OFFSET 1",
    "SELECT x + 1 AS y FROM t WHERE y > 2 WINDOW w AS (ORDER BY y)",
    # brackets next to escaped quotes and backquoted names
    "SELECT ['a\\\\', 'b'] AS xs",
    "SELECT m['k\\\\'] FROM t",
    "SELECT `x]`[1] FROM t",
    # condition heads under the clauses that wrap the level
    "SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn"
    " FROM t WHERE 1 QUALIFY rn = 1",
    "SELECT g, x FROM t WHERE 1 ORDER BY x LIMIT 1 BY g",
    "SELECT g, x FROM t WHERE (x) ORDER BY x LIMIT 1 BY g",
    "SELECT g, count() AS c FROM t GROUP BY g HAVING 0 QUALIFY c = 1",
    "SELECT DISTINCT ON (g) g, x FROM t WHERE 1 ORDER BY g, x",
    "SELECT x FROM t WHERE (1) ORDER BY x LIMIT 2 WITH TIES",
    "SELECT x, count() AS c FROM t WHERE 1 GROUP BY x ORDER BY x WITH FILL"
    " FROM 1 TO 5",
    # sort keys named like a row limit
    "SELECT offset, x FROM t ORDER BY offset, x",
    "SELECT limit, x FROM t ORDER BY limit, x LIMIT 3",
    "SELECT x, row_number() OVER (ORDER BY offset ROWS BETWEEN UNBOUNDED"
    " PRECEDING AND CURRENT ROW) AS r FROM t",
)


# star expansions resolve one level's FROM against STAR_SPECS
STAR_SPECS = {"t": ["a1", "a2", "b"], "u": ["a1", "c"]}
STAR_SHAPES = (
    "SELECT COLUMNS('^a') FROM t WHERE b > 0",
    "SELECT * APPLY (sum) FROM t GROUP BY b",
    "SELECT * EXCEPT (b) APPLY (max) FROM t WINDOW w AS (ORDER BY b)",
    "SELECT COLUMNS('a') APPLY (max) FROM t, u",
    "SELECT COLUMNS('a') FROM t AS x, u AS y",
    "SELECT * FROM (SELECT COLUMNS('a') FROM t) AS s"
    " WHERE s.a1 IN (SELECT COLUMNS('c') FROM u)",
    "SELECT * APPLY (sum) FROM t PREWHERE b > 0 OFFSET 1",
)


def _clause_shape_cases() -> list[dict]:
    return [
        {"src": f"clause#{i}", "sql": sql, "specs": None}
        for i, sql in enumerate(CLAUSE_SHAPES)
    ] + [
        {"src": f"clause#star{i}", "sql": sql,
         "specs": {"columns": STAR_SPECS}}
        for i, sql in enumerate(STAR_SHAPES)
    ]


def _fuzz_cases() -> list[dict]:
    from fuzz_compose import build_query

    rng = random.Random(FUZZ_SEED)
    out = []
    for q in range(FUZZ_N):
        diff_mode = rng.random() < 0.6
        ch, _ = build_query(rng, diff=diff_mode)
        out.append({"src": f"fuzz#{q}", "sql": ch, "specs": None})
    return out


def build_specs(spec: dict | None):
    """The ``specs`` argument a stored case hands translate()."""
    if not spec:
        return None
    if "columns" in spec:
        return spec["columns"]
    from ed_clickhouse_spark.ddl import parse_clickhouse_ddl

    return {t: parse_clickhouse_ddl(d) for t, d in spec["ddl"].items()}


def run_case(case: dict) -> dict:
    """Translate one stored case: {"out": sql} or {"error": text}."""
    from ed_clickhouse_spark.chsql import translate

    try:
        tr = translate(case["sql"], build_specs(case["specs"]),
                       params=case.get("params"))
    except ValueError as e:
        return {"error": str(e)}
    return {"out": tr.sql, "format": tr.format}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True,
                    help="sf0.001 fixture directory (dashboard column specs)")
    ap.add_argument("--out", default=OUT)
    args = ap.parse_args()
    cases = (_dashboard_cases(args.sf) + _dialect_cases()
             + _test_chsql_cases() + _fuzz_cases() + _clause_shape_cases())
    for case in cases:
        case.update(run_case(case))
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(cases, f, indent=1, ensure_ascii=False)
        f.write("\n")
    n_err = sum("error" in c for c in cases)
    print(f"{len(cases)} cases ({n_err} refusals) -> {args.out}")


if __name__ == "__main__":
    main()
