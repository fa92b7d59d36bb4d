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
    same rng order as the fuzzer's own main loop.

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
             + _test_chsql_cases() + _fuzz_cases())
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
