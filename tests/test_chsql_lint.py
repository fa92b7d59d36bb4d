"""Source lint: new dialect spellings go through the rewrite primitive,
and new ClickHouse statements go through the engine's statement table.

``chsql._rewrite_calls`` owns the call-site loop every function
spelling used to hand-roll (regex hit, string-literal check, matching
``)``, argument split, splice, resume point). A new spelling is a rule
in one of its ordered tables, not another ``while True:`` loop with its
own ``_call_end`` — so the counts of both in ``chsql.py`` may only go
down. Lower the caps when a change removes sites; raising them needs a
reason a rule table cannot serve.

``Engine.ch_sql`` dispatches every non-query statement through
``engine._STATEMENTS`` — ordered (pattern, handler) entries — so a new
statement is one entry plus one handler, not another hand-rolled
``re.match`` branch, and every handler answers with the one status row
``Engine._status`` builds.

Tables have one storage model: ``ddl.append_rows`` writes every table
(the write-order rule is ``ddl.write_order``) and ``ddl.register_view``
serves it from its spec, so neither a hand-rolled sort before a write
nor a schema-inferring table read in the engine may grow back.

Where a clause ends is answered once, by ``chsql._clauses`` over the
``chsql._CLAUSES`` keyword table; a pass does not carry its own list of
terminator keywords. The subquery walk is ``chsql._each_level``.

A multi-item ARRAY JOIN lowers to one zip generator, never to the
index-arithmetic emulation (``__aj_i``) that re-evaluated each array
per exploded row: checked over the translate corpus.

Worker threads run Spark jobs under the caller's job group, description
and scheduler pool only when their target goes through
``pyspark.util.inheritable_thread_target``; and a micro-batch
dead-letters its rows in one DLQ append.
"""

from __future__ import annotations

import ast
import json
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ed_clickhouse_spark"
CHSQL = PKG / "chsql.py"
ENGINE = CHSQL.with_name("engine.py")
CORPUS = PKG.parent / "tests" / "data" / "translate_corpus.json"
PIPELINE = PKG / "streaming" / "pipeline.py"

# the definition, the primitive, its two trailing-group helpers, the
# level walker, and the splices that read a call's extent
MAX_CALL_END_SITES = 20
# the two primitives (_rewrite_calls, _sub_outside_strings), the
# APPLY/EXCEPT modifier chain, the bracket scan, the inline-alias groups
# and the ORDER BY null-direction pass
MAX_WHILE_TRUE_LOOPS = 6


def test_call_end_sites_do_not_grow():
    n = CHSQL.read_text().count("_call_end(")
    assert n <= MAX_CALL_END_SITES, (
        f"chsql.py has {n} `_call_end(` sites (cap {MAX_CALL_END_SITES}):"
        " add the spelling as a _rewrite_calls rule instead"
    )


def test_while_true_loops_do_not_grow():
    n = CHSQL.read_text().count("while True:")
    assert n <= MAX_WHILE_TRUE_LOOPS, (
        f"chsql.py has {n} `while True:` loops (cap {MAX_WHILE_TRUE_LOOPS}):"
        " add the spelling as a _rewrite_calls rule instead"
    )


# the one left is _ToTableMV's WITH-list scan; statements match through
# the compiled patterns of the statement table
MAX_ENGINE_RE_MATCH_SITES = 1
STATUS_SCHEMA = '"table string, op string, affected long"'


def test_engine_re_match_sites_do_not_grow():
    n = ENGINE.read_text().count("re.match(")
    assert n <= MAX_ENGINE_RE_MATCH_SITES, (
        f"engine.py has {n} `re.match(` sites (cap {MAX_ENGINE_RE_MATCH_SITES}):"
        " add the statement as an engine._STATEMENTS entry instead"
    )


def test_engine_status_schema_written_once():
    n = ENGINE.read_text().count(STATUS_SCHEMA)
    assert n == 1, (
        f"engine.py spells the status schema {n} times:"
        " build status rows with Engine._status"
    )


# ddl.write_order and the Z-order clustering write (sources/zorder.py)
MAX_SORT_WITHIN_PARTITIONS_SITES = 2
# the projection rebuild/backfill base reads, TRUNCATE's schema read
# and CHECK TABLE's readability pass
MAX_ENGINE_PARQUET_READS = 4


def test_sort_within_partitions_sites_do_not_grow():
    sites = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if "suite" not in p.relative_to(PKG).parts
        for i, line in enumerate(p.read_text().splitlines(), start=1)
        if "sortWithinPartitions(" in line
    ]
    assert len(sites) <= MAX_SORT_WITHIN_PARTITIONS_SITES, (
        f"{len(sites)} `sortWithinPartitions(` sites (cap"
        f" {MAX_SORT_WITHIN_PARTITIONS_SITES}): {sites} — order a write"
        " with ddl.write_order"
    )


def test_engine_parquet_reads_do_not_grow():
    n = ENGINE.read_text().count("spark.read.parquet(")
    assert n <= MAX_ENGINE_PARQUET_READS, (
        f"engine.py has {n} `spark.read.parquet(` sites (cap"
        f" {MAX_ENGINE_PARQUET_READS}): serve tables through"
        " ddl.register_view under their spec"
    )


# lines a thread or pool statement may span before its target is named
THREAD_TARGET_WINDOW = 5


def test_threads_inherit_the_callers_spark_properties():
    sites = []
    for p in sorted(PKG.rglob("*.py")):
        lines = p.read_text().splitlines()
        for i, line in enumerate(lines):
            if "ThreadPoolExecutor(" in line or "Thread(" in line:
                window = "\n".join(lines[i : i + THREAD_TARGET_WINDOW])
                if "inheritable_thread_target(" not in window:
                    sites.append(f"{p.relative_to(PKG)}:{i + 1}")
    assert not sites, (
        f"thread sites without inheritable_thread_target: {sites} — wrap"
        " the target so its jobs keep the caller's job group and pool"
    )


def test_process_batch_dead_letters_once():
    src = PIPELINE.read_text()
    fn = next(
        node
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef) and node.name == "process_batch"
    )
    n = ast.get_source_segment(src, fn).count("append_dlq(")
    assert n == 1, (
        f"process_batch has {n} `append_dlq(` call sites: collect the"
        " batch's dead letters and append them once"
    )


def test_multi_item_array_join_is_one_zip_generator():
    from ed_clickhouse_spark.chsql import _clauses, _split_top_commas

    cases = json.loads(CORPUS.read_text())
    leaked = [c["src"] for c in cases if "__aj_i" in c.get("out", "")]
    assert not leaked, f"index-arithmetic ARRAY JOIN in {leaked}"
    multi = []
    for c in cases:
        items = [
            _split_top_commas(c["sql"][body:end])
            for name, _, _, body, end in _clauses(c["sql"])[0]
            if name == "ARRAY JOIN"
        ]
        if len(items) == 1 and len(items[0]) > 1:
            multi.append(c)
    assert multi, "the corpus has no multi-item ARRAY JOIN"
    bad = [c["src"] for c in multi
           if len(re.findall(r"\bLATERAL VIEW\b", c.get("out", ""))) != 1]
    assert not bad, f"multi-item ARRAY JOIN not one generator: {bad}"


def _string_constants(src: str):
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node


# string constants that alternate two or more clause keywords of
# chsql._CLAUSES: the splitter's table spells each keyword in an entry
# of its own. The one left is _PRE_LITERAL_KEYWORDS, the words after
# which ``[`` opens an array literal: a word set, not a clause's end.
MAX_CLAUSE_KEYWORD_LISTS = 1
# the relation probe ``FROM|JOIN`` names where a table follows, not
# where a clause ends: the pair counts as no clause keyword
RELATION_PROBE = {"FROM", "JOIN"}


def _alternated_clause_keywords(text: str, clauses) -> set[str]:
    """The clause names whose keyword is a regex alternation member of
    ``text`` (``|KW`` or ``KW|``, through groups and ``\\b``)."""
    text = re.sub(r"\\s[+*]", " ", text.replace("\\b", ""))
    found = set()
    for name, _, _ in clauses:
        kw = r"\s+".join(name.split())
        for m in re.finditer(rf"(?<![A-Za-z]){kw}(?![A-Za-z])", text):
            before = re.sub(r"(?:\(\?:|\(\?i\)|[(\s])+$", "", text[: m.start()])
            after = re.sub(r"^[)\s]+", "", text[m.end():])
            if before.endswith("|") or after.startswith("|"):
                found.add(name)
    if RELATION_PROBE <= found:
        found -= RELATION_PROBE
    return found


def test_clause_keywords_are_spelled_once():
    """A string constant that alternates two or more clause keywords is
    a hand-written list of clause terminators; where a clause ends is
    chsql._clauses' answer. QUALIFY, the keyword such lists forgot, is
    alternated nowhere."""
    from ed_clickhouse_spark.chsql import _CLAUSES

    src = CHSQL.read_text()
    tree = ast.parse(src)
    table = next(
        node for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "_CLAUSES" for t in node.targets)
    )
    own = {id(node) for node in ast.walk(table)}
    lists, qualify = [], []
    for node in _string_constants(src):
        if id(node) in own:
            continue
        found = _alternated_clause_keywords(node.value, _CLAUSES)
        if len(found) >= 2:
            lists.append(node.lineno)
        if "QUALIFY" in found:
            qualify.append(node.lineno)
    assert len(lists) <= MAX_CLAUSE_KEYWORD_LISTS and not qualify, (
        f"chsql.py alternates clause keywords at lines {lists} (QUALIFY at"
        f" {qualify}): read the clause's end off chsql._clauses instead"
    )


def test_one_subquery_walker():
    """The ``(SELECT|WITH)`` subquery probe appears once, in the level
    walker's pattern, and _each_level is its only reader."""
    src = CHSQL.read_text()
    probes = [
        node.lineno for node in _string_constants(src)
        if re.search(r"\(SELECT\|WITH\)|\(\?:SELECT\|WITH\)", node.value)
    ]
    assert len(probes) == 1, (
        f"chsql.py probes for subqueries at lines {probes}: walk the"
        " levels with chsql._each_level"
    )
    readers = [
        node.name for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.FunctionDef)
        and "_SUBQUERY" in ast.get_source_segment(src, node)
    ]
    assert readers == ["_each_level"], readers
